package graft.tables

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the keyed write paths that callers of the public API can
  * rely on, pinned against a plain-DataFrame model:
  *  - duplicate-keyed batches through `upsert` and `deleteByKeys` on a
  *    record-indexed COW table, with enough candidate files that the
  *    record-index tagging path serves the hit probe. The tagging join
  *    trusts its key frame to be key-unique (it carries no distinct of
  *    its own), which holds because upsert precombines and deleteByKeys
  *    dedups before tagging; a duplicate leaking through would show up
  *    here as doubled rows or images;
  *  - duplicate-keyed RowKind changelogs through `applyChangelog`, on the
  *    fused one-commit path of that table (which rides the same tagging)
  *    and on a changelog table, which splits them into a keyed delete and
  *    an upsert;
  *  - a malformed `spark.graft.zorder.pinMaxBytes` fails the z-order
  *    rewrite with the key named, before the table is touched. */
class KeyedWriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.GraftSession
    .builder("graft-keyedwrite-test", "4").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val Cols = Seq("id", "grp", "v", "ts")
  private val BaseRows = 4000L

  private def base: DataFrame = spark.range(BaseRows)
    .selectExpr("id", "id % 10 AS grp", "cast(id AS double) AS v", "0L AS ts")

  /** Rows of `df` over `cols`, sorted — small frames only. */
  private def rows(df: DataFrame, cols: Seq[String] = Cols): Seq[String] =
    df.selectExpr(cols.map(c => s"`$c`"): _*).collect().map(_.mkString("|")).toSeq.sorted

  /** The batch's winner per key: highest `ts` (the precombine field). */
  private def latest(batch: DataFrame): DataFrame =
    batch.withColumn("_rn", row_number().over(Window.partitionBy("id").orderBy(col("ts").desc)))
      .filter(col("_rn") === 1).drop("_rn")

  test("duplicate-keyed upsert and deleteByKeys on the tagged path match a DataFrame model") {
    val root = "/tmp/graft_spec/keyedwrite_dups"
    val t = GraftTable(spark, GraftTableConfig(root, "id", "ts",
      writeChangelog = true, recordIndexBuckets = 4))
    t.dropIfExists()
    t.insert(base, numFiles = 16)
    val live = t.timeline.liveFiles(None)
    assert(live.size == 16)

    // every key twice (the later ts wins), spanning the whole key range
    // plus keys past its end, so every live file stays a candidate after
    // range pruning and the record index tags the batch
    val keys = (0L until BaseRows by 61L) ++ Seq(BaseRows + 1, BaseRows + 3)
    import spark.implicits._
    val upsertBatch = keys.flatMap(k => Seq((k, 7L, -1.0, 1L), (k, k % 10, k * 10 + 0.5, 2L)))
      .toDF(Cols: _*)
    val (lo, hi) = (f"${keys.min}%020d", f"${keys.max}%020d")
    assert(live.count(f => f.minKey <= hi && lo <= f.maxKey) >= 8,
      "the batch must leave at least 8 candidate files for index tagging")

    val before = base
    val i0 = t.timeline.latestInstant().get
    val i1 = t.upsert(upsertBatch)
    val won = latest(upsertBatch)
    val afterUpsert = before.join(won.select("id"), Seq("id"), "left_anti").unionByName(won)
    assert(rows(t.read()) == rows(afterUpsert))
    assert(rows(t.pointLookup(keys)) == rows(afterUpsert.filter(col("id").isin(keys: _*))))
    val matched = before.join(won.select("id"), Seq("id"), "left_semi")
    val upsertImages = matched.withColumn("_change_type", lit("update_preimage"))
      .unionByName(won.join(matched.select("id"), Seq("id"), "left_semi")
        .withColumn("_change_type", lit("update_postimage")))
      .unionByName(won.join(before.select("id"), Seq("id"), "left_anti")
        .withColumn("_change_type", lit("insert")))
    assert(rows(t.cdc(i0, i1), Cols :+ "_change_type") ==
      rows(upsertImages, Cols :+ "_change_type"))

    // every doomed key three times, across the range, including keys the
    // upsert just rewrote and one the table never had
    val doomed = (5L until BaseRows by 67L) ++ Seq(keys(3), BaseRows + 1, 99999L)
    val i2 = t.deleteByKeys((doomed ++ doomed ++ doomed).toDF("id"))
    val afterDelete = afterUpsert.filter(!col("id").isin(doomed: _*))
    assert(rows(t.read()) == rows(afterDelete))
    assert(rows(t.pointLookup(doomed ++ keys)) ==
      rows(afterDelete.filter(col("id").isin(doomed ++ keys: _*))))
    val deleteImages = afterUpsert.filter(col("id").isin(doomed: _*))
      .withColumn("_change_type", lit("delete"))
    assert(rows(t.cdc(i1, i2), Cols :+ "_change_type") ==
      rows(deleteImages, Cols :+ "_change_type"))
    t.dropIfExists()
  }

  test("duplicate-keyed applyChangelog, fused and composed, matches a DataFrame model") {
    import spark.implicits._
    // two or three actions per key, across the whole key range and past
    // its end: the later ts wins, a ts tie goes to the kind that sorts
    // first (+I, then +U, then -D), and -U rows are ignored even when later
    val keys = (0L until BaseRows by 53L) ++ Seq(BaseRows + 2, BaseRows + 5)
    val changes = keys.zipWithIndex.flatMap { case (k, i) =>
      def row(op: String, ts: Long, tag: Double) = (op, k, k % 10, k * 10 + tag, ts)
      i % 5 match {
        case 0 => Seq(row("+I", 1L, 0.1), row("+U", 2L, 0.2))
        case 1 => Seq(row("+U", 1L, 0.1), row("-D", 2L, 0.2))
        case 2 => Seq(row("-D", 2L, 0.1), row("+U", 2L, 0.2))
        case 3 => Seq(row("-D", 1L, 0.1), row("+U", 2L, 0.2), row("-U", 3L, 0.3))
        case _ => Seq(row("+U", 2L, 0.1), row("+I", 2L, 0.2), row("-D", 2L, 0.3))
      }
    }.toDF(("op" +: Cols): _*)

    // model: `latest` over a ts that folds the kind order in as a tie-break
    val kindRank = when(col("op") === "+I", 2).when(col("op") === "+U", 1).otherwise(0)
    val won = latest(changes.filter(col("op") =!= "-U")
        .withColumnRenamed("ts", "ts0").withColumn("ts", col("ts0") * 3 + kindRank))
      .drop("ts").withColumnRenamed("ts0", "ts")
    val deleted = won.filter(col("op") === "-D").select("id")
    val upserted = won.filter(col("op") =!= "-D").select(Cols.map(col): _*)
    val model = base.join(won.select("id"), Seq("id"), "left_anti").unionByName(upserted)
    val images = base.join(deleted, Seq("id"), "left_semi")
      .withColumn("_change_type", lit("delete"))
      .unionByName(base.join(upserted.select("id"), Seq("id"), "left_semi")
        .withColumn("_change_type", lit("update_preimage")))
      .unionByName(upserted.join(base.select("id"), Seq("id"), "left_semi")
        .withColumn("_change_type", lit("update_postimage")))
      .unionByName(upserted.join(base.select("id"), Seq("id"), "left_anti")
        .withColumn("_change_type", lit("insert")))

    // a plain COW table takes the fused one-commit path; a changelog table
    // composes deleteByKeys + upsert so each commit writes its images
    Seq(false -> Seq("changelog"), true -> Seq("delete", "upsert")).foreach {
      case (cdcOn, ops) =>
        val root = s"/tmp/graft_spec/keyedwrite_changelog_$cdcOn"
        val t = GraftTable(spark, GraftTableConfig(root, "id", "ts",
          writeChangelog = cdcOn, recordIndexBuckets = 4))
        t.dropIfExists()
        t.insert(base, numFiles = 16)
        val live = t.timeline.liveFiles(None)
        val (lo, hi) = (f"${keys.min}%020d", f"${keys.max}%020d")
        assert(live.count(f => f.minKey <= hi && lo <= f.maxKey) >= 8,
          "the batch must leave at least 8 candidate files for index tagging")
        val i0 = t.timeline.latestInstant().get
        val i1 = t.applyChangelog(changes, "op", "ts")
        assert(t.timeline.instants().filter(_ > i0).map(t.timeline.readCommit(_).op) == ops)
        assert(rows(t.read()) == rows(model))
        assert(rows(t.pointLookup(keys)) == rows(model.filter(col("id").isin(keys: _*))))
        if (cdcOn)
          assert(rows(t.cdc(i0, i1), Cols :+ "_change_type") ==
            rows(images, Cols :+ "_change_type"))
        t.dropIfExists()
    }
  }

  test("a malformed zorder.pinMaxBytes names the key and leaves the table untouched") {
    val root = "/tmp/graft_spec/keyedwrite_pinmax"
    val t = GraftTable(spark, GraftTableConfig(root, "id", "ts"))
    t.dropIfExists()
    t.insert(base, numFiles = 4)
    val snap = rows(t.read())
    val instants = t.timeline.instants()
    def metaFiles = new java.io.File(s"$root/_graft").list().toSet
    val meta = metaFiles
    val key = "spark.graft.zorder.pinMaxBytes"
    spark.conf.set(key, "4GiB")
    val e = try intercept[IllegalArgumentException](t.clusterZOrder("v", "grp", 2))
      finally spark.conf.unset(key)
    assert(e.getMessage.contains(key) && e.getMessage.contains("4GiB"), e.getMessage)
    assert(rows(t.read()) == snap)
    assert(t.timeline.instants() == instants && metaFiles == meta,
      "a rejected config must not reserve, commit or tombstone an instant")
    t.dropIfExists()
  }
}
