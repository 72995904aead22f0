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
