package graft.tables

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** File skipping on every read path: the scan's metadata FileIndex prunes
  * by the filters Catalyst pushes into it, so `read().filter(...)`, SQL
  * through `format("graft")` and the `graft` catalog, and time travel all
  * skip the same files. Files read are counted from the executed scans;
  * results are checked against a plain-DataFrame model, including the two
  * soundness rules: no stats pruning under MOR, and the record index only
  * at the scan's own snapshot. */
class ReadPruningSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private val wh = "/tmp/graft_spec/readprune_wh"

  private lazy val spark = graft.GraftSession.builder("graft-readprune-test", "4")
    .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    .config("spark.sql.catalog.graft.warehouse", wh)
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val Rows = 16000L

  /** `id` is the key; `v` = id, so a layout clustered by id is clustered
    * by v too. */
  private def base: DataFrame =
    spark.range(Rows).selectExpr("id", "cast(id AS double) AS v", "cast(id % 7 AS string) AS s")

  /** 16 files of disjoint key (and v) ranges. */
  private def clustered(root: String, recordIndexBuckets: Int = 0): GraftTable = {
    val t = GraftTable(spark, GraftTableConfig(root, "id", "id",
      statsCols = Seq("v"), recordIndexBuckets = recordIndexBuckets))
    t.dropIfExists()
    t.insert(base, numFiles = 4)
    t.cluster(Seq("id"), numFiles = 16)
    assert(t.timeline.liveFiles(None).size == 16)
    t
  }

  /** Distinct data files the query's file scans read, from the FileScanRDDs
    * under its executed RDD lineage — this also sees the scans inside the
    * relations `format("graft")` and the catalog wrap. */
  private def filesRead(df: DataFrame): Int = {
    def scans(r: RDD[_]): Seq[FileScanRDD] = r match {
      case f: FileScanRDD => Seq(f)
      case other => other.dependencies.flatMap(d => scans(d.rdd))
    }
    scans(df.queryExecution.toRdd)
      .flatMap(_.filePartitions.flatMap(_.files.map(_.filePath.toString))).distinct.size
  }

  /** The "number of files read" metric of the executed FileSourceScanExec. */
  private def scanMetricFiles(df: DataFrame): Long = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .map(_.metrics("numFiles").value).sum
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select("id", "v", "s").collect().map(_.mkString("|")).toSeq.sorted

  private val key: Column = col("id") === 4242L
  private val range: Column = col("v").between(2500.0, 4500.0)

  test("read().filter scans only the files the key or a stats range can hold") {
    val t = clustered("/tmp/graft_spec/readprune_cow")
    assert(scanMetricFiles(t.read().filter(key)) == 1L)
    assert(filesRead(t.read().filter(key)) == 1)
    assert(rows(t.read().filter(key)) == rows(base.filter(key)))
    val overlapping = t.filesBetween("v", 2500.0, 4500.0).size
    assert(overlapping >= 2 && overlapping < 16, s"$overlapping files overlap the range")
    assert(scanMetricFiles(t.read().filter(range)) == overlapping.toLong)
    assert(rows(t.read().filter(range)) == rows(base.filter(range)))
    // the forwarders are the same scan
    assert(filesRead(t.readBetween("v", 2500.0, 4500.0)) == filesRead(t.read().filter(range)))
    assert(filesRead(t.readPruned(Seq(ColBound("id", Some(4242L), Some(4242L))))) ==
      filesRead(t.read().filter(key)))
  }

  test("format(graft) and the graft catalog skip the same files as read().filter") {
    val t = clustered(s"$wh/cow16")
    val overlapping = t.filesBetween("v", 2500.0, 4500.0).size
    val viaFormat = spark.read.format("graft").load(t.cfg.path)
    val viaCatalog = spark.table("graft.cow16")
    val direct = (filesRead(t.read().filter(key)), filesRead(t.read().filter(range)))
    assert(direct == (1, overlapping))
    for (df <- Seq(viaFormat, viaCatalog)) {
      assert((filesRead(df.filter(key)), filesRead(df.filter(range))) == direct)
      assert(rows(df.filter(range)) == rows(base.filter(range)))
    }
    assert(filesRead(spark.sql("SELECT * FROM graft.cow16 WHERE id = 4242")) == direct._1)
  }

  test("time travel prunes and equals the snapshot's model") {
    val t = clustered("/tmp/graft_spec/readprune_asof")
    val i = t.timeline.latestInstant().get
    t.upsert(base.filter(col("id") % 100 === 42).withColumn("v", lit(-1.0)))
    val asOf = t.readAsOf(i).filter(key)
    assert(filesRead(asOf) == 1)
    assert(rows(asOf) == rows(base.filter(key)))
    val viaFormat = spark.read.format("graft").option("asOf", i).load(t.cfg.path).filter(key)
    assert(filesRead(viaFormat) == 1)
    assert(rows(viaFormat) == rows(base.filter(key)))
    // the latest snapshot sees the upsert
    assert(rows(t.read().filter(key)) ==
      rows(base.filter(key).withColumn("v", lit(-1.0))))
  }

  test("MOR with un-compacted deltas: key and stats filters lose no delta version") {
    val t = GraftTable(spark, GraftTableConfig("/tmp/graft_spec/readprune_mor", "id", "id",
      tableType = TableType.Mor, statsCols = Seq("v")))
    t.dropIfExists()
    t.insert(base, numFiles = 4)
    val updated = base.filter(col("id") % 1000 < 20).withColumn("v", col("v") + 100000.0)
    t.upsert(updated)
    val doomed = base.filter(col("id") % 1000 === 30).select("id")
    t.deleteByKeys(doomed)
    val model = base.join(updated.select("id"), Seq("id"), "leftanti")
      .join(doomed, Seq("id"), "leftanti")
      .unionByName(updated)
    val live = t.timeline.liveFiles(None).size
    for (p <- Seq(col("id") === 4010L, col("id") === 4030L, col("id") === 4242L,
        col("v").between(4000.0, 4100.0), col("v") >= 100000.0, range)) {
      assert(rows(t.read().filter(p)) == rows(model.filter(p)), s"diverged on $p")
    }
    // the key filter still skips base files by their bloom filters
    assert(filesRead(t.read().filter(col("id") === 4242L)) < live)
  }

  test("a frame built before an upsert keeps its snapshot on a record-indexed table") {
    val t = clustered("/tmp/graft_spec/readprune_rli", recordIndexBuckets = 4)
    assert(filesRead(t.read().filter(key)) == 1) // the index may serve: same instant
    val before = t.read()
    t.upsert(base.filter(key).withColumn("v", lit(-1.0)))
    assert(rows(before.filter(key)) == rows(base.filter(key)),
      "a scan planned after a later commit must not prune by that commit's index")
    assert(rows(t.read().filter(key)) == rows(base.filter(key).withColumn("v", lit(-1.0))))
  }

  test("a date or double key keeps every file, so key filters and deletes stay exact") {
    val rowsOf = (df: DataFrame) => df.select("k", "v").collect().map(_.mkString("|")).toSeq.sorted
    for ((name, keyExpr, k) <- Seq(
        ("date", "date_add(date'2020-01-01', cast(id AS int))", "date'2020-01-05'"),
        ("double", "cast(id AS double) * 1.5", "6.0"))) {
      val t = GraftTable(spark, GraftTableConfig(s"/tmp/graft_spec/readprune_$name", "k", "k",
        numBuckets = 4))
      t.dropIfExists()
      val data = spark.range(400).selectExpr(s"$keyExpr AS k", "id AS v")
      t.insert(data, numFiles = 4)
      val hit = col("k") === expr(k)
      assert(rowsOf(t.read().filter(hit)) == rowsOf(data.filter(hit)), name)
      assert(rowsOf(data.filter(hit)).size == 1, name)
      t.delete(hit)
      assert(t.read().filter(hit).isEmpty, s"$name: delete missed its row")
      assert(t.read().count() == 399L, name)
    }
  }

  test("a handle that looked before the first write prunes by the key type written later") {
    val cfg = GraftTableConfig("/tmp/graft_spec/readprune_late", "id", "id", numBuckets = 8)
    val early = GraftTable(spark, cfg)
    early.dropIfExists()
    assert(early.lookupFiles(Seq(4242L)).isEmpty)
    GraftTable(spark, cfg).insert(base, numFiles = 4)
    for (k <- Seq(1L, 42L, 999L, 4242L, 7777L)) {
      val hit = col("id") === k
      assert(early.lookupFiles(Seq(k)).nonEmpty, s"key $k")
      assert(rows(early.read().filter(hit)) == rows(base.filter(hit)), s"key $k")
      assert(rows(early.pointLookup(Seq(k))) == rows(base.filter(hit)), s"key $k")
    }
  }

  test("bucketFor hashes an int key as the long key column, and a string key") {
    val t = GraftTable(spark, GraftTableConfig("/tmp/graft_spec/readprune_bucket", "id", "id",
      numBuckets = 8))
    t.dropIfExists()
    t.insert(base, numFiles = 1)
    for (k <- Seq(1, 42, 999)) {
      val b = t.bucketFor(k)
      val engine = spark.range(k.toLong, k.toLong + 1)
        .select(pmod(xxhash64(col("id")), lit(8))).head().getLong(0)
      assert(b == engine && b == t.bucketFor(k.toLong), s"key $k")
      val files = t.lookupFiles(Seq(k))
      assert(files.nonEmpty && files.forall(_.bucket == b), s"key $k in ${files.map(_.bucket)}")
    }
    val s = GraftTable(spark, GraftTableConfig("/tmp/graft_spec/readprune_bucket_str", "k", "k",
      numBuckets = 8))
    s.dropIfExists()
    s.insert(base.selectExpr("concat('k-', id) AS k", "v"), numFiles = 1)
    for (k <- Seq("k-1", "k-42", "k-999")) {
      val b = s.bucketFor(k)
      val engine = spark.range(1).select(pmod(xxhash64(lit(k)), lit(8))).head().getLong(0)
      assert(b == engine, s"key $k")
      val files = s.lookupFiles(Seq(k))
      assert(files.nonEmpty && files.forall(_.bucket == b), s"key $k in ${files.map(_.bucket)}")
    }
  }
}
