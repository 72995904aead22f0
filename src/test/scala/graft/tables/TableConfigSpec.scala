package graft.tables

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FsCalls

/** The one table-options codec behind `_graft/config.json`, the
  * `format("graft")` options and the catalog's TBLPROPERTIES, and the one
  * atomic writer of the `_graft` state files:
  *  - every config field round-trips through `config.json`;
  *  - the SQL aliases and every spelling of the table type work at each
  *    entry point, and the catalog keeps `graft.secondaryIndexCols`;
  *  - a bad option value fails with its key named;
  *  - `dropColumns` and `downgradeTable` replace their files by rename,
  *    counted by the metered `file://` filesystem. */
class TableConfigSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val wh = "/tmp/graft_spec/tableconfig_wh"

  private lazy val spark = {
    val d = new java.io.File(wh)
    if (d.exists()) org.apache.commons.io.FileUtils.deleteDirectory(d)
    val s = graft.GraftSession.builder("graft-tableconfig-test", "4")
      .config("spark.sql.catalog.cfgcat", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.cfgcat.warehouse", wh)
      .getOrCreate()
    s.sparkContext.hadoopConfiguration.set("fs.file.impl",
      classOf[graft.sources.CountingLocalFileSystem].getName)
    org.apache.hadoop.fs.FileSystem.closeAll()
    s
  }

  override def afterAll(): Unit = {
    spark.sparkContext.hadoopConfiguration.unset("fs.file.impl")
    org.apache.hadoop.fs.FileSystem.closeAll()
    spark.stop()
  }

  private def data: DataFrame =
    spark.range(100L).selectExpr("id", "cast(id % 5 AS string) AS c", "id AS ts")

  /** The config its table's `config.json` reads back. */
  private def stored(path: String): GraftTableConfig =
    TableProperties.load(spark, path).getOrElse(fail(s"no config.json at $path"))

  test("every config field round-trips through config.json") {
    val cfgs = Seq(
      GraftTableConfig("/tmp/graft_spec/tableconfig_rt1", "o_orderkey", "o_custkey",
        keyGen = TimestampDayPartition("o_orderdate", "p_month", "yyyy-MM"),
        numBuckets = 8, writeChangelog = true, statsCols = Seq("o_totalprice", "o_orderdate"),
        recordIndexBuckets = 4, secondaryIndexCols = Seq("o_orderpriority", "o_clerk")),
      GraftTableConfig("/tmp/graft_spec/tableconfig_rt2", "id", "id",
        keyGen = FieldPartition("region"), tableType = TableType.Mor),
      GraftTableConfig("/tmp/graft_spec/tableconfig_rt3", "id", "ts",
        keyGen = TimestampDayPartition("ts")))
    cfgs.foreach { cfg =>
      TableProperties.save(spark, cfg)
      assert(stored(cfg.path) == cfg)
      GraftTable(spark, cfg).dropIfExists()
    }
  }

  test("a catalog CREATE TABLE keeps graft.secondaryIndexCols: INSERT writes the index") {
    spark.sql("CREATE TABLE cfgcat.si_t (id BIGINT, c STRING, ts BIGINT) USING graft " +
      "TBLPROPERTIES (primaryKey = 'id', 'graft.secondaryIndexCols' = 'c')")
    spark.sql("INSERT INTO cfgcat.si_t SELECT id, cast(id % 5 AS string), id FROM range(100)")
    val path = s"$wh/si_t"
    assert(stored(path).secondaryIndexCols == Seq("c"))
    val instant = Timeline(spark, path).latestInstant().get
    assert(new java.io.File(s"$path/_graft/si/c/$instant").isDirectory,
      "the INSERT wrote no secondary-index entries")
  }

  test("TBLPROPERTIES type = 'MOR' makes a MOR table") {
    spark.sql("CREATE TABLE cfgcat.mor_t (id BIGINT, c STRING, ts BIGINT) USING graft " +
      "TBLPROPERTIES (primaryKey = 'id', preCombineField = 'ts', type = 'MOR')")
    assert(stored(s"$wh/mor_t").tableType == TableType.Mor)
    spark.sql("INSERT INTO cfgcat.mor_t SELECT id, 'a', id FROM range(10)")
    spark.sql("INSERT INTO cfgcat.mor_t SELECT id, 'b', id + 100 FROM range(5)")
    assert(spark.sql("SELECT c, count(*) FROM cfgcat.mor_t GROUP BY c ORDER BY c")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq("a" -> 5L, "b" -> 5L))
  }

  test("graft.type = MERGE_ON_READ through format(\"graft\") writes and reads") {
    val p = "/tmp/graft_spec/tableconfig_ds_mor"
    data.write.format("graft").option("graft.key", "id").option("graft.precombine", "ts")
      .option("graft.type", "MERGE_ON_READ").mode(SaveMode.Overwrite).save(p)
    assert(stored(p).tableType == TableType.Mor)
    data.filter(col("id") < 10).withColumn("c", lit("u")).withColumn("ts", col("ts") + 1000)
      .write.format("graft").mode(SaveMode.Append).save(p)
    val snap = spark.read.format("graft").load(p)
    assert(snap.count() == 100L)
    assert(snap.filter(col("c") === "u").count() == 10L)
    GraftTable(spark, stored(p)).dropIfExists()
  }

  test("mixed-case keys and aliases through format(\"graft\") reach config.json") {
    // Spark hands a source its options in a case-insensitive map that
    // iterates lower-cased keys; the codec must still match them.
    val p = "/tmp/graft_spec/tableconfig_ds_case"
    data.write.format("graft").option("primaryKey", "id").option("preCombineField", "ts")
      .option("graft.statsCols", "c,ts").option("graft.secondaryIndexCols", "c")
      .option("graft.recordIndexBuckets", "4").mode(SaveMode.Overwrite).save(p)
    val cfg = stored(p)
    assert((cfg.keyField, cfg.precombineField) == ("id", "ts"))
    assert(cfg.statsCols == Seq("c", "ts"))
    assert(cfg.secondaryIndexCols == Seq("c"))
    assert(cfg.recordIndexBuckets == 4)
    val q = "/tmp/graft_spec/tableconfig_ds_alias"
    data.write.format("graft").option("graft.key", "id").option("statsCols", "ts")
      .option("recordIndexBuckets", "2").mode(SaveMode.Overwrite).save(q)
    assert(stored(q).statsCols == Seq("ts"))
    assert(stored(q).recordIndexBuckets == 2)
    Seq(p, q).foreach(d => GraftTable(spark, stored(d)).dropIfExists())
  }

  test("a bad option value fails with its key named") {
    val p = "/tmp/graft_spec/tableconfig_bad"
    val buckets = intercept[IllegalArgumentException] {
      data.write.format("graft").option("graft.key", "id").option("graft.buckets", "abc")
        .mode(SaveMode.Overwrite).save(p)
    }
    assert(buckets.getMessage.contains("graft.buckets") && buckets.getMessage.contains("abc"),
      buckets.getMessage)
    val tpe = intercept[IllegalArgumentException] {
      spark.sql("CREATE TABLE cfgcat.bogus_t (id BIGINT) USING graft " +
        "TBLPROPERTIES (primaryKey = 'id', type = 'bogus')")
    }
    assert(tpe.getMessage.contains("graft.type") && tpe.getMessage.contains("bogus"),
      tpe.getMessage)
    assert(!new java.io.File(s"$wh/bogus_t").exists())
  }

  test("dropColumns and downgradeTable replace their state files by rename") {
    val p = "/tmp/graft_spec/tableconfig_rename"
    val t = GraftTable(spark, GraftTableConfig(p, "id", "ts"))
    t.dropIfExists()
    t.insert(data, numFiles = 1)
    def renames(body: => Unit): Long = {
      val before = FsCalls.snapshot()
      body
      FsCalls.delta(before).getOrElse("rename", 0L)
    }
    // dropped.json and schema.json
    assert(renames(t.dropColumns(Seq("c"))) == 2L)
    assert(!t.read().columns.contains("c"))
    // table.properties.json
    assert(renames(assert(TableServices.downgradeTable(t, 0))) == 1L)
    assert(TableServices.tableVersion(t) == 0)
    t.dropIfExists()
  }
}
