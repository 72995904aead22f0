package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The format("graft") DataFrame surface — the drop-in equivalent of the
  * reference's format("hudi") flow (write upsert batches, read snapshots /
  * time travel / incremental / CDC via options). */
class SourcesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = GraftSession.builder("graft-test", "4").getOrCreate()
  private val sfDir = "/root/testdata/sf0.001"
  private val path = "/tmp/graft_spec/ds_orders"

  override def afterAll(): Unit = spark.stop()

  private def orders = GraftSession.table(spark, sfDir, "orders")

  test("format(graft) round trip: overwrite, upsert batch, snapshot read") {
    orders.write.format("graft")
      .option("graft.key", "o_orderkey")
      .mode(SaveMode.Overwrite).save(path)

    val batch = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_orderstatus", lit("U"))
    batch.write.format("graft")
      .option("graft.key", "o_orderkey")
      .mode(SaveMode.Append).save(path)

    val snap = spark.read.format("graft").load(path)
    assert(snap.count() == orders.count())
    assert(snap.filter(col("o_orderstatus") === "U").count() == batch.count())
  }

  test("read options: asOf time travel and incremental") {
    val asOf1 = spark.read.format("graft").option("asOf", "000000001").load(path)
    assert(asOf1.filter(col("o_orderstatus") === "U").count() == 0)
    // wall-clock time travel: NOW resolves to the latest commit
    val asOfNow = spark.read.format("graft")
      .option("asOfTimestamp", System.currentTimeMillis().toString).load(path)
    assert(asOfNow.filter(col("o_orderstatus") === "U").count() > 0)
    val inc = spark.read.format("graft").option("begin", "000000001").load(path)
    assert(inc.count() == orders.filter(col("o_orderkey") % 10 === 0).count())
    assert(inc.filter(col("o_orderstatus") =!= "U").count() == 0)
  }

  test("cdc read option surfaces change images") {
    val p2 = "/tmp/graft_spec/ds_cdc"
    orders.write.format("graft")
      .option("graft.key", "o_orderkey").option("graft.changelog", "true")
      .mode(SaveMode.Overwrite).save(p2)
    orders.limit(50).withColumn("o_totalprice", col("o_totalprice") + 1)
      .write.format("graft")
      .option("graft.key", "o_orderkey").option("graft.changelog", "true")
      .mode(SaveMode.Append).save(p2)
    val cdc = spark.read.format("graft")
      .option("begin", "000000001").option("cdc", "true")
      .option("graft.changelog", "true").load(p2)
    val types = cdc.select("_change_type").distinct().collect().map(_.getString(0)).toSet
    assert(types == Set("update_preimage", "update_postimage"))
    assert(cdc.count() == 100)
  }

  test("filters and projection survive the source boundary (pushdown inside the plan)") {
    val p3 = "/tmp/graft_spec/ds_part"
    orders.write.format("graft")
      .option("graft.key", "o_orderkey").option("graft.partition", "o_orderpriority")
      .mode(SaveMode.Overwrite).save(p3)
    val q = spark.read.format("graft").load(p3)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_orderpriority")
    val want = orders.filter(col("o_orderpriority") === "1-URGENT").count()
    assert(q.count() == want)
    assert(q.columns.toSeq == Seq("o_orderkey", "o_orderpriority"))
  }

  test("pushed filters file-prune snapshot reads without changing results") {
    val p = "/tmp/graft_spec/ds_pruned"
    val events = GraftSession.table(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type", "value")
    events.write.format("graft")
      .option("graft.key", "event_id")
      .option("graft.statsCols", "value")
      .mode(SaveMode.Overwrite).save(p)
    // cluster by value so stats pruning has an effect, through the table API
    graft.tables.GraftTable(spark, graft.tables.TableProperties
      .load(spark, p).get).cluster(Seq("value"), numFiles = 8)

    val snap = spark.read.format("graft").load(p)
    // range filter on the stats column: pruned read == plain filter
    val got = snap.filter(col("value").between(50.0, 60.0))
      .orderBy("event_id").collect()
    val want = events.filter(col("value").between(50.0, 60.0))
      .orderBy("event_id").collect()
    assert(got.sameElements(want))
    // key equality (range + bloom pruning) and IN-set
    assert(snap.filter(col("event_id") === 42L).count() ==
      events.filter(col("event_id") === 42L).count())
    assert(snap.filter(col("event_id").isin(1L, 7L, 42L)).count() ==
      events.filter(col("event_id").isin(1L, 7L, 42L)).count())
    // a filter no metadata can answer still returns exact results
    assert(snap.filter(col("event_type") === "click").count() ==
      events.filter(col("event_type") === "click").count())
  }

  test("readStream.format(graft) tails the commit timeline incrementally") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val p5 = "/tmp/graft_spec/ds_stream"
    // two commits before the stream starts
    orders.limit(200).write.format("graft")
      .option("graft.key", "o_orderkey").mode(SaveMode.Overwrite).save(p5)
    val upd = orders.limit(50).withColumn("o_orderstatus", lit("U"))
    upd.write.format("graft")
      .option("graft.key", "o_orderkey").mode(SaveMode.Append).save(p5)

    val stream = spark.readStream.format("graft").load(p5)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("graft_tail")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("graft_tail")
    // initial batch = incremental(0 -> head) = full latest snapshot
    assert(got.count() == 200)
    assert(got.filter(col("o_orderstatus") === "U").count() == 50)

    // restart from the same checkpoint after a new commit: only the
    // increment is delivered (offsets are commit instants). Memory sink
    // can't recover checkpoints, so use a file sink.
    val cp = java.nio.file.Files.createTempDirectory("graft_tail_cp").toString
    val out = java.nio.file.Files.createTempDirectory("graft_tail_out").toString
    def runOnce(): Unit = {
      val qq = spark.readStream.format("graft").load(p5)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      qq.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(out).count() == 200)
    orders.limit(230).filter(col("o_orderkey") >= 200) // 30 brand-new keys
      .write.format("graft")
      .option("graft.key", "o_orderkey").mode(SaveMode.Append).save(p5)
    runOnce()
    assert(spark.read.parquet(out).count() == 230) // only the 30 new arrived
  }

  test("readStream with graft.cdc streams change images per commit") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.tables.{GraftTable, GraftTableConfig}
    val p = "/tmp/graft_spec/ds_cdc_stream"
    val tbl = GraftTable(spark, GraftTableConfig(
      p, "o_orderkey", "o_orderkey", writeChangelog = true))
    tbl.dropIfExists()
    tbl.insert(orders.limit(100), numFiles = 2)
    tbl.upsert(orders.limit(20).withColumn("o_orderstatus", lit("U")))
    tbl.delete(col("o_orderkey") === 1L)
    tbl.compact(targetRows = 1000000L) // change-free commit: empty batch, no error

    val q = spark.readStream.format("graft")
      .option("graft.cdc", "true").load(p)
      .writeStream.format("memory").queryName("graft_cdc_tail")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("graft_cdc_tail")
    // same images the batch CDC read yields over the full range
    val want = tbl.cdc(graft.tables.Timeline.pad(0), graft.tables.Timeline.MaxInstant)
    assert(got.count() == want.count())
    assert(got.filter(col("_change_type") === "insert").count() == 100)
    assert(got.filter(col("_change_type") === "update_postimage").count() == 20)
    assert(got.filter(col("_change_type") === "delete").count() == 1)
  }

  test("Trigger.AvailableNow caps the stream at the head seen when the query starts") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    import graft.sources.GraftStreamSource
    import graft.tables.{GraftTable, GraftTableConfig}
    val p = "/tmp/graft_spec/ds_available_now"
    val tbl = GraftTable(spark, GraftTableConfig(p, "o_orderkey", "o_orderkey"))
    tbl.dropIfExists()
    val first = tbl.insert(orders.limit(50))
    val src = new GraftStreamSource(spark, tbl.cfg, tbl.read().schema)
    assert(src.getDefaultReadLimit == ReadLimit.allAvailable())
    src.prepareForTriggerAvailableNow()
    val capped = src.latestOffset(null, src.getDefaultReadLimit)
    assert(capped == LongOffset(first.toLong))

    // a commit after the query started does not move the capped offset
    val second = tbl.upsert(orders.limit(10).withColumn("o_orderstatus", lit("U")))
    assert(second > first)
    assert(src.latestOffset(capped, src.getDefaultReadLimit) == capped)
    // an uncapped source sees the new head
    val live = new GraftStreamSource(spark, tbl.cfg, tbl.read().schema)
    assert(live.latestOffset(null, live.getDefaultReadLimit) == LongOffset(second.toLong))
    assert(live.getOffset.contains(LongOffset(second.toLong)))
    tbl.dropIfExists()
  }

  test("writeStream.format(graft): native sink upserts micro-batches exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.tables.{GraftTable, GraftTableConfig}
    val in = java.nio.file.Files.createTempDirectory("graft_sink_in").toString
    val out = "/tmp/graft_spec/native_sink"
    val cp = java.nio.file.Files.createTempDirectory("graft_sink_cp").toString
    val tbl = GraftTable(spark, GraftTableConfig(out, "o_orderkey", "o_orderkey"))
    tbl.dropIfExists()

    def runOnce(): Unit = {
      val q = spark.readStream.schema(orders.schema).parquet(in)
        .writeStream.format("graft")
        .option("graft.key", "o_orderkey")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start(out)
      q.awaitTermination()
    }

    orders.limit(100).write.mode("append").parquet(in)
    runOnce()
    assert(tbl.read().count() == 100)

    // wave 2: 20 updates + 30 new keys upsert through the sink
    orders.limit(150).filter(col("o_orderkey") >= 120 || col("o_orderkey") < 20)
      .withColumn("o_orderstatus", lit("S"))
      .write.mode("append").parquet(in)
    runOnce()
    assert(tbl.read().count() == 130)
    assert(tbl.read().filter(col("o_orderstatus") === "S").count() === 50)

    // exactly-once: the batch id rode the commit; a manual replay of an
    // already-applied id is recognized and skipped (no duplicate commit)
    val commits = tbl.timeline.instants()
    val lastMeta = tbl.timeline.readCommit(commits.last).meta
    assert(lastMeta.get("streaming.batchId").exists(_.toLong >= 0))
    runOnce() // no new data: no new commits either
    assert(tbl.timeline.instants() == commits)
  }

  test("streaming CDC chain: a downstream replica follows upserts AND deletes") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    import graft.tables.{GraftTable, GraftTableConfig}
    val p = "/tmp/graft_spec/cdc_chain_src"
    val src = GraftTable(spark, GraftTableConfig(
      p, "o_orderkey", "o_orderkey", writeChangelog = true))
    src.dropIfExists()
    val dst = GraftTable(spark, GraftTableConfig(
      "/tmp/graft_spec/cdc_chain_dst", "o_orderkey", "o_orderkey"))
    dst.dropIfExists()
    val cp = java.nio.file.Files.createTempDirectory("graft_cdc_chain_cp").toString

    // CDC images → RowKind changelog apply: inserts land, postimages update,
    // deletes erase; preimages are informational and dropped. `_commit`
    // sequences same-key images across the commits one batch may span; the
    // replica keeps it as provenance (the _hoodie_commit_seqno idea). This
    // is the Hudi2Hudi CDC chaining flow (downstream incl. hard deletes).
    def followOnce(): Unit = {
      val q = spark.readStream.format("graft").option("graft.cdc", "true").load(p)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val changes = batch.filter(col("_change_type") =!= "update_preimage")
            .withColumn("row_kind",
              when(col("_change_type") === "delete", "-D")
                .when(col("_change_type") === "insert", "+I").otherwise("+U"))
            .drop("_change_type")
          dst.applyChangelog(changes, "row_kind", "_commit")
          ()
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def assertInSync(): Unit = {
      val want = src.read().orderBy("o_orderkey").collect()
      val got = dst.read().drop("_commit").orderBy("o_orderkey").collect()
      assert(got.sameElements(want), s"replica drifted: ${got.length} vs ${want.length}")
    }

    // wave 1: seed + update; wave 2: hard delete OVERLAPPING wave-1 updates
    // (checkpointed ordering must apply it after); wave 3: fresh updates
    src.insert(orders.limit(100), numFiles = 2)
    src.upsert(orders.limit(20).withColumn("o_orderstatus", lit("U")))
    followOnce(); assertInSync()
    src.delete(col("o_orderkey") % 7 === 0)
    followOnce(); assertInSync()
    src.upsert(orders.limit(40).filter(col("o_orderkey") % 7 =!= 0)
      .withColumn("o_orderstatus", lit("V")))
    followOnce(); assertInSync()
  }

  test("graft_table_changes SQL TVF: latest_state and cdc modes (quickstart.sql:83-90)") {
    import graft.tables.{GraftTable, GraftTableConfig}
    graft.functions.GraftFunctions.register(spark)
    val p = "/tmp/graft_spec/tvf_changes"
    val tbl = GraftTable(spark, GraftTableConfig(
      p, "o_orderkey", "o_orderkey", writeChangelog = true))
    tbl.dropIfExists()
    val i1 = tbl.insert(orders.limit(100), numFiles = 2)
    tbl.upsert(orders.limit(30).withColumn("o_orderstatus", lit("U")))

    val latest = spark.sql(
      s"SELECT * FROM graft_table_changes('$p', 'latest_state', '$i1')")
    assert(latest.count() == 30)
    assert(latest.filter(col("o_orderstatus") === "U").count() == 30)
    // bare-number instants pad automatically; 0 = from the beginning
    assert(spark.sql(
      s"SELECT * FROM graft_table_changes('$p', 'latest_state', 0)").count() == 100)
    // the reference's 'earliest' keyword (quickstart.sql:84) and a bounded
    // (begin, end] range both resolve
    assert(spark.sql(
      s"SELECT * FROM graft_table_changes('$p', 'latest_state', 'earliest')").count() == 100)
    assert(spark.sql(s"SELECT * FROM graft_table_changes('$p', 'latest_state', " +
      s"'earliest', '$i1')").count() == 100)
    val cdc = spark.sql(s"SELECT * FROM graft_table_changes('$p', 'cdc', '$i1')")
    assert(cdc.filter(col("_change_type") === "update_postimage").count() == 30)
    assert(cdc.filter(col("_change_type") === "update_preimage").count() == 30)
  }

  test("persisted table config: MOR table appends and reads with zero options") {
    val p6 = "/tmp/graft_spec/ds_props"
    orders.limit(300).write.format("graft")
      .option("graft.key", "o_orderkey").option("graft.type", "mor")
      .mode(SaveMode.Overwrite).save(p6)
    // append with NO options: key and table type come from _graft/config.json
    orders.limit(50).withColumn("o_orderstatus", lit("U"))
      .write.format("graft").mode(SaveMode.Append).save(p6)
    // read with NO options: MOR resolution must still apply (no dup keys)
    val snap = spark.read.format("graft").load(p6)
    assert(snap.count() == 300)
    assert(snap.filter(col("o_orderstatus") === "U").count() == 50)
  }

  test("precombine picks the highest version within a write batch") {
    val p4 = "/tmp/graft_spec/ds_pc"
    val v1 = orders.limit(100).withColumn("ver", lit(1))
    val v2 = orders.limit(40).withColumn("ver", lit(2))
    v1.unionByName(v2).write.format("graft")
      .option("graft.key", "o_orderkey").option("graft.precombine", "ver")
      .mode(SaveMode.Overwrite).save(p4)
    val got = spark.read.format("graft").load(p4)
    assert(got.count() == 100)
    assert(got.filter(col("ver") === 2).count() == 40)
  }

  test("DataSource writes keep the secondary index complete (config from stored props)") {
    import graft.tables.{GraftTable, GraftTableConfig}
    val p = "/tmp/graft_spec/ds_secondary"
    val tbl = GraftTable(spark, GraftTableConfig(p, "o_orderkey", "o_orderkey",
      secondaryIndexCols = Seq("o_orderpriority")))
    tbl.dropIfExists()
    tbl.insert(orders.filter(col("o_orderkey") % 2 === 0), numFiles = 2)
    // append through format("graft") WITHOUT re-stating the index cols: the
    // stored table properties must round-trip them into the write config,
    // so this commit writes its own index entries
    orders.filter(col("o_orderkey") % 2 === 1).write.format("graft")
      .mode(SaveMode.Append).save(p)
    val dsInstant = tbl.timeline.instants().max
    assert(new java.io.File(s"$p/_graft/si/o_orderpriority/$dsInstant").exists(),
      "DataSource-path write skipped the secondary index")
    val viaIndex = tbl.readBySecondary("o_orderpriority", Seq("1-URGENT"))
      .orderBy("o_orderkey").collect()
    val viaScan = tbl.read().filter(col("o_orderpriority") === "1-URGENT")
      .orderBy("o_orderkey").collect()
    assert(viaIndex.sameElements(viaScan))

    // and if a commit's index entries are MISSING anyway (older writer,
    // schema without the column), its live files are scanned conservatively
    // — unmapped means unknown, never "no match"
    import org.apache.commons.io.FileUtils
    FileUtils.deleteDirectory(new java.io.File(s"$p/_graft/si/o_orderpriority/$dsInstant"))
    val conservative = tbl.readBySecondary("o_orderpriority", Seq("1-URGENT"))
      .orderBy("o_orderkey").collect()
    assert(conservative.sameElements(viaScan),
      "rows from an unmapped commit were silently dropped")
  }

  test("readStream resolves a schema for a table with no committed data") {
    import graft.tables.{GraftTable, GraftTableConfig}
    val p5 = "/tmp/graft_spec/ds_empty_stream"
    val tbl = GraftTable(spark, GraftTableConfig(p5, "o_orderkey", "o_orderkey"))
    tbl.dropIfExists()
    // a crashed first write: config + schema persisted, zero commits
    assertThrows[Exception](
      tbl.insert(orders.limit(5).withColumn("o_orderkey", lit(-1L))))
    assert(tbl.timeline.instants().isEmpty)
    val sdf = spark.readStream.format("graft").load(p5)
    assert(sdf.schema.fieldNames.contains("o_totalprice"))
  }
}
