package graft.tables

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FsCalls

/** Filesystem-CALL pins for the hot paths — the glue-S3-benchmark parity
  * metric (reference glue_benchmark: counting metadata calls is the whole
  * point; on an object store each list/open is a billed round-trip and
  * the real scale cost). Wall-clock benchmarks on a local SSD cannot see
  * a LIST storm; these counts can. Every pin is a FLATNESS or big-O
  * assertion — calls ride the probe's selectivity or the commit's own
  * file count, never the table's age or total file count — with ~2×
  * headroom over measured values (small4f/big32f measured 2026-08:
  * point lookup 39/39 calls, single-key commit 133/114, 2-source fold
  * 121/121, snapshot read 47/152, SI broad 72/177) so legitimate drifts
  * don't flake while an accidental O(#files) loop (hundreds of extra
  * calls) trips immediately.
  *
  * The counting `file://` implementation is registered for THIS suite and
  * restored after (Spark's own SharedSparkSession does the same with
  * DebugFilesystem): the Hadoop FS cache is flushed on both edges so
  * neither this suite nor its successors see a stale instance. */
class FsCallSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = graft.GraftSession.builder("graft-fscall-test", "4").getOrCreate()
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

  private def calls[T](body: => T): (Map[String, Long], T) = {
    val before = FsCalls.snapshot()
    val r = body
    (FsCalls.delta(before), r)
  }
  private def total(m: Map[String, Long]): Long = m.values.sum

  private def freshTable(name: String, nFiles: Int, commits: Int): GraftTable = {
    val root = s"/tmp/graft_spec/fscall_$name"
    val tbl = GraftTable(spark, GraftTableConfig(root, "id", "id",
      recordIndexBuckets = 4, secondaryIndexCols = Seq("grp"),
      statsCols = Seq("v")))
    tbl.dropIfExists()
    val base = spark.range(20000L).selectExpr("id", "id % 50 AS grp",
      "cast(id AS double) AS v")
    tbl.insert(base, numFiles = nFiles)
    (1 until commits).foreach { i =>
      tbl.upsert(base.filter(col("id") % 500 === i).withColumn("v", lit(i.toDouble)))
    }
    tbl.compactRecordIndex()
    tbl.compactSecondaryIndex("grp")
    tbl
  }

  /** One pass of every probed hot path, in a fixed order (the commit and
    * fold mutate, so order is part of the measurement contract). */
  private case class Probes(snap: Long, snapFiles: Int, cold: Long,
      point: Long, si: Long, siLive: Int, commit: Long, fold: Long)

  private def probe(t: GraftTable): Probes = {
    val (cSnap, n) = calls(t.read().count())
    assert(n == 20000L)
    val liveBefore = t.timeline.liveFiles(None).size
    val (cCold, _) = calls {
      GraftTable(spark, t.cfg).timeline.liveFiles(None).size
    }
    val (cPoint, np) = calls(t.pointLookup(Seq(777L)).count())
    assert(np == 1L)
    val (cSi, ns) = calls(t.readBySecondary("grp", Seq(7L)).count())
    assert(ns == 400L)
    val siLive = t.timeline.liveFiles(None).size
    val (cCommit, _) = calls(t.upsert(spark.range(770L, 771L)
      .selectExpr("id", "id % 50 AS grp", "cast(9.9 AS double) AS v")))
    val (cFold, k) = calls(t.compactRecordIndex())
    assert(k >= 1, "fold must consume the commit's index dir + the base")
    Probes(total(cSnap), liveBefore, total(cCold), total(cPoint),
      total(cSi), siLive, total(cCommit), total(cFold))
  }

  test("hot-path FS calls ride selectivity, not table size") {
    val small = freshTable("small", 4, 3)
    val big = freshTable("big", 32, 10)
    val ps = probe(small)
    val pb = probe(big)
    println(s"[fscall] small=$ps")
    println(s"[fscall] big=$pb")

    // POINT LOOKUP through the compacted record index: FLAT — the bucket
    // is computed driver-locally and the probe opens one index bucket +
    // one data file, however many files or commits the table has
    // (measured identical, 39 calls, on both tables).
    assert(pb.point <= ps.point * 3 / 2 + 10,
      s"point lookup calls grew with table size: ${ps.point} -> ${pb.point}")
    assert(pb.point <= 100, s"point lookup made ${pb.point} FS calls")

    // SINGLE-KEY COMMIT: calls ride the files the commit TOUCHES (one
    // rewritten file + timeline append + index dirs), not the table's
    // file count — the 32-file table must not cost more than the 4-file
    // one (measured 133 vs 114: the big table is actually cheaper since
    // its rewritten file is smaller).
    assert(pb.commit <= ps.commit * 3 / 2 + 30,
      s"single-key commit calls grew with table size: ${ps.commit} -> ${pb.commit}")
    assert(pb.commit <= 300, s"single-key commit made ${pb.commit} FS calls")

    // INCREMENTAL FOLD of 2 source dirs (the fresh commit + the merged
    // base): O(sources + buckets), independent of table size (measured
    // identical, 121 calls, on both tables).
    assert(pb.fold <= ps.fold * 3 / 2 + 30,
      s"2-source fold calls grew with table size: ${ps.fold} -> ${pb.fold}")
    assert(pb.fold <= 300, s"2-source fold made ${pb.fold} FS calls")

    // SNAPSHOT READ: honestly linear — it reads every live file — but
    // never super-linear (no per-file re-list; measured ~3.7 calls/file
    // at 32 files, pinned at 8/file + 60).
    assert(pb.snap <= 8L * pb.snapFiles + 60,
      s"snapshot read made ${pb.snap} calls over ${pb.snapFiles} files")

    // COLD TIMELINE RESOLUTION (fresh handle): O(#commits) JSON reads,
    // no data-file probing (4 & 11 commits here; ~6 calls/commit covers
    // the json + crc + listing; super-linear = a per-commit re-list).
    assert(pb.cold <= 6L * 11 + 40, s"cold resolve made ${pb.cold} calls")

    // BROAD SI equality (value in every file): bounded-linear in live
    // files — the index probe itself is bucketed; the data scan is the
    // honest linear part (measured 177 calls over ~40 live files).
    assert(pb.si <= 12L * pb.siLive + 100,
      s"SI lookup made ${pb.si} calls over ${pb.siLive} live files")

    small.dropIfExists(); big.dropIfExists()
  }

  test("bloom/range-tier point lookup rides candidate files, not table size") {
    // The NON-indexed lookup tier (no record index): key-range stats +
    // bucket hash prune from the timeline (zero FS calls — in-memory
    // metadata), then one parquet bloom-footer probe per SURVIVING
    // candidate. Calls must ride the candidate count. Keys are written
    // in insertion ranges here, so a single key's range survives in
    // O(1) files however many files the table has.
    def build(name: String, nFiles: Int): GraftTable = {
      val root = s"/tmp/graft_spec/fscall_bloom_$name"
      val tbl = GraftTable(spark, GraftTableConfig(root, "id", "id"))
      tbl.dropIfExists()
      // range-partitioned write → each file owns a contiguous key range
      // (numFiles=0 keeps the incoming partitioning; numFiles>0 would
      // round-robin it away and every file would span the whole range)
      val df = spark.range(20000L).selectExpr("id")
        .repartitionByRange(nFiles, org.apache.spark.sql.functions.col("id"))
      tbl.insert(df)
      tbl
    }
    val small = build("small", 4)
    val big = build("big", 32)
    def probe(t: GraftTable): Long = {
      val (c, n) = calls(t.pointLookup(Seq(777L)).count())
      assert(n == 1L)
      total(c)
    }
    val ps = probe(small)
    val pb = probe(big)
    println(s"[fscall] bloom-tier small=$ps big=$pb")
    assert(pb <= ps * 3 / 2 + 10,
      s"bloom-tier lookup calls grew with table size: $ps -> $pb")
    assert(pb <= 80, s"bloom-tier lookup made $pb FS calls")
    small.dropIfExists(); big.dropIfExists()
  }

  test("partition-pruned read and partition drop ride the touched partition") {
    // the partition-cardinality axis (PartitionScaleStress is the sweep;
    // this is the pin): reading ONE partition must touch exactly that
    // partition's files, and dropping one is a metadata-only commit —
    // both independent of how many OTHER partitions the table has
    def build(name: String, np: Int): GraftTable = {
      val root = s"/tmp/graft_spec/fscall_parts_$name"
      val tbl = GraftTable(spark, GraftTableConfig(root, "id", "id",
        keyGen = FieldPartition("part")))
      tbl.dropIfExists()
      tbl.insert(spark.range(20000L)
        .selectExpr("id", s"cast(id % $np AS string) AS part"), numFiles = np)
      tbl
    }
    val small = build("small", 16)
    val big = build("big", 128)
    def probe(t: GraftTable, np: Int): (Long, Long) = {
      val partFiles = t.timeline.liveFiles(None).count(_.partition == "part=7")
      assert(partFiles >= 1)
      // pruned-scan FILE SET pin: exactly the target partition's files
      val pruned = t.readWhere(_ == "part=7")
      assert(pruned.inputFiles.length == partFiles &&
        pruned.inputFiles.forall(_.contains("part=7")),
        s"pruned scan read ${pruned.inputFiles.length} files " +
          s"(${pruned.inputFiles.count(!_.contains("part=7"))} outside the " +
          s"partition), expected $partFiles")
      val (cRead, rows) = calls(
        t.readWhere(_ == "part=7").filter(col("part") === "7").count())
      assert(rows == (20000L - 8) / np + 1)
      val (cDrop, _) = calls(t.dropPartitions(_ == "part=3"))
      assert(t.timeline.liveFiles(None).forall(_.partition != "part=3"))
      (total(cRead), total(cDrop))
    }
    val (rs, ds) = probe(small, 16)
    val (rb, db) = probe(big, 128)
    println(s"[fscall] parts pruned-read small=$rs big=$rb drop small=$ds big=$db")
    assert(rb <= rs * 3 / 2 + 10,
      s"pruned-read calls grew with partition count: $rs -> $rb")
    assert(db <= ds * 3 / 2 + 10,
      s"drop-partition calls grew with partition count: $ds -> $db")
    assert(db <= 120, s"metadata-only partition drop made $db FS calls")
    small.dropIfExists(); big.dropIfExists()
  }

  test("modeled S3 point-lookup cost stays flat in table size") {
    // the S3CostModel gate: convert the point lookup's call delta into
    // modeled object-store milliseconds (the serialized metadata bill)
    // and pin it flat — same claim as the count pin above, but in the
    // unit BENCH_SF100_S3MODEL.json publishes
    val small = freshTable("s3m_small", 4, 3)
    val big = freshTable("s3m_big", 32, 10)
    def modeled(t: GraftTable): Double = {
      val (c, n) = calls(t.pointLookup(Seq(777L)).count())
      assert(n == 1L)
      graft.tools.S3CostModel.modeledMs(c)
    }
    val ms = modeled(small)
    val mb = modeled(big)
    println(s"[fscall] modeled S3 point lookup small=${ms}ms big=${mb}ms")
    assert(mb <= ms * 1.5 + 100.0,
      s"modeled S3 lookup cost grew with table size: $ms -> $mb ms")
    assert(mb <= 2500.0, s"modeled S3 point lookup costs $mb ms")
    small.dropIfExists(); big.dropIfExists()
  }

  test("stream poll metadata bill is flat in table age post-checkpoint") {
    // a scheduled AvailableNow poll pays getOffset→getBatch metadata per
    // trigger; with the timeline checkpointed, that bill must ride the
    // NEW commits a poll picks up, never the table's archived history
    // (BENCH_SF100_S3MODEL's stream_poll axis, pinned)
    def pollBill(age: Int): Long = {
      val root = s"/tmp/graft_spec/fscall_poll_$age"
      val tbl = GraftTable(spark, GraftTableConfig(root, "id", "id",
        recordIndexBuckets = 4))
      tbl.dropIfExists()
      val base = spark.range(2000L).selectExpr("id", "id % 10 AS grp")
      tbl.insert(base, numFiles = 2)
      (1 to age).foreach(_ => tbl.upsert(base.filter(col("id") % 100 === 0)))
      tbl.checkpointTimeline()
      val cp = java.nio.file.Files.createTempDirectory("fscall_cp").toString
      val outD = java.nio.file.Files.createTempDirectory("fscall_out").toString
      def poll(): Unit = {
        val q = spark.readStream.format("graft").load(root)
          .writeStream.format("parquet").option("path", outD)
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      poll() // consume to head
      tbl.upsert(base.filter(col("id") % 100 === 0)) // one fresh commit
      val (d, _) = calls(poll())
      tbl.dropIfExists()
      total(d)
    }
    val young = pollBill(4)
    val old = pollBill(32)
    println(s"[fscall] per-poll fs calls young=$young old=$old")
    assert(old <= young + 16,
      s"per-poll metadata bill grew with table age: $young -> $old calls")
  }

  test("record-index tagging: upsert probe rides the index, not the candidate count") {
    // 32-file indexed table, folded; a batch whose key range spans every
    // file keeps ALL 32 candidates after range pruning — the tagged probe
    // must still pay O(index buckets + hit files), never an open per
    // candidate (the classic probe's bill, which at 100 TB is thousands
    // of footer round-trips per streaming commit)
    val t = freshTable("tagprobe", 32, 1)
    val batch = spark.range(20000L).filter(col("id") % 613 === 0)
      .selectExpr("id", "id % 50 AS grp", "cast(1.5 AS double) AS v")
    val nKeys = batch.count()
    FsCalls.enablePhases()
    val probed = try {
      val (c, _) = calls(t.upsert(batch))
      c.filter(_._1.startsWith("p:candidate_probe/"))
    } finally FsCalls.disablePhases()
    val probeOpens = probed.getOrElse("p:candidate_probe/open", 0L)
    println(s"[fscall] tagged probe: ${probed.values.sum} calls " +
      s"($probeOpens opens) for $nKeys keys over 32 candidates")
    // 4 index buckets ≈ a handful of parquet opens; 32 candidates would
    // cost 32+ — anything near the candidate count means tagging fell back
    assert(probeOpens < 24,
      s"probe opened $probeOpens files — rode the candidate count, not the index")
    // exactness: every batch key updated, nothing duplicated
    assert(t.read().count() == 20000L)
    assert(t.read().filter(col("v") === 1.5).count() == nKeys)
  }

  test("bucket pruning: keyed delete and changelog probes ride the batch's bucket") {
    // 8 buckets, no record index: three inserts of interleaved ids leave
    // one whole-key-range file per bucket each, so a batch inside ONE
    // bucket that spans the key range keeps every file as a range
    // candidate — only bucket pruning narrows the probe to that bucket
    val root = "/tmp/graft_spec/fscall_bucketprobe"
    val t = GraftTable(spark, GraftTableConfig(root, "id", "id", numBuckets = 8))
    t.dropIfExists()
    val base = spark.range(20000L).selectExpr("id", "id % 50 AS grp",
      "cast(id AS double) AS v")
    (0 until 3).foreach(j => t.insert(base.filter(col("id") % 3 === j), numFiles = 8))
    assert(t.timeline.liveFiles(None).groupBy(_.bucket).values.forall(_.size == 3))
    val b = 3
    val inBucket = base.filter(pmod(xxhash64(col("id")), lit(8)) === b)
    def bucketFiles = t.timeline.liveFiles(None).count(_.bucket == b)
    def probeOpens(body: => Unit): Long = {
      FsCalls.enablePhases()
      try calls(body)._1.getOrElse("p:candidate_probe/open", 0L)
      finally FsCalls.disablePhases()
    }

    // int keys against the long key column: pruning must bucket the key
    // as stored, or the delete misses the file that holds it
    val doomed = inBucket.filter(col("id") % 97 === 0).select(col("id").cast("int").as("id"))
    val nDoomed = doomed.count()
    val filesBefore = bucketFiles
    val delOpens = probeOpens(t.deleteByKeys(doomed))
    println(s"[fscall] bucketed deleteByKeys: $delOpens probe opens, $filesBefore bucket files")
    assert(delOpens > 0 && delOpens <= filesBefore,
      s"deleteByKeys probe opened $delOpens files; bucket $b holds $filesBefore")
    assert(t.read().count() == 20000L - nDoomed)

    val changes = inBucket.filter(col("id") % 89 === 0)
      .withColumn("op", when(col("id") % 2 === 0, "+U").otherwise("-D"))
      .withColumn("v", lit(-1.0))
    val nUp = changes.filter(col("op") === "+U").count()
    val nKept = base.join(doomed, Seq("id"), "left_anti")
      .join(changes.select("id"), Seq("id"), "left_anti").count()
    val filesBefore2 = bucketFiles
    val clOpens = probeOpens(t.applyChangelog(changes, "op", "id"))
    println(s"[fscall] bucketed applyChangelog: $clOpens probe opens, $filesBefore2 bucket files")
    assert(clOpens > 0 && clOpens <= filesBefore2,
      s"applyChangelog probe opened $clOpens files; bucket $b holds $filesBefore2")
    assert(t.read().count() == nKept + nUp)
    assert(t.read().filter(col("v") === -1.0).count() == nUp)
    t.dropIfExists()
  }
}
