package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}

import graft.tables._

/** lake_ingest: a COW table (month-partitioned, record index, CDC
  * changelog) and a MOR table take the same fixed schedule of commits, one
  * per generated step (upsert, merge with new keys, delete by keys, delete
  * by predicate, partial upsert). After each commit the client reads its
  * own write back (a point lookup of 10 of the step's keys); on COW it also
  * looks up 10 recent keys. Inline maintenance runs on a commit-count
  * schedule: MOR compaction, cleaning, timeline checkpoints. */
final class LakeIngest(spark: SparkSession, inputs: String, work: String, rec: Recorder)
    extends Workload {
  private val steps = Inputs.manifest(inputs).get("steps").elements().asScala.toIndexedSeq
  private var cow: GraftTable = _
  private var mor: GraftTable = _
  private var setupInstant = ""
  /** Files and sizes under each table root after the last call. */
  private val disk = mutable.Map.empty[String, Map[String, Long]]

  /** Month-partitioned, with a record index and a CDC changelog. */
  private def cowConfig(path: String): GraftTableConfig = GraftTableConfig(
    path, "o_orderkey", "o_orderkey",
    keyGen = TimestampDayPartition("o_orderdate", "o_month", "yyyy-MM"),
    writeChangelog = true,
    recordIndexBuckets = 4)

  private def morConfig(path: String): GraftTableConfig = GraftTableConfig(
    path, "o_orderkey", "o_orderkey", tableType = TableType.Mor)

  private def base: DataFrame = spark.read.parquet(s"$inputs/base.parquet")

  private def batch(step: JsonNode): DataFrame =
    spark.read.parquet(s"$inputs/${step.get("file").asText()}")

  /** Tiny tables through every call of the timed loop, untimed: one-time
    * codegen, JIT and committer start-up stay out of the timed phase. The
    * calls are split over four tables warmed side by side (writes, and
    * deletes, reads and services, on COW and on MOR), so a cold JVM
    * compiles them in parallel. */
  def warmup(): Unit = {
    // the last six months of orders: every call's code runs, over a few
    // partitions rather than all of them
    val small = base.where(col("o_orderdate") >= "2001-02-01")
    def table(cfg: GraftTableConfig)(calls: GraftTable => Unit): () => Unit = () => {
      val t = GraftTable(spark, cfg)
      t.dropIfExists()
      t.insert(small)
      calls(t)
      t.dropIfExists()
    }
    def writes(t: GraftTable): Unit = {
      t.upsert(small.limit(300).withColumn("o_orderstatus", lit("W")))
      t.merge(small.limit(200).withColumn("o_orderkey", col("o_orderkey") + 1000000L))
      t.partialUpsert(small.limit(100).withColumn("o_totalprice", lit(null).cast("double")))
    }
    def deletesAndReads(t: GraftTable): Unit = {
      t.deleteByKeys(small.limit(50).select("o_orderkey"))
      t.delete(col("o_orderkey") % 97 === 0)
      t.pointLookup(Seq(1L, 2L, 3L)).collect()
      t.cleanRetainCommits(2)
      t.checkpointTimeline()
    }
    val dir = s"$work/warmup"
    Parallel.all(Seq(
      table(cowConfig(s"$dir/cow_w"))(writes),
      table(cowConfig(s"$dir/cow_d"))(deletesAndReads),
      table(morConfig(s"$dir/mor_w"))(writes),
      table(morConfig(s"$dir/mor_d")) { t =>
        deletesAndReads(t)
        t.compact(10000000L)
      }))
  }

  def build(rep: Int): Unit = {
    cow = GraftTable(spark, cowConfig(s"$work/tables/r$rep/cow"))
    mor = GraftTable(spark, morConfig(s"$work/tables/r$rep/mor"))
    // the two bulk inserts are independent: load them side by side
    Parallel.all(Seq(() => setupInstant = cow.insert(base), () => mor.insert(base)))
    disk("cow") = Disk.files(cow.cfg.path)
    disk("mor") = Disk.files(mor.cfg.path)
  }

  private def name(t: GraftTable): String = if (t eq cow) "cow" else "mor"

  /** Commit one step on `t` as a timed call. */
  private def commit(t: GraftTable, step: JsonNode): Unit = {
    val (res, s) = rec.call("commit", step.get("op").asText(), "tables", name(t)) {
      step.get("op").asText() match {
        case "upsert" => t.upsert(batch(step))
        case "merge" => t.merge(batch(step))
        case "partial_upsert" => t.partialUpsert(batch(step))
        case "delete_keys" => t.deleteByKeys(batch(step))
        case "delete_where" => t.delete(expr(step.get("sql").asText()))
      }
    }
    s("step") = step.get("i").asInt()
    s("batch_bytes") =
      if (step.has("file")) Files.size(Paths.get(s"$inputs/${step.get("file").asText()}")) else 0L
    s("rows") = step.path("rows").asLong(0L)
    res.foreach(i => noteCommit(t, i, s))
    noteBytes(t, s)
  }

  /** Maintenance calls (compact, clean, checkpoint) as timed commits. */
  private def service(t: GraftTable, kind: String)(body: => Any): Unit = {
    val (res, s) = rec.call("commit", kind, "tables", name(t))(body)
    s("batch_bytes") = 0L
    s("rows") = 0L
    res.foreach {
      case i: String if kind != "clean" => noteCommit(t, i, s)
      case n: Int => s("files_deleted") = n
      case _ =>
    }
    noteBytes(t, s)
  }

  private def noteCommit(t: GraftTable, instant: String, s: mutable.Map[String, Any]): Unit = {
    s("instant") = instant
    if (rec.traced) {
      val c = t.timeline.readCommit(instant)
      s("files_added") = c.adds.size
      s("files_removed") = c.removes.size
    }
  }

  /** The bytes the call created under the table root (java.nio walk
    * between calls, untimed). */
  private def noteBytes(t: GraftTable, s: mutable.Map[String, Any]): Unit = {
    val now = Disk.files(t.cfg.path)
    s("created_bytes") = Disk.created(disk(name(t)), now)
    disk(name(t)) = now
  }

  /** Rows of a small result as JSON-ready maps (timestamps as epoch micros). */
  private def rowsJson(rows: Array[Row]): Seq[Map[String, Any]] = rows.toSeq.map { r =>
    r.schema.fieldNames.zipWithIndex.map { case (f, i) =>
      f -> (r.get(i) match {
        case t: java.time.LocalDateTime =>
          t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000
        case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
        case v => v
      })
    }.toMap
  }

  /** Planning time is not taken here: the engine listener reports it for
    * every query, this one included. */
  private def readBack(t: GraftTable, step: JsonNode, keys: Seq[Long]): Unit = {
    var df: DataFrame = null
    val (rows, s) = rec.call("read", "read_back", "tables", name(t)) {
      df = t.pointLookup(keys)
      df.collect()
    }
    s("step") = step.get("i").asInt()
    s("keys") = keys
    rows.foreach { r =>
      s("rows") = r.length
      s("result") = rowsJson(r)
    }
    if (rec.traced && df != null) {
      s("files_scanned") = df.inputFiles.length
      s("live_files") = t.timeline.liveFiles(None).size
    }
  }

  /** Every generated step, whatever the time: each run does the same work,
    * so its sample counts, tail percentile and table state do not depend on
    * how fast the program is. */
  def run(): Unit =
    rec.inCycle("cycle") {
      steps.zipWithIndex.foreach { case (step, i) =>
        val probes = step.get("probes").elements().asScala.map(Inputs.longs).toSeq
        commit(cow, step)
        probes.foreach(keys => readBack(cow, step, keys))
        commit(mor, step)
        readBack(mor, step, probes.last)
        services(i + 1)
      }
    }

  /** Inline table services on a commit-count schedule: MOR compaction
    * after every 2nd step; cleaning (keep the last 2 commits) and a
    * timeline checkpoint on both tables every 5 steps. Cleans and
    * checkpoints of these tables take milliseconds: run after every step,
    * they would put the commit median at the edge of the MOR commits. */
  private def services(n: Int): Unit = {
    if (n % 2 == 0) service(mor, "compact")(mor.compact(10000000L))
    if (n % 5 == 0) {
      for (t <- Seq(cow, mor)) {
        service(t, "clean")(t.cleanRetainCommits(2))
        service(t, "checkpoint")(t.checkpointTimeline())
      }
    }
  }

  def endState(): Map[String, Any] = Map(
    "live_bytes" -> Map("cow" -> Disk.bytes(cow.cfg.path), "mor" -> Disk.bytes(mor.cfg.path)),
    "live_files" -> Map("cow" -> cow.timeline.liveFiles(None).size,
      "mor" -> mor.timeline.liveFiles(None).size),
    "timeline_instants" -> Map("cow" -> cow.timeline.instants().size,
      "mor" -> mor.timeline.instants().size),
    "setup_instant" -> setupInstant)

  /** Dump both snapshots and the COW change feed of the timed range; the
    * runner compares them with its model of the applied steps. */
  def check(): Seq[(String, Boolean, String)] = {
    val out = s"$work/out"
    cow.read().write.mode("overwrite").parquet(s"$out/cow_snapshot")
    mor.read().write.mode("overwrite").parquet(s"$out/mor_snapshot")
    val last = cow.timeline.latestInstant().getOrElse(setupInstant)
    if (last > setupInstant)
      cow.cdcWithCommit(setupInstant, last).write.mode("overwrite").parquet(s"$out/cow_cdc")
    Seq.empty
  }
}
