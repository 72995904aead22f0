package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.monotonically_increasing_id

import graft.tables._

/** analytics_batch: a fixed list of registry operators, each run once per
  * batch over the generated input and its result written out as parquet,
  * the way a batch job writes its outputs. After the batch the outputs are
  * published into the lakehouse (one graft insert per output, keyed by a
  * generated row id); that step is outside `batch_s` and gives this
  * workload its commit-side figures. */
final class AnalyticsBatch(spark: SparkSession, inputs: String, work: String, rec: Recorder)
    extends Workload {
  private val ops = AnalyticsBatch.Ops
  private val queries = graft.SparkEntry.queries
  /** The batch's plain outputs and the graft tables they are published to. */
  private val out = s"$work/out/batch"
  private val lakeDir = s"$work/lake/batch"

  /** One untimed pass of every operator over the warm-up input (a quarter
    * of the data), outputs written and published, four at a time: codegen
    * and JIT warm-up. */
  def warmup(): Unit = {
    val groups = ops.grouped(math.ceil(ops.size / 4.0).toInt).toSeq
    Parallel.all(groups.map(group => () => group.foreach { op =>
      queries(op)(spark, s"$inputs/warmup").write.mode("overwrite").parquet(s"$work/warmup/$op")
      publish(s"$work/warmup/$op", s"$work/warmup/lake/$op")
    }))
    spark.catalog.clearCache()
  }

  /** The starting state: every input table opened and probed, the
    * Bench warm-up pattern (the batch itself builds no tables). */
  def build(rep: Int): Unit = graft.GraftSession.tableNames.foreach { t =>
    Consume.fingerprint(graft.GraftSession.table(spark, inputs, t).limit(1000))
  }

  private def table(path: String): GraftTable = GraftTable(spark, GraftTableConfig(path, "_rid", "_rid"))

  /** Land a plain-parquet output in a graft table, keyed by a row id. */
  private def publish(plain: String, path: String): String =
    table(path).insert(spark.read.parquet(plain).withColumn("_rid", monotonically_increasing_id()))

  /** One batch, whatever the time: each run does the same work. */
  def run(): Unit =
    rec.inCycle("batch") {
      ops.foreach { op =>
        rec.call("read", op, AnalyticsBatch.layer(op)) {
          queries(op)(spark, inputs).write.mode("overwrite").parquet(s"$out/$op")
        }
        spark.catalog.clearCache()
      }
      ops.foreach { op =>
        val (inst, s) = rec.call("commit", "publish", "tables", op, inBatch = false) {
          publish(s"$out/$op", s"$lakeDir/$op")
        }
        s("batch_bytes") = Disk.bytes(s"$out/$op")
        s("created_bytes") = Disk.bytes(s"$lakeDir/$op")
        s("rows") = spark.read.parquet(s"$out/$op").count()
        inst.foreach { i =>
          s("instant") = i
          if (rec.traced) {
            s("files_added") = table(s"$lakeDir/$op").timeline.readCommit(i).adds.size
            s("files_removed") = 0
          }
        }
      }
    }

  def endState(): Map[String, Any] = {
    val live = ops.map(op => Disk.bytes(s"$lakeDir/$op")).sum
    Map("live_bytes" -> Map("published" -> live),
      "plain_bytes" -> ops.map(op => Disk.bytes(s"$out/$op")).sum,
      "out_dir" -> out,
      "live_files" -> Map("published" ->
        ops.map(op => table(s"$lakeDir/$op").timeline.liveFiles(None).size).sum),
      "timeline_instants" -> Map("published" ->
        ops.map(op => table(s"$lakeDir/$op").timeline.instants().size).sum))
  }

  /** The runner checks the written outputs against DuckDB; here each
    * published table must hold exactly its batch output. */
  def check(): Seq[(String, Boolean, String)] = {
    Json.write(s"$work/out/oracle_sql.json", graft.SparkEntry.oracleSql.filter(e => ops.contains(e._1)))
    ops.map { op =>
      val plain = spark.read.parquet(s"$out/$op")
      val pub = table(s"$lakeDir/$op").read().drop("_rid")
      val (a, b) = (Consume.fingerprint(plain), Consume.fingerprint(Consume.shaped(pub, plain)))
      (s"publish_$op", a == b && a.rows > 0, s"rows ${a.rows} published ${b.rows}")
    }
  }
}

object AnalyticsBatch {
  /** The batch: log-parse, topN and time-bucket analytics (the reference's
    * glue jobs), a TPC-H join, shingle-Jaccard near-duplicate search,
    * brute-force top-k, a text quality profile and the curation funnel.
    * Every one has a DuckDB oracle. */
  val Ops: Seq[String] = Seq(
    "q_log_parse", "q_top_events", "q_time_buckets", "q3_shipping_priority",
    "d_ngram_jaccard", "s_topk_bruteforce", "x_quality", "c_curation_funnel")

  def layer(op: String): String =
    if (op.startsWith("q")) "operators"
    else if (op.startsWith("d_")) "dedup"
    else if (op.startsWith("s_")) "ann"
    else if (op.startsWith("x_")) "text"
    else "pipeline"
}
