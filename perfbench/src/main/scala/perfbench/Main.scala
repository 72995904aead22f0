package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload: an untimed warm-up, a set-up that builds the starting
  * tables (run several times; the last build is used), a closed-loop timed
  * phase with one client that does a fixed amount of work, and untimed
  * output checks. */
trait Workload {
  def warmup(): Unit
  def build(rep: Int): Unit
  /** Run the closed loop's fixed schedule. */
  def run(): Unit
  /** End-of-timed-phase state (live bytes, live files, timeline length). */
  def endState(): Map[String, Any]
  /** Untimed output checks: name -> (ok, detail). */
  def check(): Seq[(String, Boolean, String)]
}

/** The benchmark's JVM side. `run.py` makes the inputs, starts this with
  * the paths, and turns the files it writes into metrics.
  *
  * Usage: perfbench.Main --workload W --inputs DIR --work DIR --trace 0|1
  *   --seed N [--fail-every N] */
object Main {
  /** Set-up builds per run; `setup_s` takes their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val inputs = opt("inputs")
    val work = opt("work")
    val traced = opt("trace") == "1"
    // the CPUs this process may run on (honours the affinity mask)
    val cores = Runtime.getRuntime.availableProcessors
    val failEvery = opt.getOrElse("fail-every", "0").toInt
    val result = s"$work/result"
    new java.io.File(result).mkdirs()

    // the product's session builder plus the counting filesystem only
    val spark = graft.GraftSession.builder("perfbench", cores.toString)
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.CountingLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()

    val listener = if (traced) Some(new EngineListener) else None
    listener.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
    }
    val rec = new Recorder(spark, s"$workload-${opt.getOrElse("seed", "")}", traced)
    val w: Workload = workload match {
      case "lake_ingest" => new LakeIngest(spark, inputs, work, rec)
      case "analytics_batch" => new AnalyticsBatch(spark, inputs, work, rec)
    }

    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val warmupS = secs(w.warmup())
    val buildS = (0 until SetupReps).map(r => secs(w.build(r)))

    // timed phase: calls are recorded with the failure switch armed
    rec.phase = "timed"
    rec.failEvery = failEvery
    // the live heap, probed with a full collection before and after the
    // timed phase (never between calls)
    val heap = mutable.ArrayBuffer.empty[Long]
    val probe = () => { heap += Recorder.oldGenAfterGc(); () }
    spark.catalog.clearCache()
    probe()
    val t0 = rec.nowUs
    w.run()
    probe()
    val t1 = rec.nowUs
    val end = w.endState()
    rec.phase = "check"
    rec.failEvery = 0
    var checks = Seq.empty[(String, Boolean, String)]
    val checkS = secs { checks = w.check() }

    listener.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))
    Json.writeLines(s"$result/samples.jsonl", rec.samples)
    Json.writeLines(s"$result/spans.jsonl", rec.spans)
    listener.foreach(_.drained.foreach { case (name, rows) =>
      Json.writeLines(s"$result/$name.jsonl", rows)
    })
    Json.write(s"$result/summary.json", Map(
      "session_ready_ms" -> sessionReadyMs,
      "warmup_s" -> warmupS,
      "build_s" -> buildS,
      "timed_t0_us" -> t0, "timed_t1_us" -> t1,
      "heap_old_bytes" -> heap,
      "check_s" -> checkS,
      "end" -> end,
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "cores" -> cores))
    spark.stop()
  }
}
