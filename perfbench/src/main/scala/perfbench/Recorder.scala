package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Thrown by the forced-failure switch (`--fail-every N`): every Nth timed
  * call throws before it reaches the program, so a smoke run shows how a
  * failed call is accounted for. */
final class InjectedFailure(msg: String) extends RuntimeException(msg)

/** Records one sample per timed public call, and in a traced run one span
  * per call with the counters read at the same boundary.
  *
  * A sample is the client's view: class (`commit`, `read`), kind, table,
  * duration, and on failure the exception class. A failed call keeps its
  * duration only for the record; the metrics treat it as a miss. Spans
  * share the run id and carry their parent: a call span's parent is the
  * cycle span, and Spark job spans (from [[EngineListener]]) point at the
  * call span through the `perfbench.span` local property. */
final class Recorder(spark: SparkSession, val runId: String, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Wall clock in epoch microseconds, from one monotonic base. */
  def nowUs: Long = epochMs0 * 1000L + (System.nanoTime() - nano0) / 1000L

  val samples = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  val spans = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  private var nextSpan = 0L
  private var calls = 0L
  private var cycleSpan: Option[Long] = None
  /** `setup`, `timed` or `check`: which part of the run a sample is from. */
  var phase = "setup"
  /** When > 0, every Nth call of the timed phase throws [[InjectedFailure]]. */
  var failEvery = 0

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  private def newSpan(name: String, layer: String, parent: Option[Long],
      t0: Long, t1: Long): mutable.LinkedHashMap[String, Any] = {
    nextSpan += 1
    val s = mutable.LinkedHashMap[String, Any]("run" -> runId, "id" -> nextSpan,
      "parent" -> parent.getOrElse(0L), "name" -> name, "layer" -> layer,
      "t0_us" -> t0, "t1_us" -> t1)
    spans += s
    s
  }

  /** A span around one cycle of the closed loop (one schedule cycle, one
    * pass of the read mix, one batch); calls inside it are its children. */
  def inCycle[T](name: String)(body: => T): T = {
    val t0 = nowUs
    val span = if (traced) Some(newSpan(name, "cycle", None, t0, t0)) else None
    cycleSpan = span.map(_("id").asInstanceOf[Long])
    try body finally {
      span.foreach(_("t1_us") = nowUs)
      cycleSpan = None
    }
  }

  /** Time one public call. Returns None when it threw; the sample then
    * has `ok=false` and the exception class. */
  def call[T](cls: String, kind: String, layer: String, table: String = "",
      inBatch: Boolean = true)(body: => T): (Option[T], mutable.LinkedHashMap[String, Any]) = {
    calls += 1
    val sample = mutable.LinkedHashMap[String, Any]("phase" -> phase, "cls" -> cls, "kind" -> kind,
      "layer" -> layer, "table" -> table, "in_batch" -> inBatch)
    val span = if (traced) Some(newSpan(s"$layer.$kind", layer, cycleSpan, 0L, 0L)) else None
    span.foreach(s => sc.setLocalProperty(EngineListener.SpanProperty, s("id").toString))
    val fs0 = if (traced) graft.sources.FsCalls.snapshot() else Map.empty[String, Long]
    val lr0 = graft.tables.Timeline.lockRetries.get()
    val gc0 = if (traced) gcMs else 0L
    val inject = phase == "timed" && failEvery > 0 && calls % failEvery == 0
    val t0 = nowUs
    val out = try {
      if (inject) throw new InjectedFailure(s"forced failure of call $calls")
      Some(body)
    } catch {
      case NonFatal(e) =>
        sample("err") = e.getClass.getName
        sample("err_msg") = String.valueOf(e.getMessage).take(300)
        None
    }
    val t1 = nowUs
    sc.setLocalProperty(EngineListener.SpanProperty, null)
    sample("t0_us") = t0
    sample("dur_s") = (t1 - t0) / 1e6
    sample("ok") = out.isDefined
    sample("lock_retries") = graft.tables.Timeline.lockRetries.get() - lr0
    span.foreach { s =>
      s("t0_us") = t0
      s("t1_us") = t1
      sample("span") = s("id")
      sample("fs") = graft.sources.FsCalls.delta(fs0)
      sample("gc_ms") = gcMs - gc0
      sample("persisted_rdds") = sc.getPersistentRDDs.size
    }
    samples += sample
    (out, sample)
  }
}

object Recorder {
  /** Old-generation bytes after full collections: the live heap. Spark's
    * ContextCleaner frees blocks only once a collection has cleared their
    * references, so collect, let it run, and collect again. */
  def oldGenAfterGc(): Long = {
    for (_ <- 0 until 3) {
      System.gc()
      Thread.sleep(100)
    }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum
  }
}
