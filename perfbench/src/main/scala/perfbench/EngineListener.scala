package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The engine layer as seen from outside: Spark jobs become spans parented
  * to the call that ran them (the `perfbench.span` local property set by
  * [[Recorder.call]]), stages carry their task counters, and each query
  * execution reports its analysis/optimizer/planning time. Registered only
  * in a traced run. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  import EngineListener._

  val jobs = new ConcurrentLinkedQueue[mutable.LinkedHashMap[String, Any]]()
  val stages = new ConcurrentLinkedQueue[mutable.LinkedHashMap[String, Any]]()
  val plans = new ConcurrentLinkedQueue[mutable.LinkedHashMap[String, Any]]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, mutable.LinkedHashMap[String, Any]]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(SpanProperty))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = mutable.LinkedHashMap[String, Any]("job" -> e.jobId,
      "parent" -> spanOf(e.properties), "t0_us" -> e.time * 1000L)
    open.put(e.jobId, j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { j =>
      j("t1_us") = e.time * 1000L
      jobs.add(j)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSpan.put(e.stageInfo.stageId, spanOf(e.properties).toString)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val s = mutable.LinkedHashMap[String, Any](
      "parent" -> Option(stageSpan.remove(i.stageId)).map(_.toLong).getOrElse(0L),
      "stage" -> i.stageId, "tasks" -> i.numTasks)
    if (m != null) {
      s("run_ms") = m.executorRunTime
      s("cpu_ns") = m.executorCpuTime
      s("gc_ms") = m.jvmGCTime
      s("shuffle_read") = m.shuffleReadMetrics.totalBytesRead
      s("shuffle_write") = m.shuffleWriteMetrics.bytesWritten
      s("spill") = m.memoryBytesSpilled + m.diskBytesSpilled
      s("input_bytes") = m.inputMetrics.bytesRead
    }
    stages.add(s)
  }

  private def plan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) plans.add(mutable.LinkedHashMap[String, Any](
      "t0_us" -> ph.values.map(_.startTimeMs).min * 1000L,
      "plan_ms" -> ph.values.map(_.durationMs).sum))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)

  def drained: Seq[(String, Seq[mutable.LinkedHashMap[String, Any]])] =
    Seq("jobs" -> jobs.asScala.toSeq, "stages" -> stages.asScala.toSeq,
      "plans" -> plans.asScala.toSeq)
}

object EngineListener {
  val SpanProperty = "perfbench.span"
}
