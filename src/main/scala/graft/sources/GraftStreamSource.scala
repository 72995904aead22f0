package graft.sources

import graft.tables.{GraftTable, GraftTableConfig}
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit,
  SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.types.StructType

/** Streaming read of a GraftTable: each micro-batch is the incremental
  * changes between the last processed commit instant and the current head —
  * the Spark-native analogue of the reference's streaming table reads
  * (flink quickstart.sql:41 `read.start-commit`/`read.end-commit`,
  * HudiDataStreamReader.java). Offsets ARE commit instants, so recovery
  * from a checkpoint resumes exactly at the last committed instant, and the
  * first batch (offset 0 → head) is the initial snapshot.
  *
  * With `cdc = true` (readStream option `graft.cdc`) each micro-batch is
  * instead the CHANGE IMAGES of the commit range (`_change_type` in
  * insert / update_preimage / update_postimage / delete) — the streaming
  * CDC query. Table-service commits yield empty batches, not errors.
  *
  * `Trigger.AvailableNow` drains to the head seen when the query starts
  * (`prepareForTriggerAvailableNow`); commits that land later wait for the
  * next query. */
final class GraftStreamSource(
    spark: SparkSession,
    cfg: GraftTableConfig,
    override val schema: StructType,
    cdc: Boolean = false)
    extends Source with SupportsTriggerAvailableNow {

  private val table = GraftTable(spark, cfg)

  private def instantOf(o: Offset): String = {
    val l = o match {
      case lo: LongOffset => lo.offset
      case other => other.json().toLong
    }
    graft.tables.Timeline.pad(l)
  }

  // headInstant, not latestInstant: on a table whose newest commits were
  // archived under a covering checkpoint (pre-head-pinning archive), the
  // hot-only latest under-reports the head and the stream would stop
  // short of the newest data forever; headInstant is the same bound
  // read() resolves to, so batch reads and snapshot reads always agree
  private def head: Option[LongOffset] =
    table.timeline.headInstant().map(i => LongOffset(i.toLong))

  // the head recorded by prepareForTriggerAvailableNow; None = uncapped
  @volatile private var availableNowHead: Option[Option[LongOffset]] = None

  override def getOffset: Option[Offset] = head

  override def prepareForTriggerAvailableNow(): Unit = availableNowHead = Some(head)

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 =
    availableNowHead.getOrElse(head).orNull

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val begin = start.map(instantOf).getOrElse(graft.tables.Timeline.pad(0))
    val df0 =
      // CDC batches carry `_commit` so a consumer can sequence same-key
      // images across the commits one micro-batch may span
      if (cdc) table.cdcWithCommit(begin, instantOf(end))
      else table.incremental(begin, instantOf(end))
    // ALIGN the batch to the declared source schema BY NAME: Spark's v1
    // Source contract rebinds the returned frame to the stream's
    // attributes POSITIONALLY, so a batch whose column ORDER drifts from
    // `schema` silently transposes columns into the sink. The stream fuzz
    // found exactly that: a CDC union spanning an add-column commit
    // appends the new column AFTER _change_type/_commit (unionByName
    // keeps the first frame's order), while a consumer started after the
    // evolution declares it in data position — every row of that batch
    // landed transposed. Declared columns a narrower batch lacks read as
    // null (a range before the column existed); batch columns the
    // declared schema lacks are dropped (a consumer bound before the
    // evolution sees them only after restart — the documented contract).
    val have = df0.columns.toSet
    val df = df0.select(schema.map(f =>
      (if (have(f.name)) org.apache.spark.sql.functions.col(s"`${f.name}`")
       else org.apache.spark.sql.functions.lit(null))
        .cast(f.dataType).as(f.name)): _*)
    GraftSqlShim.internalCreateDataFrame(
      spark, df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  override def stop(): Unit = ()
}
