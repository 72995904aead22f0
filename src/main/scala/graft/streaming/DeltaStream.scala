package graft.streaming

import graft.tables.{GraftTable, TableServices}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Config-driven continuous ingestion — the Spark-native analogue of the
  * reference's HoodieDeltaStreamer job (DeltaStreamerExample.scala:14-62:
  * `--source-class JsonKafkaSource`, kafka consumer configs, record key /
  * precombine fields, `--continuous`, async NUM_OR_TIME compaction).
  *
  * One config object replaces the `--hoodie-conf` array:
  *   - `sourceFormat` + `sourceOptions` go VERBATIM to
  *     `spark.readStream.format(...).options(...)` — for `kafka` that is
  *     the standard connector surface (`kafka.bootstrap.servers`,
  *     `subscribe`, `startingOffsets`, `maxOffsetsPerTrigger`, security
  *     configs...), exactly the passthrough the reference relies on.
  *   - `payloadSchema` decodes a JSON `value` column (the JsonKafkaSource
  *     analogue) when the source speaks the Kafka wire schema; any other
  *     source streams its own columns through untouched.
  *   - the write side rides the native exactly-once graft sink: the
  *     micro-batch id is committed atomically with the data, so replayed
  *     batches after a crash are recognized and skipped (offsets are
  *     checkpointed by Structured Streaming; the batch id is the fence).
  *   - `continuous` maps `--continuous` to a ProcessingTime trigger;
  *     otherwise the job drains available input and stops (backfill runs).
  */
object DeltaStream {

  final case class Config(
      sourceFormat: String,
      sourceOptions: Map[String, String],
      targetPath: String,
      checkpoint: String,
      tableOptions: Map[String, String] = Map.empty,
      // JSON payload decode for Kafka-wire sources (value: binary). None →
      // the source's own columns stream through as the record.
      payloadSchema: Option[StructType] = None,
      // schema for file-backed sources that need one up front
      sourceSchema: Option[StructType] = None,
      continuous: Boolean = false,
      triggerMs: Long = 10000L,
      // async table services (the reference's compaction.async.enabled):
      // 0 disables; > 0 compacts to this target in the background
      asyncCompactTargetRows: Long = 0L,
      compactDeltaCommits: Int = 5,
      compactDeltaSeconds: Long = 600L,
      // online clustering (the reference's clustering.schedule.enabled +
      // clustering.delta_commits): reorganize the layout while ingest
      // keeps running — bucket tables split consistent-hash buckets,
      // others sort-rewrite on these columns
      asyncCluster: Boolean = false,
      clusterSortCols: Seq[String] = Nil,
      clusterNumFiles: Int = 4,
      clusterDeltaCommits: Int = 4)

  /** The started ingest plus its background services handle (None when
    * async compaction is off). Stop the query first, then the services. */
  final case class Running(query: StreamingQuery, services: Option[AsyncServices])
      extends AutoCloseable {
    override def close(): Unit = {
      if (query.isActive) query.stop()
      services.foreach(_.close())
    }
  }

  /** Kafka wire columns every Kafka-compatible source carries (plus
    * `headers` when includeHeaders=true); everything else is payload. */
  private val KafkaWireCols = Set(
    "key", "value", "topic", "partition", "offset", "timestamp",
    "timestampType", "headers")

  /** Decode the record stream: a Kafka-wire frame with a JSON payload
    * becomes the payload columns (JsonKafkaSource); anything else passes
    * through. Exposed for tests. */
  private[streaming] def decode(raw: DataFrame, cfg: Config): DataFrame =
    cfg.payloadSchema match {
      case Some(schema) if raw.columns.contains("value") &&
          raw.columns.toSet.subsetOf(KafkaWireCols) =>
        raw.select(from_json(col("value").cast("string"), schema).as("payload"))
          .select("payload.*")
      case _ => raw
    }

  def start(spark: SparkSession, cfg: Config): Running = {
    val reader = spark.readStream.format(cfg.sourceFormat).options(cfg.sourceOptions)
    cfg.sourceSchema.foreach(reader.schema)
    val records = decode(reader.load(), cfg)
    val writer = records.writeStream
      .format("graft")
      .outputMode(OutputMode.Update())
      .options(cfg.tableOptions)
      .option("checkpointLocation", cfg.checkpoint)
      .trigger(
        if (cfg.continuous) Trigger.ProcessingTime(cfg.triggerMs)
        else Trigger.AvailableNow())
    val query = writer.start(cfg.targetPath)
    val services =
      if (cfg.asyncCompactTargetRows > 0L || cfg.asyncCluster) {
        val table = GraftTable(spark,
          graft.sources.GraftDataSource.effectiveConfig(
            spark, cfg.targetPath, cfg.tableOptions))
        Some(new AsyncServices(table, cfg.asyncCompactTargetRows,
          cfg.compactDeltaCommits, cfg.compactDeltaSeconds,
          asyncCluster = cfg.asyncCluster,
          clusterSortCols = cfg.clusterSortCols,
          clusterNumFiles = cfg.clusterNumFiles,
          clusterDeltaCommits = cfg.clusterDeltaCommits).start())
      } else None
    Running(query, services)
  }
}

/** Background table services under the SAME commit protocol as every other
  * writer — the analogue of the reference's async compaction
  * (DeltaStreamerExample.scala: `compaction.async.enabled=true`,
  * `compaction.trigger.strategy=NUM_OR_TIME`) and online clustering
  * (flink consistent_hashing.sql:51-57: `clustering.schedule.enabled`
  * with `clustering.delta_commits=4` while the streaming INSERT runs). A
  * daemon thread polls the triggers and compacts/clusters concurrently
  * with ingest; the commit lease serializes the actual commits, and
  * first-committer-wins conflict detection resolves overlapping file
  * rewrites.
  *
  * Like Hudi's, async compaction is a MERGE-ON-READ pattern: MOR ingest
  * appends delta files (no removes), so it NEVER conflicts with a
  * concurrent compaction commit — the loser-retries path below exists for
  * the rarer services-vs-services races. On COW, a compaction and an
  * upsert can both rewrite a base file and the upsert may lose; use inline
  * compaction between batches there (StreamIngest.toGraftTable).
  */
final class AsyncServices(
    table: GraftTable,
    targetRows: Long,
    deltaCommits: Int = 5,
    deltaSeconds: Long = 600L,
    pollMs: Long = 500L,
    // async clustering (flink consistent_hashing.sql:51-57's
    // clustering.schedule.enabled + clustering.delta_commits): when
    // enabled, the service also polls the clustering trigger and
    // reorganizes the layout ONLINE — bucket-indexed tables via
    // consistent-hash splits, others via a sort rewrite — under the same
    // lease + first-committer-wins protocol as async compaction. MOR
    // ingest appends deltas (no removes), so live writes never lose to
    // the clusterer; a delta landing AFTER the clustering snapshot stays
    // live and still resolves by precombine over the new base files.
    asyncCluster: Boolean = false,
    clusterSortCols: Seq[String] = Nil,
    clusterNumFiles: Int = 4,
    clusterDeltaCommits: Int = 4,
    // async INDEX maintenance (the metadata-table-compaction posture):
    // fold per-commit record/secondary index dirs once more than this
    // many accumulate, so a years-lived streaming table's lookup cost
    // stays O(indexFoldDirs) index dirs instead of O(total commits).
    // A no-op for index-less tables; 0 disables.
    indexFoldDirs: Int = 20) extends AutoCloseable
    with org.apache.spark.internal.Logging {

  require(table.cfg.tableType == graft.tables.TableType.Mor,
    "async table services are a merge-on-read pattern (delta appends " +
      "never conflict with the compactor/clusterer); a COW table's " +
      "upserts can lose a first-committer race against them — compact " +
      "COW inline between batches (StreamIngest.toGraftTable) instead")
  require(!asyncCluster || clusterSortCols.nonEmpty || table.cfg.numBuckets > 0,
    "async clustering needs sort columns (or a bucket index to split)")

  @volatile private var stopped = false
  @volatile private[this] var failureOpt: Option[Throwable] = None
  private val nCompactions = new java.util.concurrent.atomic.AtomicInteger
  private val nClusterings = new java.util.concurrent.atomic.AtomicInteger
  private val nConflicts = new java.util.concurrent.atomic.AtomicInteger
  private val nIndexFolds = new java.util.concurrent.atomic.AtomicInteger
  // latest timeline instant at the last clustering poll that declined to
  // act: a satisfied-but-unsplittable bucket trigger (every bucket under
  // splitThreshold) would otherwise re-run the full liveFiles replay
  // (25-500 ms) on EVERY poll until a new commit lands — only a timeline
  // change can change the decision, so skip the poll until one does
  @volatile private var clusterNoopAt: Option[String] = None

  private val thread = new Thread(() => {
    while (!stopped) {
      try {
        if (targetRows > 0L &&
            TableServices.maybeCompact(table, targetRows, deltaCommits, deltaSeconds).nonEmpty)
          nCompactions.incrementAndGet()
        if (asyncCluster && !stopped) {
          val latest = table.timeline.latestInstant()
          if (latest != clusterNoopAt) {
            if (TableServices.maybeCluster(table, clusterSortCols, clusterNumFiles,
                clusterDeltaCommits).nonEmpty) {
              nClusterings.incrementAndGet()
              clusterNoopAt = None
            } else clusterNoopAt = latest
          }
        }
      } catch {
        case _: InterruptedException => ()
        // lost a first-committer-wins race to a concurrent writer: benign,
        // the trigger re-fires on the next poll against the new timeline.
        // ONLY the dedicated conflict type retries — any other
        // IllegalStateException (tombstoned instant, validator veto,
        // lock-acquire timeout) is a persistent failure and must surface.
        case e: graft.tables.CommitConflictException =>
          nConflicts.incrementAndGet()
          logWarning(s"async table service lost a commit race (retry " +
            s"#${nConflicts.get}) on ${table.cfg.path}: ${e.getMessage}")
        // a lock wait-budget expiry means other live writers held the
        // lease the whole time — transient on a loaded host; the trigger
        // re-fires next poll. Counted with the conflicts, never silent.
        case e: graft.tables.LockTimeoutException =>
          nConflicts.incrementAndGet()
          logWarning(s"async table service lock wait expired (retry " +
            s"#${nConflicts.get}) on ${table.cfg.path}: ${e.getMessage}")
        // shutdown-induced wreckage is not a service failure: close() sets
        // `stopped` BEFORE interrupting, and an interrupt that lands while
        // the compactor is inside NIO surfaces as ClosedByInterruptException
        // (an IOException — the InterruptedException case above never sees
        // it). The aborted compaction rolled back under withReservedInstant;
        // the table is consistent and the trigger would simply re-fire.
        case e: Throwable if stopped || Thread.currentThread().isInterrupted ||
            e.isInstanceOf[java.nio.channels.ClosedByInterruptException] =>
          logInfo(s"async services shutdown interrupted an in-flight " +
            s"compaction on ${table.cfg.path} (rolled back): $e")
        case e: Throwable => failureOpt = Some(e); stopped = true
      }
      // index folds in their OWN failure domain: a fold racing a writer's
      // abort/rollback can lose a listed source dir mid-read, and the fold
      // is re-runnable by design (delete-last + same-target crash
      // recovery) — transient, re-fires next poll; it never mutates
      // committed data. Concurrent lookups are protected by the fold
      // marker protocol (MappingIndex.writeFoldMarker): a lookup that races
      // a fold's mutation span retries or falls back to its non-index
      // path, and a fold aborted here leaves the marker set, degrading
      // lookups (correctly) until the next successful fold clears it.
      // Warn-logged, never silent.
      if (indexFoldDirs > 0 && !stopped) {
        try {
          if (TableServices.maybeCompactIndexes(table, indexFoldDirs) > 0)
            nIndexFolds.incrementAndGet()
        } catch {
          case scala.util.control.NonFatal(e) =>
            logWarning(s"async index fold deferred on ${table.cfg.path}: $e")
        }
      }
      try Thread.sleep(pollMs) catch { case _: InterruptedException => () }
    }
  }, s"graft-async-services-${table.cfg.path}")
  thread.setDaemon(true)

  def start(): this.type = { thread.start(); this }

  def compactionsRun: Int = nCompactions.get
  def clusteringsRun: Int = nClusterings.get
  def indexFoldsRun: Int = nIndexFolds.get
  /** Commit races lost (and retried) so far — observable, never silent. */
  def conflictsRetried: Int = nConflicts.get
  def failure: Option[Throwable] = failureOpt

  override def close(): Unit = {
    stopped = true
    thread.interrupt()
    thread.join(30000)
    failureOpt.foreach(e => throw new IllegalStateException(
      s"async table services failed for ${table.cfg.path}", e))
  }
}
