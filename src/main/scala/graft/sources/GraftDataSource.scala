package graft.sources

import graft.tables.{ColBound, GraftTable, GraftTableConfig, TableProperties}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SQLContext}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** `format("graft")` — the DataFrame-level read/write surface of GraftTable,
  * mirroring how the reference drives Hudi tables
  * (TestAutomationUtils.scala:33-35 `df.write.format("hudi").options(...)
  * .mode("append").save(path)` / `spark.read.format("hudi").load(path)`).
  *
  * Write options:
  *   - the table options (`graft.key`, required on a new table, and the
  *     rest): see the README "Table options" table. They overlay the
  *     options stored in `_graft/config.json`.
  *   - `graft.operation`: upsert (default) | insert
  *   SaveMode.Overwrite recreates the table; Append applies the operation.
  *
  * Read options:
  *   - none → latest snapshot
  *   - `asOf` → time-travel snapshot at that instant
  *   - `begin` [+ `end`] → incremental read (latest state of rows changed)
  *   - `cdc=true` + `begin` [+ `end`] → change images with `_change_type`
  * Filters are re-applied inside the relation's plan, so the scan's
  * metadata FileIndex skips files and parquet pushdown still engages
  * under `format("graft")` reads, time travel included.
  */
class GraftDataSource
    extends RelationProvider
    with CreatableRelationProvider
    with StreamSourceProvider
    with StreamSinkProvider
    with DataSourceRegister {

  override def shortName(): String = "graft"

  // ------------------------------------------------ streaming write surface

  /** `writeStream.format("graft").start(path)` — the full DeltaStreamer UX
    * with no foreachBatch: each micro-batch upserts (Append/Update mode) or
    * replaces the table (Complete mode). EXACTLY-ONCE: the micro-batch id
    * lands in the commit metadata atomically with the data, so a batch
    * replayed from the checkpoint after a crash is recognized and skipped —
    * the same watermark idea IncrementalPipeline uses. */
  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("writeStream.format(\"graft\") requires .start(path)"))
    val spark = sqlContext.sparkSession
    val cfg = configOf(spark, path, parameters)
    require(cfg.keyField.nonEmpty,
      "writeStream.format(\"graft\") requires option graft.key (or an existing table)")
    val complete = outputMode == org.apache.spark.sql.streaming.OutputMode.Complete()
    new org.apache.spark.sql.execution.streaming.Sink {
      private val BatchKey = "streaming.batchId"
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        val table = GraftTable(spark, cfg)
        // a replayed batch (crash between sink commit and checkpoint write)
        // must not double-apply: the last applied id rides the timeline
        val applied = table.timeline.instants().reverseIterator
          .map(i => table.timeline.readCommit(i).meta.get(BatchKey))
          .collectFirst { case Some(v) => v.toLong }
        if (applied.exists(_ >= batchId)) return
        // the incoming frame is a streaming plan: rebind its physical rows
        // as a batch DataFrame (the standard V1 sink rebind)
        val batch = org.apache.spark.sql.GraftSqlShim.internalCreateDataFrame(
          spark, data.queryExecution.toRdd, data.schema, isStreaming = false)
        val meta = Map(BatchKey -> batchId.toString)
        if (complete) table.insertOverwriteTable(batch, commitMeta = meta)
        else table.upsert(batch, commitMeta = meta)
        ()
      }
    }
  }

  // ------------------------------------------------- streaming read surface

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("readStream.format(\"graft\") requires .load(path)"))
    val s = schema.getOrElse {
      val spark = sqlContext.sparkSession
      val table = GraftTable(spark, configOf(spark, path, parameters))
      // a table can exist (config written) with no committed data yet —
      // fall back to the schema persisted at write time rather than crash
      val base =
        if (table.timeline.liveFiles(None).nonEmpty) table.read().schema
        else TableProperties.loadSchema(spark, path).getOrElse(
          throw new IllegalArgumentException(
            s"graft table at $path has no committed data and no persisted " +
              "schema yet; pass .schema(...) to readStream"))
      // streaming CDC batches also carry `_commit` so consumers can
      // sequence same-key images across a multi-commit batch
      if (parameters.getOrElse("graft.cdc", "false").toBoolean)
        StructType(base.filterNot(f =>
          configOf(spark, path, parameters).keyGen.syntheticCols.contains(f.name)) :+
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType) :+
          org.apache.spark.sql.types.StructField("_commit",
            org.apache.spark.sql.types.StringType))
      else base
    }
    (shortName(), s)
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val path = parameters("path")
    new GraftStreamSource(
      sqlContext.sparkSession,
      configOf(sqlContext.sparkSession, path, parameters),
      sourceSchema(sqlContext, schema, providerName, parameters)._2,
      cdc = parameters.getOrElse("graft.cdc", "false").toBoolean)
  }

  private def configOf(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      parameters: Map[String, String]): GraftTableConfig =
    GraftDataSource.effectiveConfig(spark, path, parameters)

  override def createRelation(
      sqlContext: SQLContext, parameters: Map[String, String]): BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("format(\"graft\") requires .load(path)"))
    val table = GraftTable(sqlContext.sparkSession, configOf(sqlContext.sparkSession, path, parameters))
    // wall-clock time travel (the reference's `as.of.instant`): resolve the
    // epoch-ms option to the latest commit at or before that time
    val asOf = parameters.get("asOf").orElse(
      parameters.get("asOfTimestamp").map(ms =>
        table.timeline.instantAsOfTime(ms.toLong).getOrElse(
          throw new IllegalArgumentException(
            s"no commit at or before epoch ms $ms at $path"))))
    // a fixed-range read is planned once; the snapshot plan at each scan
    def fixed(d: DataFrame) = GraftRelation(sqlContext, d)
    (asOf, parameters.get("begin"),
        parameters.getOrElse("cdc", "false").toBoolean) match {
      case (Some(instant), _, _) => fixed(table.readAsOf(instant))
      case (_, Some(begin), false) =>
        fixed(table.incremental(begin, parameters.getOrElse("end", graft.tables.Timeline.MaxInstant)))
      case (_, Some(begin), true) =>
        fixed(table.cdc(begin, parameters.getOrElse("end", graft.tables.Timeline.MaxInstant)))
      case _ => GraftRelation(sqlContext, table.read())
    }
  }

  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("format(\"graft\") requires .save(path)"))
    val cfg = configOf(sqlContext.sparkSession, path, parameters)
    require(cfg.keyField.nonEmpty,
      "write requires option graft.key (or an existing table with persisted config)")
    val table = GraftTable(sqlContext.sparkSession, cfg)
    val op = parameters.getOrElse("graft.operation", "upsert")
    // committed data, not directory existence — a crashed first write may
    // have created _graft/ (config.json) without any commit
    val exists = table.timeline.instants().nonEmpty
    mode match {
      case SaveMode.Overwrite =>
        table.dropIfExists()
        table.insert(data)
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"graft table already exists at $path")
      case SaveMode.Ignore if exists => // no-op per the SaveMode contract
      case _ =>
        op match {
          case "insert" => table.insert(data)
          case "upsert" => table.upsert(data)
          case other => throw new IllegalArgumentException(s"unknown graft.operation: $other")
        }
    }
    GraftRelation(sqlContext, table.read())
  }
}

object GraftDataSource {

  /** Effective config: the persisted table options (written on first
    * write, like hoodie.properties) overlaid by the call's options. A
    * brand-new table needs at least graft.key. Public so config-driven
    * entry points (DeltaStream) resolve options identically to the source. */
  def effectiveConfig(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      parameters: Map[String, String]): GraftTableConfig =
    TableProperties.fromOptions(path, TableProperties.overlay(
      TableProperties.loadOptions(spark, path).getOrElse(Map.empty), parameters))
}

/** Relation backed by the table's snapshot plan. Pushed filters are
  * applied INSIDE the plan, so Catalyst drives them into its scans: the
  * metadata FileIndex skips files by them (partition paths, key ranges +
  * bucket index + bloom filters, per-file column stats — the Hudi
  * data-skipping index re-expressed) and parquet skips row groups. Spark
  * re-applies them above as well, which is harmless. `plan` is by-name
  * and evaluated at each scan, so a snapshot relation the session catalog
  * caches sees later commits. */
final class GraftRelation(val sqlContext: SQLContext, plan: => DataFrame)
    extends BaseRelation with PrunedFilteredScan {

  override lazy val schema: StructType = plan.schema

  /** The inner plan already produces InternalRows (codegen'd parquet scan
    * with pushed filters); declaring no-conversion hands them to the outer
    * plan as-is instead of copying every row out to `Row` and back. */
  override def needConversion: Boolean = false

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    val filtered = filters.flatMap(FilterToColumn.translate)
      .foldLeft(plan)((d, c) => d.filter(c))
    val projected =
      if (requiredColumns.isEmpty) filtered
      else filtered.select(requiredColumns.map(col).toSeq: _*)
    // RDD[InternalRow] disguised per the needConversion=false contract
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

object GraftRelation {
  def apply(sqlContext: SQLContext, plan: => DataFrame): GraftRelation =
    new GraftRelation(sqlContext, plan)
}

/** Translate Spark `sources.Filter`s back to Columns so pushdown survives
  * the DSv1 boundary. Untranslatable filters are skipped (Spark re-applies
  * every filter above the scan anyway). */
object FilterToColumn {

  /** Per-column [lo, hi] / equality-set bounds implied by the filter
    * conjuncts a scan's FileIndex receives, for metadata file pruning. Only
    * shapes that imply a sound bound contribute (Or/Not/IsNull contribute
    * nothing — pruning must never drop a file a disjunct could match).
    * Strict comparisons prune with their inclusive bound, which is
    * conservative. */
  def bounds(filters: Seq[Filter]): Seq[ColBound] = filters.flatMap(boundsOf)

  private def boundsOf(f: Filter): Seq[ColBound] = f match {
    case EqualTo(a, v) if v != null => Seq(ColBound(a, Some(v), Some(v), Some(Seq(v))))
    case EqualNullSafe(a, v) if v != null => Seq(ColBound(a, Some(v), Some(v), Some(Seq(v))))
    case In(a, vs) if vs.nonEmpty && !vs.contains(null) => Seq(ColBound(a, inSet = Some(vs.toSeq)))
    case GreaterThan(a, v) if v != null => Seq(ColBound(a, lo = Some(v)))
    case GreaterThanOrEqual(a, v) if v != null => Seq(ColBound(a, lo = Some(v)))
    case LessThan(a, v) if v != null => Seq(ColBound(a, hi = Some(v)))
    case LessThanOrEqual(a, v) if v != null => Seq(ColBound(a, hi = Some(v)))
    case And(l, r) => boundsOf(l) ++ boundsOf(r)
    case _ => Nil
  }

  def translate(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) =>
      for { lc <- translate(l); rc <- translate(r) } yield lc && rc
    case Or(l, r) =>
      for { lc <- translate(l); rc <- translate(r) } yield lc || rc
    case Not(c) => translate(c).map(!_)
    case _ => None
  }
}
