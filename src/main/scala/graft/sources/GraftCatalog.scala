package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import graft.tables._
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{AlwaysTrue, BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 `TableCatalog` over graft tables — the SQL DDL/DML surface
  * of the engine, mirroring the reference's spark-sql quickstart flow
  * (spark/sql/quickstart.sql: CREATE TABLE ... / INSERT INTO / UPDATE /
  * MERGE INTO / DELETE / time travel / CTAS) without Hudi jars.
  *
  * Register with:
  * {{{
  *   .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  *   .config("spark.sql.catalog.graft.warehouse", "/path/to/warehouse")
  * }}}
  * then `CREATE TABLE graft.trips (...) USING graft
  * TBLPROPERTIES (primaryKey = 'uuid', preCombineField = 'ts')`.
  *
  * Tables live at `<warehouse>/<namespace...>/<name>`; identity
  * `PARTITIONED BY` columns map to [[FieldPartition]]. Reads go through the
  * V1Scan fallback (the snapshot plan keeps parquet pushdown/pruning);
  * writes through V1Write (INSERT INTO = upsert, INSERT OVERWRITE = one
  * replace-all commit that preserves the timeline). DELETE uses the
  * filter-based SupportsDelete path; UPDATE/MERGE are rewritten by
  * [[GraftDmlRule]] (Spark's native row-level path requires a full DSv2
  * BatchWrite, which the V1 fallback does not cover).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  def tablePathOf(namespace: Array[String], name: String): String =
    (warehouse +: namespace.toSeq :+ name).mkString("/")

  private def fs =
    new Path(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace.toSeq :+ "")
    fs.listStatus(dir).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => fs.exists(new Path(dir, s"$n/_graft/config.json")))
      .map(n => Identifier.of(namespace, n))
  }

  override def loadTable(ident: Identifier): Table = {
    val path = tablePathOf(ident.namespace(), ident.name())
    TableProperties.load(spark, path) match {
      case Some(cfg) => new GraftV2Table(cfg, ident, asOf = None)
      case None => throw new NoSuchTableException(ident)
    }
  }

  /** `VERSION AS OF '<instant>'` time travel. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = tablePathOf(ident.namespace(), ident.name())
    TableProperties.load(spark, path) match {
      case Some(cfg) => new GraftV2Table(cfg, ident, asOf = Some(version))
      case None => throw new NoSuchTableException(ident)
    }
  }

  /** `TIMESTAMP AS OF` time travel (micros since epoch). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val path = tablePathOf(ident.namespace(), ident.name())
    TableProperties.load(spark, path) match {
      case Some(cfg) =>
        val instant = Timeline(spark, path).instantAsOfTime(timestampMicros / 1000L)
          .getOrElse(throw new NoSuchTableException(ident))
        new GraftV2Table(cfg, ident, asOf = Some(instant))
      case None => throw new NoSuchTableException(ident)
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    TableProperties.load(spark, tablePathOf(ident.namespace(), ident.name())).isDefined

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val part = partitions.toSeq match {
      case Nil => Nil
      case Seq(id) if id.name == "identity" =>
        Seq(TableProperties.Partition -> id.references()(0).fieldNames().mkString("."))
      case other => throw new IllegalArgumentException(
        s"only identity PARTITIONED BY columns are supported, got ${other.mkString(", ")}")
    }
    val cfg = TableProperties.fromOptions(tablePathOf(ident.namespace(), ident.name()),
      properties.asScala.toMap ++ part)
    require(cfg.keyField.nonEmpty, s"CREATE TABLE $ident requires TBLPROPERTIES (primaryKey = '<col>')")
    require(schema.fieldNames.contains(cfg.keyField),
      s"primaryKey ${cfg.keyField} is not a column of $ident")
    TableProperties.save(spark, cfg)
    TableProperties.saveSchema(spark, cfg.path, schema)
    new GraftV2Table(cfg, ident, asOf = None)
  }

  /** ALTER TABLE ADD/DROP COLUMNS — both metadata-only: adds widen the
    * persisted union schema (existing rows read NULL), drops hide the
    * column immediately and purge it on the next rewrite (the existing
    * dropColumns machinery). Renames/type-changes would need parquet
    * column-id mapping the format does not carry — refused, not faked. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = tablePathOf(ident.namespace(), ident.name())
    val cfg = TableProperties.load(spark, path)
      .getOrElse(throw new NoSuchTableException(ident))
    val table = GraftTable(spark, cfg)
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "nested column changes are not supported")
        // metadata-only adds can only append a nullable trailing column:
        // FIRST/AFTER would reorder existing parquet, and NOT NULL cannot
        // hold for already-written rows (which read NULL) — refused, not
        // silently downgraded, same policy as renames/type changes
        if (a.position() != null) throw new UnsupportedOperationException(
          "ADD COLUMN FIRST/AFTER is not supported: a metadata-only add " +
            "always appends at the end")
        if (!a.isNullable) throw new UnsupportedOperationException(
          "ADD COLUMN ... NOT NULL is not supported: existing rows read " +
            "NULL for a metadata-only add")
        table.addColumns(Seq(org.apache.spark.sql.types.StructField(
          a.fieldNames()(0), a.dataType(), nullable = true)))
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          "nested column changes are not supported")
        table.dropColumns(Seq(d.fieldNames()(0)))
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change not supported: $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(tablePathOf(ident.namespace(), ident.name()))
    fs.exists(p) && fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val dest = new Path(tablePathOf(newIdent.namespace(), newIdent.name()))
    fs.mkdirs(dest.getParent)
    fs.rename(new Path(tablePathOf(oldIdent.namespace(), oldIdent.name())), dest)
  }

  override def invalidateTable(ident: Identifier): Unit = ()

  // --------------------------------------------------------- procedures

  /** Table services as SQL stored procedures (Hudi's `CALL` surface) under
    * the `system` namespace: `CALL <catalog>.system.compact('ns.tbl', N)`.
    * See [[GraftProcedures]]. */
  private lazy val procedures =
    GraftProcedures.all(ident =>
      (warehouse +: ident.split("\\.").toSeq).mkString("/"))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    procedures.keys.toArray.sorted.map(n => Identifier.of(Array("system"), n))

  override def loadProcedure(ident: Identifier):
      org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!(ident.namespace().sameElements(Array("system"))))
      throw new IllegalArgumentException(s"no such procedure $ident")
    procedures.getOrElse(ident.name(), throw new IllegalArgumentException(s"no such procedure $ident"))
  }

  // --------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).filter(_.isDirectory)
      .filterNot(s => fs.exists(new Path(s.getPath, "_graft/config.json")))
      .map(s => Array(s.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      fs.exists(new Path((warehouse +: namespace.toSeq).mkString("/")))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace.toSeq :+ "")
    Map.empty[String, String].asJava
  }

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit = {
    fs.mkdirs(new Path((warehouse +: namespace.toSeq).mkString("/")))
    ()
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = new Path((warehouse +: namespace.toSeq).mkString("/"))
    fs.exists(p) && fs.delete(p, cascade)
  }
}

/** A graft table as seen through the DSv2 catalog: batch read via the
  * V1Scan fallback over the snapshot plan (pushdown/pruning preserved),
  * batch write via V1Write (append = upsert, overwrite = replace-all
  * commit), filter-based DELETE. `asOf` carries time travel. */
final class GraftV2Table(
    val cfg: GraftTableConfig,
    ident: Identifier,
    asOf: Option[String])
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  private def spark: SparkSession = SparkSession.active
  private def table: GraftTable = GraftTable(spark, cfg)

  override def name(): String = ident.toString

  override def schema(): StructType =
    TableProperties.loadSchema(spark, cfg.path)
      .getOrElse(table.read().schema)

  override def partitioning(): Array[Transform] =
    cfg.keyGen.partitionCols.map(Expressions.identity).toArray

  override def properties(): util.Map[String, String] =
    (TableProperties.toOptions(cfg) + (TableCatalog.PROP_LOCATION -> cfg.path)).asJava

  override def version(): String =
    asOf.orElse(table.timeline.latestInstant()).orNull

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.TRUNCATE)

  private def snapshot(): DataFrame =
    asOf.map(table.readAsOf).getOrElse(table.read())

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(snapshot())

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty, s"cannot write to a time-travel snapshot of ${name()}")
    new GraftWriteBuilder(cfg)
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => FilterToColumn.translate(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val cond = filters.flatMap(FilterToColumn.translate)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    table.delete(cond)
  }
}

/** Scan with column pruning + filters applied INSIDE the snapshot plan, so
  * Catalyst pushes them into its scans: the metadata FileIndex skips files
  * by them (partition paths, key ranges + bucket/bloom, column stats) and
  * parquet skips row groups, time-travel snapshots included. Every filter
  * is also reported back for Spark to re-apply above, which is harmless. */
final class GraftScanBuilder(df0: DataFrame)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var df = df0
  private var pushed = Array.empty[Filter]

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val translated = filters.flatMap(f => FilterToColumn.translate(f).map(f -> _))
    pushed = translated.map(_._1)
    translated.foreach { case (_, c) => df = df.filter(c) }
    filters // all re-applied above the scan
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    df = df.select(requiredSchema.fieldNames.map(n => col(s"`$n`")).toSeq: _*)

  override def build(): Scan = GraftV1ScanWrap(df)
}

final case class GraftV1ScanWrap(df: DataFrame) extends V1Scan {
  override def readSchema(): StructType = df.schema
  override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T =
    new GraftV1TableScan(context, df).asInstanceOf[T]
}

final class GraftV1TableScan(context: SQLContext, df: DataFrame)
    extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = context
  override def schema: StructType = df.schema
  /** Pruned/filtered inner plan feeds the outer plan as InternalRows —
    * no per-row `Row` conversion at the relation boundary. */
  override def needConversion: Boolean = false
  override def buildScan(): RDD[Row] =
    df.queryExecution.toRdd.asInstanceOf[RDD[Row]]
}

/** V1 write fallback: INSERT INTO appends as an upsert (keyed semantics,
  * like Hudi primary-key tables); INSERT OVERWRITE / TRUNCATE replace the
  * whole live file set in ONE commit so earlier snapshots stay readable. */
final class GraftWriteBuilder(cfg: GraftTableConfig) extends WriteBuilder
    with SupportsTruncate with SupportsOverwrite {

  private var overwriteAll = false

  override def truncate(): WriteBuilder = { overwriteAll = true; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    require(filters.forall(_.isInstanceOf[AlwaysTrue]),
      "partial INSERT OVERWRITE (by filter) is not supported; " +
        "use insertOverwritePartitions through the table API")
    overwriteAll = true
    this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, overwrite: Boolean): Unit = {
        val tbl = GraftTable(data.sparkSession, cfg)
        if (overwriteAll || overwrite) tbl.insertOverwriteTable(data)
        else tbl.upsert(data)
      }
    }
  }
}
