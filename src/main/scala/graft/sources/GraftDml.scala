package graft.sources

import graft.tables.{GraftTable, TableProperties}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{coalesce, col, lit}

/** SQL UPDATE / MERGE INTO support for graft catalog tables.
  *
  * Spark's own row-level-operation path (SupportsRowLevelOperations) needs
  * a full DSv2 BatchWrite, which graft's V1 write fallback does not provide
  * — so [[GraftDmlRule]] (injected via GraftExtensions) rewrites
  * `UpdateTable` / `MergeIntoTable` plans whose target is a graft table
  * into runnable commands that express the same semantics through the
  * GraftTable API: an UPDATE is an upsert of the matching rows with
  * assignments applied; a MERGE is an upsert of (matched-updated ∪
  * not-matched-inserted) rows — the reference's quickstart.sql:45-66
  * UPDATE/MERGE surface.
  *
  * The captured target/source plans and expressions are spliced verbatim
  * into DataFrame operations at run time, so they resolve naturally
  * whether the rule fired before or after the analyzer resolved them.
  * [[Raw]] hides these trees from the analyzer's resolution check (a
  * command with unresolved expression arguments would otherwise fail
  * analysis before it ever runs).
  */
final case class Raw[T](value: T)

object GraftDml {

  private[sources] def colName(e: Expression): String = e match {
    case u: UnresolvedAttribute => u.nameParts.last
    case a: AttributeReference => a.name
    case other => throw new IllegalArgumentException(
      s"unsupported assignment target: $other (only plain columns)")
  }

  private[sources] def column(e: Expression): Column =
    org.apache.spark.sql.GraftSqlShim.column(e)

  private[sources] def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.GraftSqlShim.ofRows(spark, plan)

  /** User-schema column names of the table at `path`. */
  private[sources] def userColumns(spark: SparkSession, path: String): Seq[String] =
    TableProperties.loadSchema(spark, path).getOrElse(
      GraftTable(spark, TableProperties.load(spark, path).get).read().schema)
      .fieldNames.toSeq
}

/** UPDATE <graft table> SET ... [WHERE ...] → upsert of the updated rows.
  * All SET expressions evaluate against the PRE-update row (SQL semantics:
  * `SET a = b, b = a` swaps). */
final case class GraftUpdateCommand(
    path: String,
    target: Raw[LogicalPlan],
    assignments: Raw[Seq[(String, Expression)]],
    condition: Raw[Option[Expression]]) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val snap = GraftDml.ofRows(spark, target.value)
    val matching = condition.value.map(e => snap.filter(GraftDml.column(e))).getOrElse(snap)
    val setMap = assignments.value.toMap
    val updated = matching.select(GraftDml.userColumns(spark, path).map { c =>
      setMap.get(c).map(e => GraftDml.column(e).cast(snap.schema(c).dataType).as(c))
        .getOrElse(col(s"`$c`"))
    }: _*)
    GraftTable(spark, TableProperties.load(spark, path).get).upsert(updated)
    Seq.empty
  }
}

/** MERGE INTO <graft table> t USING <source> s ON <cond>
  * WHEN MATCHED [AND c] THEN UPDATE SET * | SET assignments | DELETE
  * WHEN NOT MATCHED [AND c] THEN INSERT * | INSERT (cols) VALUES (...)
  * → an upsert of (updated ∪ inserted) rows plus a keyed delete of the
  * DELETE-claimed rows; unmatched target rows are untouched by keyed-upsert
  * semantics. Multiple WHEN MATCHED clauses apply first-match-wins per row
  * (SQL semantics). A matched row claimed by no clause keeps its old
  * version (it is simply absent from the batch). */
final case class GraftMergeCommand(
    path: String,
    target: Raw[LogicalPlan],
    source: Raw[LogicalPlan],
    mergeCondition: Raw[Expression],
    matchedActions: Raw[Seq[MergeAction]],
    notMatchedActions: Raw[Seq[MergeAction]]) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftDml.ofRows(spark, target.value)
    val s = GraftDml.ofRows(spark, source.value)
    val cond = GraftDml.column(mergeCondition.value)
    val cols = GraftDml.userColumns(spark, path)

    def assignSelect(df: DataFrame, assigns: Seq[Assignment],
        fallback: String => Column): DataFrame = {
      val m = assigns.map(a => GraftDml.colName(a.key) -> a.value).toMap
      df.select(cols.map { c =>
        m.get(c).map(e => GraftDml.column(e).cast(t.schema(c).dataType).as(c))
          .getOrElse(fallback(c))
      }: _*)
    }

    // WHEN MATCHED clauses apply first-match-wins per row (SQL semantics):
    // each action sees only matched rows no earlier clause claimed.
    val joined = t.join(s, cond)
    val keyField = TableProperties.load(spark, path).get.keyField
    var remaining: Column = lit(true)
    var updated: Option[DataFrame] = None
    var deleteKeys: Option[DataFrame] = None
    matchedActions.value.foreach { action =>
      val (actionCond, apply) = action match {
        case UpdateStarAction(c) =>
          (c, Some((df: DataFrame) => df.select(cols.map(c0 => s(s"`$c0`").as(c0)): _*)))
        case UpdateAction(c, assigns, _) =>
          (c, Some((df: DataFrame) => assignSelect(df, assigns, c0 => t(s"`$c0`").as(c0))))
        case DeleteAction(c) => (c, None)
        case other => throw new UnsupportedOperationException(
          s"unsupported WHEN MATCHED action: $other " +
            "(supported: UPDATE SET * / UPDATE SET assignments / DELETE)")
      }
      val condCol = actionCond.map(GraftDml.column).getOrElse(lit(true))
      val rows = joined.filter(remaining && coalesce(condCol, lit(false)))
      apply match {
        case Some(f) =>
          val u = f(rows)
          updated = Some(updated.map(_.unionByName(u)).getOrElse(u))
        case None =>
          val k = rows.select(t(s"`$keyField`").as(keyField))
          deleteKeys = Some(deleteKeys.map(_.unionByName(k)).getOrElse(k))
      }
      remaining = remaining && !coalesce(condCol, lit(false))
    }

    val inserted = notMatchedActions.value match {
      case Nil => None
      case Seq(InsertStarAction(actionCond)) =>
        val unmatched = s.join(t, cond, "left_anti")
        val filtered = actionCond.map(e => unmatched.filter(GraftDml.column(e))).getOrElse(unmatched)
        Some(filtered.select(cols.map(c => col(s"`$c`")): _*))
      case Seq(InsertAction(actionCond, assigns)) =>
        val unmatched = s.join(t, cond, "left_anti")
        val filtered = actionCond.map(e => unmatched.filter(GraftDml.column(e))).getOrElse(unmatched)
        Some(assignSelect(filtered, assigns,
          c => throw new UnsupportedOperationException(
            s"INSERT must assign every table column; missing: $c")))
      case other => throw new UnsupportedOperationException(
        s"unsupported WHEN NOT MATCHED actions: ${other.mkString("; ")} " +
          "(supported: a single INSERT * or INSERT (cols) VALUES (...))")
    }

    if (updated.isEmpty && inserted.isEmpty && deleteKeys.isEmpty)
      throw new UnsupportedOperationException(
        "MERGE needs at least one WHEN MATCHED or WHEN NOT MATCHED action")
    val tbl = GraftTable(spark, TableProperties.load(spark, path).get)
    // Every action set must be evaluated against the PRE-merge snapshot:
    // committing the delete first would re-classify the deleted keys as
    // "not matched" when the lazily-evaluated insert branch re-reads the
    // table. So: pin the delete keys eagerly, run the upsert (its batch
    // still evaluates against the unmutated table), then delete.
    val pinnedDeletes = deleteKeys.map(_.localCheckpoint(true))
    val batch = (updated, inserted) match {
      case (Some(u), Some(i)) => Some(u.unionByName(i))
      case (u, i) => u.orElse(i)
    }
    batch.foreach(b => tbl.upsert(b))
    pinnedDeletes.foreach(k => tbl.deleteByKeys(k))
    Seq.empty
  }
}

/** Analyzer rule: route UPDATE/MERGE on graft-catalog tables to the
  * commands above. Fires on both unresolved relations (by catalog lookup)
  * and already-resolved [[DataSourceV2Relation]]s over [[GraftV2Table]]. */
final case class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** The graft table path of a DML target plan, if it IS a graft table.
    * Aliases are kept in place — the captured plan is spliced whole, so
    * `t.col` references resolve against it naturally. */
  private def graftPath(plan: LogicalPlan): Option[String] = plan match {
    case SubqueryAlias(_, child) => graftPath(child)
    case r: DataSourceV2Relation => r.table match {
      case g: GraftV2Table => Some(g.cfg.path)
      case _ => None
    }
    case u: UnresolvedRelation => pathFromIdent(u.multipartIdentifier)
    case _ => None
  }

  private def pathFromIdent(parts: Seq[String]): Option[String] = {
    val cm = spark.sessionState.catalogManager
    val (catName, rest) =
      if (parts.length > 1 && cm.isCatalogRegistered(parts.head)) (parts.head, parts.tail)
      else (cm.currentCatalog.name(), parts)
    scala.util.Try(cm.catalog(catName)).toOption.flatMap {
      case g: GraftCatalog if rest.nonEmpty =>
        val path = g.tablePathOf(rest.init.toArray, rest.last)
        if (TableProperties.load(spark, path).isDefined) Some(path) else None
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case u @ UpdateTable(target, assignments, condition) =>
      graftPath(target) match {
        case Some(path) =>
          GraftUpdateCommand(path, Raw(target),
            Raw(assignments.map(a => GraftDml.colName(a.key) -> a.value)),
            Raw(condition))
        case None => u
      }
    case m @ MergeIntoTable(target, source, cond, matched, notMatched, nmBySource, _) =>
      graftPath(target) match {
        case Some(path) =>
          if (nmBySource.nonEmpty) throw new UnsupportedOperationException(
            "WHEN NOT MATCHED BY SOURCE is not supported on graft tables")
          GraftMergeCommand(path, Raw(target), Raw(source), Raw(cond),
            Raw(matched), Raw(notMatched))
        case None => m
      }
  }
}
