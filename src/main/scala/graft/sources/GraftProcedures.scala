package graft.sources

import graft.tables._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Stored procedures for table services — the Hudi `CALL` surface
  * (quickstart's `call show_commits(...)`, `call run_compaction(...)`,
  * `call savepoint/rollback_to_instant(...)` family) re-expressed through
  * Spark 4's native DSv2 procedure API (SPIP SPARK-44167), no parser
  * extensions:
  *
  * {{{
  *   CALL graft.system.show_commits('ns.trips')
  *   CALL graft.system.compact('ns.trips', 4000000)
  *   CALL graft.system.clean('ns.trips', 10)
  *   CALL graft.system.rollback('ns.trips', '000000003')
  *   CALL graft.system.expire_partitions('ns.trips', 'day', '2024-01-08')
  * }}}
  *
  * Each procedure resolves the table through the catalog's warehouse, runs
  * the same GraftTable service the programmatic API exposes, and returns
  * its result as a one-shot [[LocalScan]] rowset.
  */
private[sources] object GraftProcedures {

  /** One in-mode parameter. */
  private def p(name: String, t: DataType) = ProcedureParameter.in(name, t).build()

  private def str(s: String): UTF8String = UTF8String.fromString(s)

  /** A procedure whose binding is static: parameter list and output schema
    * are fixed; `body` runs the service and returns the result rows. */
  private final class Proc(
      procName: String,
      desc: String,
      params: Seq[ProcedureParameter],
      outSchema: StructType,
      body: (SparkSession, InternalRow) => Seq[InternalRow])
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val out = body(SparkSession.active, input).toArray
      java.util.Collections.singletonList[Scan](new LocalScan {
        override def readSchema(): StructType = outSchema
        override def rows(): Array[InternalRow] = out
      }).iterator()
    }
  }

  /** Build the procedure set bound to `resolvePath` (the owning catalog's
    * warehouse layout: "ns.table" or "table" → table directory). */
  def all(resolvePath: String => String): Map[String, UnboundProcedure] = {

    def table(s: SparkSession, input: InternalRow): GraftTable = {
      val ident = input.getUTF8String(0).toString
      val path = resolvePath(ident)
      val cfg = TableProperties.load(s, path).getOrElse(
        throw new IllegalArgumentException(s"no graft table at $path (from '$ident')"))
      GraftTable(s, cfg)
    }

    def oneString(v: String): Seq[InternalRow] =
      Seq(new GenericInternalRow(Array[Any](str(v))))
    def oneInt(v: Int): Seq[InternalRow] =
      Seq(new GenericInternalRow(Array[Any](v)))

    val procs = Seq[UnboundProcedure](
      new Proc("show_commits",
        "timeline instants with op and file add/remove counts",
        Seq(p("table", StringType)),
        StructType(Seq(
          StructField("instant", StringType), StructField("op", StringType),
          StructField("adds", IntegerType), StructField("removes", IntegerType),
          StructField("rows_added", LongType))),
        (s, in) => {
          val t = table(s, in)
          t.timeline.committedInstants().map { i =>
            val c = t.timeline.readCommit(i)
            new GenericInternalRow(Array[Any](
              str(c.instant), str(c.op), c.adds.size, c.removes.size,
              c.adds.map(_.rows).sum))
          }
        }),
      new Proc("compact",
        "bin-pack small files up to target_rows per file; returns the commit",
        Seq(p("table", StringType), p("target_rows", LongType)),
        StructType(Seq(StructField("instant", StringType))),
        (s, in) => oneString(table(s, in).compact(in.getLong(1)))),
      new Proc("cluster",
        "sort-cluster by comma-separated columns into num_files files",
        Seq(p("table", StringType), p("cols", StringType), p("num_files", IntegerType)),
        StructType(Seq(StructField("instant", StringType))),
        (s, in) => oneString(table(s, in).cluster(
          in.getUTF8String(1).toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          in.getInt(2)))),
      new Proc("clean",
        "KEEP_LATEST_COMMITS cleaner; returns how many files were deleted",
        Seq(p("table", StringType), p("retain_commits", IntegerType)),
        StructType(Seq(StructField("deleted_files", IntegerType))),
        (s, in) => oneInt(table(s, in).cleanRetainCommits(in.getInt(1)))),
      new Proc("clean_orphans",
        "reap data files no commit references, fencing stale writers; " +
          "grace period in minutes",
        Seq(p("table", StringType), p("older_than_minutes", LongType)),
        StructType(Seq(StructField("deleted_files", IntegerType))),
        (s, in) => oneInt(table(s, in).cleanOrphans(in.getLong(1) * 60000L))),
      new Proc("rollback",
        "undo the given commit; replaced files revive via the timeline",
        Seq(p("table", StringType), p("instant", StringType)),
        StructType(Seq(StructField("rolled_back", StringType))),
        (s, in) => {
          val i = in.getUTF8String(1).toString
          table(s, in).rollback(i); oneString(i)
        }),
      new Proc("savepoint",
        "protect the given commit's snapshot from cleaning",
        Seq(p("table", StringType), p("instant", StringType)),
        StructType(Seq(StructField("savepointed", StringType))),
        (s, in) => {
          val i = in.getUTF8String(1).toString
          table(s, in).savepoint(i); oneString(i)
        }),
      new Proc("restore",
        "rewind the table to a savepointed commit",
        Seq(p("table", StringType), p("instant", StringType)),
        StructType(Seq(StructField("restored", StringType))),
        (s, in) => {
          val i = in.getUTF8String(1).toString
          table(s, in).restore(i); oneString(i)
        }),
      new Proc("checkpoint_timeline",
        "snapshot the live-file listing and archive covered commits",
        Seq(p("table", StringType)),
        StructType(Seq(StructField("checkpoint", StringType))),
        (s, in) => oneString(table(s, in).checkpointTimeline())),
      new Proc("expire_partitions",
        "partition TTL: retire partitions whose column value predates cutoff",
        Seq(p("table", StringType), p("column", StringType), p("cutoff", StringType)),
        StructType(Seq(StructField("expired_partition", StringType))),
        (s, in) => TableServices.expirePartitionsByValue(
          table(s, in), in.getUTF8String(1).toString, in.getUTF8String(2).toString)
          .map(v => new GenericInternalRow(Array[Any](str(v))))),
      // Hudi 1.0 `CREATE INDEX ... ON (expr)` / `DROP INDEX` parity
      new Proc("create_expr_index",
        "build an expression index: per-file min/max of a SQL expression",
        Seq(p("table", StringType), p("name", StringType), p("expr", StringType)),
        StructType(Seq(StructField("index", StringType))),
        (s, in) => {
          val n = in.getUTF8String(1).toString
          table(s, in).createExpressionIndex(n, in.getUTF8String(2).toString)
          oneString(n)
        }),
      new Proc("refresh_expr_index",
        "extend an expression index to commits since its build (O(new files))",
        Seq(p("table", StringType), p("name", StringType)),
        StructType(Seq(StructField("files_indexed", IntegerType))),
        (s, in) => oneInt(
          table(s, in).refreshExpressionIndex(in.getUTF8String(1).toString))),
      new Proc("drop_expr_index",
        "drop an expression index",
        Seq(p("table", StringType), p("name", StringType)),
        StructType(Seq(StructField("index", StringType))),
        (s, in) => {
          val n = in.getUTF8String(1).toString
          table(s, in).dropExpressionIndex(n); oneString(n)
        }),
      // HoodieSnapshotExporter parity: materialize the latest snapshot as
      // a self-contained plain-parquet directory (no timeline, no meta
      // columns) for consumers without the graft reader
      new Proc("export_snapshot",
        "export the latest snapshot as plain parquet to dest_path",
        Seq(p("table", StringType), p("dest_path", StringType)),
        StructType(Seq(StructField("rows_exported", LongType))),
        (s, in) => {
          val dest = in.getUTF8String(1).toString
          // refuse a non-empty destination (the snapshot-exporter tool this
          // mirrors does the same) — an overwrite here would silently
          // delete arbitrary caller-supplied paths. Checked through the
          // Hadoop FileSystem of the dest's OWN scheme: a java.io.File
          // check never sees s3a://-style URIs (would wave through a
          // populated remote prefix) and returns a null listing for a
          // regular file (which must count as non-empty, not vacuously
          // empty).
          val destPath = new org.apache.hadoop.fs.Path(dest)
          val destFs = destPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (destFs.exists(destPath)) {
            require(destFs.getFileStatus(destPath).isDirectory,
              s"export_snapshot destination '$dest' exists and is not a directory")
            require(destFs.listStatus(destPath).isEmpty,
              s"export_snapshot destination '$dest' is not empty")
          }
          val snap = table(s, in).read()
          // overwrite is safe: the guard above proved dest empty or absent
          // (errorifexists would refuse an existing-but-empty directory)
          snap.write.mode("overwrite").parquet(dest)
          Seq(new GenericInternalRow(Array[Any](s.read.parquet(dest).count())))
        }),
      new Proc("add_validator",
        "register a pre-commit validator: violation SQL over graft_candidate",
        Seq(p("table", StringType), p("name", StringType), p("violation_sql", StringType)),
        StructType(Seq(StructField("validator", StringType))),
        (s, in) => {
          val n = in.getUTF8String(1).toString
          table(s, in).addPreCommitValidator(n, in.getUTF8String(2).toString)
          oneString(n)
        }),
      new Proc("drop_validator",
        "unregister a pre-commit validator",
        Seq(p("table", StringType), p("name", StringType)),
        StructType(Seq(StructField("validator", StringType))),
        (s, in) => {
          val n = in.getUTF8String(1).toString
          table(s, in).dropPreCommitValidator(n); oneString(n)
        }))

    procs.map(pr => pr.name() -> pr).toMap
  }
}
