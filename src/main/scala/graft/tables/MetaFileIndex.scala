package graft.tables

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A Spark [[FileIndex]] served entirely from graft's COMMIT METADATA —
  * the file set and every file's length come from the timeline's
  * [[FileMeta]] rows, so planning a scan costs ZERO filesystem calls
  * (no per-file HEAD, no directory LIST). This is the same move Hudi's
  * metadata table and Delta's transaction log make: on an object store,
  * `spark.read.parquet(file1..fileN)` pays one round-trip per path just
  * to rebuild statuses the table format already committed. graft's
  * commit JSON records `len` at write time (harvested for free from the
  * post-write listing), so the statuses are exact and the files are
  * immutable once committed — a fabricated (length, path) status is as
  * good as a listed one. Modification time is 0: Spark uses it only for
  * cache keys, never for correctness of a one-shot scan.
  *
  * It is also the ONE place a scan skips files (Hudi's `HoodieFileIndex`
  * data skipping): `listFiles` turns the filters Catalyst pushed into the
  * scan into [[ColBound]]s and keeps only the files `prune` says may hold
  * a matching row ([[GraftTable.pruneFiles]]). The filters are predicates
  * on this scan's own rows, so dropping a file none of whose rows can pass
  * them never changes the result. `inputFiles` stays the unpruned set.
  *
  * Reference anchor: the reference's Glue benchmark measures exactly the
  * S3-call blowup this removes (per-query listing of data paths). */
private[tables] final class MetaFileIndex(
    files: Seq[FileMeta], pathOf: FileMeta => Path,
    prune: (Seq[FileMeta], Seq[ColBound]) => Seq[FileMeta]) extends FileIndex {

  private val paths = files.map(pathOf)

  override def rootPaths: Seq[Path] = paths
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val bounds = graft.sources.FilterToColumn.bounds((partitionFilters ++ dataFilters)
      .flatMap(org.apache.spark.sql.GraftSqlShim.translateFilter))
    val kept = if (bounds.isEmpty) files else prune(files, bounds)
    Seq(PartitionDirectory(InternalRow.empty,
      kept.map(f => new FileStatus(f.len, false, 1, 0L, 0L, pathOf(f))).toArray))
  }
  override def inputFiles: Array[String] = paths.map(_.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.len).sum
  override def partitionSchema: StructType = StructType(Nil)
}

private[tables] object MetaFileIndex {

  /** Parquet scan over `files` with an explicit schema and no filesystem
    * metadata calls at plan time. Column pruning, parquet filter pushdown,
    * and `_metadata.file_path` behave exactly as with `spark.read.parquet`
    * — the relation is the same HadoopFsRelation + ParquetFileFormat pair,
    * only the listing is metadata-served (and pruned by `prune`). */
  def scan(spark: SparkSession, files: Seq[FileMeta], pathOf: FileMeta => Path,
      schema: StructType, prune: (Seq[FileMeta], Seq[ColBound]) => Seq[FileMeta]): DataFrame = {
    val rel = HadoopFsRelation(new MetaFileIndex(files, pathOf, prune), StructType(Nil),
      schema, None, new ParquetFileFormat(), Map.empty)(spark)
    spark.baseRelationToDataFrame(rel)
  }
}
