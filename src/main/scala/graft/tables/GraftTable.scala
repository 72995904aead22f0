package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, IntegerType, LongType,
  ShortType, StringType, StructField, StructType}

/** Names of the per-record metadata columns stored in every data file
  * (the graft analogues of Hudi's `_hoodie_commit_time` /
  * `_hoodie_record_key`, reference TestAutomationUtils.scala:17
  * HOODIE_META_COLUMNS). `_graft_commit_time` is what makes incremental
  * reads a metadata filter instead of a snapshot diff.
  */
object GraftMeta {
  val CommitTime = "_graft_commit_time"
  val RecordKey = "_graft_record_key"
  val Bucket = "_graft_bucket"
  val Deleted = "_graft_deleted" // MOR tombstone marker
  val cols: Seq[String] = Seq(CommitTime, RecordKey, Deleted)
}

/** Partition-path generators — the analogue of Hudi key generators
  * (reference TestAutomationUtils.scala:103-110, CustomKeyGenerator with
  * timestamp-based partition paths). `apply` adds any derived columns;
  * `partitionCols` are written as hive-style directories. */
sealed trait KeyGen {
  def apply(df: DataFrame): DataFrame = df
  def partitionCols: Seq[String] = Nil
  /** Columns synthesized by this keygen (not part of the user schema). */
  def syntheticCols: Seq[String] = Nil
}

case object NoPartition extends KeyGen

/** Partition by an existing (string) field, hive-style. */
final case class FieldPartition(field: String) extends KeyGen {
  override def partitionCols: Seq[String] = Seq(field)
}

/** Timestamp-based key generator: partitions by a date format of `tsField`,
  * like the reference's timebased keygen (`output.dateformat=yyyy/MM/dd`,
  * TestAutomationUtils.scala:103-110). The format must not contain '/' or
  * characters illegal in paths beyond the hive-style `col=value` scheme. */
final case class TimestampDayPartition(
    tsField: String, outCol: String = "p_day", format: String = "yyyy-MM-dd") extends KeyGen {
  override def apply(df: DataFrame): DataFrame =
    df.withColumn(outCol, date_format(col(tsField), format))
  override def partitionCols: Seq[String] = Seq(outCol)
  override def syntheticCols: Seq[String] = Seq(outCol)
}

/** Table types, mirroring the reference's COPY_ON_WRITE / MERGE_ON_READ
  * (DeltaStreamerExample.scala:20-21, flink quickstart.sql `table.type`):
  * COW rewrites colliding files on every upsert (read-optimized); MOR
  * appends delta files and resolves the latest record version at read time
  * (write-optimized), with `compact` folding deltas back into base files. */
object TableType {
  val Cow = "cow"
  val Mor = "mor"
}

/** One conjunctive predicate bound on a column, for metadata file pruning
  * (GraftTable.pruneFiles, behind every scan's MetaFileIndex): value in
  * [lo, hi] (None = unbounded), and/or in an equality set (EqualTo/In). A
  * file must be compatible with EVERY bound to survive — the scan still
  * applies the full predicate to the rows. */
final case class ColBound(
    col: String,
    lo: Option[Any] = None,
    hi: Option[Any] = None,
    inSet: Option[Seq[Any]] = None)

final case class GraftTableConfig(
    path: String,
    keyField: String,
    precombineField: String,
    keyGen: KeyGen = NoPartition,
    numBuckets: Int = 0,
    writeChangelog: Boolean = false,
    tableType: String = TableType.Cow,
    statsCols: Seq[String] = Nil,
    recordIndexBuckets: Int = 0,
    secondaryIndexCols: Seq[String] = Nil) {
  require(tableType == TableType.Cow || tableType == TableType.Mor,
    s"unknown tableType $tableType")
  require(!(tableType == TableType.Mor && writeChangelog),
    "CDC changelog is supported on COW tables only")
  require(recordIndexBuckets >= 0, "recordIndexBuckets must be >= 0")
}

/** A copy-on-write, record-keyed lakehouse table on plain parquet + a JSON
  * commit timeline — the Spark-native re-expression of the reference's Hudi
  * table semantics (quickstart.sql: INSERT/UPDATE/MERGE/DELETE, TIMESTAMP AS
  * OF, hudi_table_changes; TestAutomationUtils upsert/precombine contract).
  *
  * Scale design (SURVEY.md §3/§5):
  *   - All mutation math is DataFrame joins — Catalyst plans them, AQE
  *     handles skew; nothing is collected to the driver except file lists.
  *   - Upsert rewrites ONLY files that provably contain batch keys: pruned
  *     first by key-range stats and hash-bucket id from the timeline (sound:
  *     a file containing key k always has minKey<=k<=maxKey), then confirmed
  *     by a key leftsemi-join against the candidates.
  *   - Incremental/CDC reads are metadata filters (`_graft_commit_time`) or
  *     pre-materialized changelog files — never snapshot diffs.
  *   - Single-writer (driver-serialized commits); commit files are
  *     temp-written then atomically renamed.
  */
final class GraftTable(val spark: SparkSession, val cfg: GraftTableConfig) {

  val timeline: Timeline = Timeline(spark, cfg.path)
  private var configSaved = false
  private var savedSchemaJson: String = null
  /** Persist the table config on first write (Hudi hoodie.properties
    * analogue) so readers need no options. */
  private def ensureConfig(): Unit =
    if (!configSaved) { TableProperties.save(spark, cfg); configSaved = true }
  private val root = new Path(cfg.path)
  private[tables] val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def rootStr: String = fs.makeQualified(root).toUri.getPath
  /** The record index and the secondary indexes: one layout, one read
    * path, one fold ([[MappingIndex]]). */
  private[tables] val indexes =
    new MappingIndex(spark, fs, timeline, root, cfg.recordIndexBuckets)

  private def keyCol: Column = col(cfg.keyField)

  /** Zero-padded string form of the key so string range pruning matches
    * numeric order (keys are assumed non-negative for integral types). */
  private def keyStr(c: Column, df: DataFrame): Column =
    df.schema(cfg.keyField).dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        lpad(c.cast("string"), 20, "0")
      case _ => c.cast("string")
    }

  private def bucketOf(c: Column): Column = pmod(xxhash64(c), lit(cfg.numBuckets))

  // ---------------------------------------------------------------- reads

  /** Read an explicit file set. Partition columns live IN the data files
    * (the hive-style dirs only duplicate them as `_gp_<col>=` path segments
    * for humans and external tools), and `recursiveFileLookup` disables
    * Spark's partition inference — which would otherwise reject mixing
    * files from different commit-instant directories
    * (CONFLICTING_DIRECTORY_STRUCTURES). File skipping is a timeline
    * metadata operation here: the scan's [[MetaFileIndex]] hands the
    * filters Catalyst pushes into it to [[pruneFiles]] (the record index
    * only at `builtAt`, the instant the caller listed `files` at), unless
    * `prune` is off because the caller already chose the files by them. */
  private[tables] def readFiles(files: Seq[FileMeta], builtAt: Option[String] = None,
      prune: Boolean = true): DataFrame = {
    require(files.nonEmpty, s"no live files in ${cfg.path}")
    // With the accumulated union schema from _graft/schema.json the scan
    // needs NO schema-inference job (mergeSchema reads every footer on every
    // read — a whole Spark job, and at cloud scale a storage-request storm).
    // Files missing a column (older files pre-evolution, bootstrapped
    // external files without meta columns) read it as null, which is
    // exactly mergeSchema's semantics.
    readSchema() match {
      case Some(sch) if files.forall(_.len > 0L) =>
        // every file's length is in the commit metadata: plan the scan
        // from a metadata-served FileIndex — ZERO per-file LIST/HEAD
        // round-trips (S3CostModel measured the listed path at ~6 calls
        // per file just to rebuild statuses the commit already recorded)
        MetaFileIndex.scan(spark, files,
          f => fs.makeQualified(new Path(dataPath(f.path))), sch,
          if (prune) pruneFiles(_, _, builtAt) else (all, _) => all)
      case Some(sch) =>
        spark.read.option("recursiveFileLookup", "true")
          .schema(sch).parquet(files.map(f => dataPath(f.path)): _*)
      case None =>
        spark.read.option("recursiveFileLookup", "true")
          .option("mergeSchema", "true")
          .parquet(files.map(f => dataPath(f.path)): _*)
    }
  }

  // cached union read schema (user schema + graft meta columns); invalidated
  // whenever this handle persists a new schema or drops columns
  // (a missing schema is not cached: another handle may write it later)
  private var readSchemaCache: Option[StructType] = None
  private def invalidateReadSchema(): Unit = readSchemaCache = None
  private def readSchema(): Option[StructType] =
    readSchemaCache.orElse {
      readSchemaCache = TableProperties.loadSchema(spark, cfg.path).map { user =>
        StructType(user.fields.toSeq ++ Seq(
          StructField(GraftMeta.CommitTime, StringType),
          StructField(GraftMeta.RecordKey, StringType),
          StructField(GraftMeta.Deleted, BooleanType)))
      }
      readSchemaCache
    }

  /** Absolute read path of a committed file: table-relative, or external
    * (`ext:`-prefixed, registered by [[bootstrap]] and never owned —
    * `clean` won't delete it). */
  private def dataPath(rel: String): String =
    if (rel.startsWith("ext:")) rel.stripPrefix("ext:") else s"${cfg.path}/$rel"

  /** MOR row-level resolution: latest version per key wins (commit time,
    * then precombine), tombstones filtered. COW snapshots are already
    * resolved physically, so this is the identity there. */
  private def resolve(df: DataFrame): DataFrame =
    if (cfg.tableType == TableType.Cow) df
    else {
      val w = Window.partitionBy(cfg.keyField)
        .orderBy(col(GraftMeta.CommitTime).desc, col(cfg.precombineField).desc)
      df.withColumn("_graft_rn", row_number().over(w))
        .filter(col("_graft_rn") === 1 && !col(GraftMeta.Deleted))
        .drop("_graft_rn")
    }

  /** The [[FileMeta]] rows under which `paths` were originally committed —
    * resolved by walking the (archived + hot) commit history's adds. Used
    * by derived CDC images of remove-only commits, whose Commit carries
    * only the removed PATHS; the metas (and the files) outlive the remove
    * until `clean`, the same availability contract CDC already has. */
  private def fileMetasByPath(paths: Set[String]): Seq[FileMeta] =
    timeline.committedInstants()
      .flatMap(i => timeline.readCommit(i).adds.filter(f => paths(f.path)))
      .distinctBy(_.path)

  /** For every file added by a commit visible at the bound: its adding
    * instant and whether that commit was a `delta` (MOR un-merged updates
    * and tombstones). Archived commits still answer (readCommit falls back
    * to `_graft/archive/`). */
  private def addCommits(asOf: Option[String]): Map[String, (String, Boolean)] =
    timeline.committedInstants()
      .filter(i => asOf.forall(i <= _))
      .flatMap { i =>
        val c = timeline.readCommit(i)
        c.adds.map(f => f.path -> (i, c.op == "delta"))
      }.toMap

  /** Snapshot read with MOR resolution scoped to contested keys: base rows
    * whose key has NO delta stream through with no shuffle (an anti-join
    * that AQE broadcasts when the delta key set is small — the common case
    * between compactions); only delta rows plus the base rows they contest
    * enter the per-key resolution window. A full-snapshot window would
    * shuffle the whole table on every MOR read.
    *
    * The scoped path is only sound when all live base files came from ONE
    * commit: two insert() calls with overlapping keys collide entirely in
    * base files — no delta involved, so the anti-join can't see them. With
    * multiple live base commits the full resolve runs instead (compaction
    * folds everything into one base commit and restores the fast path). */
  private def snapshotWithMeta(asOf: Option[String],
      allowArchived: Boolean = false): DataFrame = {
    // the instant this snapshot is, taken BEFORE its listing: its scans may
    // ask the record index only while that is still the latest instant
    val builtAt =
      if (cfg.recordIndexBuckets > 0) timeline.latestInstant().filter(l => asOf.forall(l <= _))
      else None
    val files = timeline.liveFiles(asOf, allowArchived)
    def scan(part: Seq[FileMeta]): DataFrame = readFiles(part, builtAt)
    // zero live files is a VALID snapshot (a delete can empty the table, a
    // crashed first write leaves config+schema only): an empty frame with
    // the persisted schema, not an error
    if (files.isEmpty) {
      val sch = readSchema().getOrElse(throw new IllegalStateException(
        s"table ${cfg.path} has no live files and no persisted schema"))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
    }
    if (cfg.tableType == TableType.Cow) return scan(files)
    val adders = addCommits(asOf)
    val dp = adders.collect { case (p, (_, true)) => p }.toSet
    val (delta, base) = files.partition(f => dp.contains(f.path))
    val baseCommits = base.flatMap(f => adders.get(f.path).map(_._1)).distinct
    if (delta.isEmpty || base.isEmpty || baseCommits.size > 1)
      return resolve(scan(files))
    val deltas = scan(delta)
    val baseDf = scan(base)
    val deltaKeys = deltas.select(keyCol).distinct()
    val untouched = baseDf.join(deltaKeys, Seq(cfg.keyField), "leftanti")
      // physically-resolved base rows can still carry tombstones from a
      // pre-compaction delete that compact() folded in — filter like resolve
      .filter(!col(GraftMeta.Deleted))
    val contested = baseDf.join(deltaKeys, Seq(cfg.keyField), "leftsemi")
      .unionByName(deltas, allowMissingColumns = true)
    untouched.unionByName(resolve(contested), allowMissingColumns = true)
  }

  private def dropInternal(df: DataFrame): DataFrame =
    df.drop((GraftMeta.cols :+ GraftMeta.Bucket) ++ droppedCols: _*)

  // -------------------------------------------------- column-drop evolution

  private var droppedCache: Option[Seq[String]] = None
  private def droppedPath = new Path(s"${cfg.path}/_graft/dropped.json")

  /** Columns dropped via [[dropColumns]] — hidden from every read path. */
  private def droppedCols: Seq[String] = droppedCache.getOrElse {
    val d = TableProperties.readJson(fs, droppedPath).fold(Seq.empty[String]) { arr =>
      import scala.jdk.CollectionConverters._
      arr.asScala.map(_.asText()).toSeq
    }
    droppedCache = Some(d)
    d
  }

  /** ALTER TABLE DROP COLUMN — metadata-only, like Hudi/Iceberg column
    * drops: the columns vanish from every read immediately; existing data
    * files are untouched, and the next rewrite of a file group (upsert/
    * compact/cluster) physically purges them from the rewritten files.
    * (CDC changelog files written before the drop keep their historical
    * schema.) */
  /** Pre-declare new NULLABLE columns (the ALTER TABLE ADD COLUMNS path):
    * widens the persisted union schema, so reads immediately surface the
    * columns as NULL for every existing row — the same semantics a later
    * add-column write would install, just ahead of any data. Metadata-only:
    * no file is read or rewritten at any table size. */
  def addColumns(newCols: Seq[org.apache.spark.sql.types.StructField]): Unit = {
    // meta lock: this load-modify-save must not interleave with an
    // ingest writer's schema union (or another DDL) — see withMetaLock
    timeline.withMetaLock {
      val existing = TableProperties.loadSchema(spark, cfg.path).getOrElse(
        throw new IllegalStateException(
          s"table ${cfg.path} has no persisted schema yet; write data first"))
      val dup = newCols.filter(f =>
        existing.exists(_.name == f.name) || droppedCols.contains(f.name))
      require(dup.isEmpty,
        s"columns already exist (or were dropped): ${dup.map(_.name).mkString(", ")}")
      TableProperties.saveSchema(spark, cfg.path,
        org.apache.spark.sql.types.StructType(
          existing.fields.toSeq ++ newCols.map(_.copy(nullable = true))))
    }
    invalidateReadSchema()
  }

  def dropColumns(colsToDrop: Seq[String]): Unit = {
    require(!colsToDrop.contains(cfg.keyField), "cannot drop the record key column")
    require(!colsToDrop.contains(cfg.precombineField), "cannot drop the precombine column")
    // ONE meta-lock scope (never nest withMetaLock — the commit file lock
    // is not reentrant) covering both read-modify-writes: the dropped
    // list and the schema sync must not interleave with another handle's
    // drop or an ingest writer's union
    timeline.withMetaLock {
      droppedCache = None // fresh read under the lock: see cross-handle drops
      val merged = (droppedCols ++ colsToDrop).distinct
      TableProperties.writeJson(fs, droppedPath, merged)
      droppedCache = Some(merged)
      // keep the persisted streaming-source schema in sync
      TableProperties.loadSchema(spark, cfg.path).foreach { sch =>
        TableProperties.saveSchema(spark, cfg.path,
          org.apache.spark.sql.types.StructType(sch.filterNot(f => merged.contains(f.name))))
      }
    }
    invalidateReadSchema()
  }

  /** Latest-snapshot read (user columns only). */
  def read(): DataFrame = dropInternal(snapshotWithMeta(None))

  /** File-level metadata of the snapshot as a queryable DataFrame — the
    * FILES view of the table metadata (the reference's Hudi metadata-table
    * listing, `hudi_metadata(...)` files partition). Served entirely from
    * the timeline: no data file is opened. O(#files) driver rows — this IS
    * the metadata, the same listing every read already materializes. */
  def filesMeta(asOf: Option[String] = None): DataFrame = {
    val rows = timeline.liveFiles(asOf).map(f =>
      (f.path, f.partition, f.bucket, f.minKey, f.maxKey, f.rows))
    spark.createDataFrame(rows)
      .toDF("file_path", "partition", "bucket", "min_key", "max_key", "n_rows")
  }

  /** MOR read-optimized view (Hudi's RO query type): BASE files only — no
    * delta resolution, no per-key window — trading freshness (un-compacted
    * updates/deletes are invisible) for pure columnar-scan speed. Equals
    * the snapshot after every compaction. COW tables: same as [[read]]. */
  def readOptimized(): DataFrame = {
    if (cfg.tableType == TableType.Cow) return read()
    val files = timeline.liveFiles(None)
    val adders = addCommits(None)
    val base = files.filterNot(f => adders.get(f.path).exists(_._2))
    if (base.isEmpty) return read().filter(lit(false))
    // physically-resolved base rows can still carry folded-in tombstones
    dropInternal(readFiles(base).filter(!col(GraftMeta.Deleted)))
  }

  /** Snapshot AS OF `instant` (inclusive) — quickstart.sql:77-81. */
  def readAsOf(instant: String): DataFrame = dropInternal(snapshotWithMeta(Some(instant)))

  /** Snapshot AS OF a wall-clock time (epoch millis) — the reference's
    * `TIMESTAMP AS OF '2022-03-07 09:16:28.100'` family resolves the same
    * way: latest commit whose commit time is <= the given time. */
  def readAsOfTimestamp(epochMs: Long): DataFrame = {
    val i = timeline.instantAsOfTime(epochMs).getOrElse(
      throw new IllegalArgumentException(s"no commit at or before epoch ms $epochMs"))
    readAsOf(i)
  }

  /** Register the latest snapshot as a temp view so plain `spark.sql`
    * SELECTs run against the table (the quickstart.sql query surface). */
  def createOrReplaceView(name: String): Unit = read().createOrReplaceTempView(name)

  /** Records inserted/updated in instants (begin, end] at their latest
    * state — `hudi_table_changes(..., 'latest_state', begin, end)`
    * (quickstart.sql:83-90). A pure metadata filter on the snapshot. */
  def incremental(beginExclusive: String, endInclusive: String): DataFrame =
    // allowArchived: this is the streaming source's getBatch — Spark's
    // recovery contract replays the last WAL'd batch with the SAME offset
    // range after a restart, and a timeline checkpoint that archived that
    // range in between must not wedge the stream (archive renames commit
    // files, so the replay is exact; interactive readAsOf keeps its loud
    // refusal — only the incremental/recovery path pays the archive read)
    dropInternal(
      snapshotWithMeta(Some(endInclusive), allowArchived = true)
        .filter(col(GraftMeta.CommitTime) > beginExclusive &&
          col(GraftMeta.CommitTime) <= endInclusive))

  /** CDC read: `_change_type` in {insert, update_preimage, update_postimage,
    * delete} + user columns. Update/delete images come from the changelog
    * files materialized at write time (sized by the batch, not the table);
    * insert images are DERIVED from the commit's own data files via the
    * `_graft_commit_time` metadata column — pure-insert commits write no
    * changelog at all. (CDC history for a commit survives until its files
    * are physically removed by `clean`.) */
  def cdc(beginExclusive: String, endInclusive: String): DataFrame =
    cdcInternal(beginExclusive, endInclusive, withCommit = false)

  /** [[cdc]] plus a `_commit` column tagging each image with the instant
    * that produced it — what a CDC CONSUMER needs to sequence same-key
    * changes across commits (the streaming source exposes this shape, so a
    * downstream `applyChangelog(seqCol = "_commit")` replays a multi-commit
    * batch in commit order instead of guessing). */
  def cdcWithCommit(beginExclusive: String, endInclusive: String): DataFrame =
    cdcInternal(beginExclusive, endInclusive, withCommit = true)

  private def cdcInternal(beginExclusive: String, endInclusive: String,
      withCommit: Boolean): DataFrame = {
    require(cfg.writeChangelog, s"table ${cfg.path} was not created with writeChangelog")
    // archived commits still serve CDC (changelog files + commit metadata
    // outlive timeline archival; only `clean` erases history)
    val range = timeline.committedInstants()
      .filter(i => i > beginExclusive && i <= endInclusive)
    require(range.nonEmpty, s"no commits in ($beginExclusive, $endInclusive]")
    def tag(df: DataFrame, i: String): DataFrame =
      if (withCommit) df.withColumn("_commit", lit(i)) else df
    val parts = range.flatMap { i =>
      val c = timeline.readCommit(i)
      val changelogDir = new Path(s"${cfg.path}/_graft/cdc/$i")
      val changelog =
        if (fs.exists(changelogDir)) Seq(tag(spark.read.parquet(changelogDir.toString), i))
        else Seq.empty
      val derivedInserts =
        // insert_overwrite rows also derive as inserts (its implicit
        // partition-wide deletes are not imaged — documented limitation)
        if ((c.op == "insert" || c.op == "insert_overwrite") && c.adds.nonEmpty)
          Seq(tag(dropInternal(readFiles(c.adds))
            .drop(cfg.keyGen.syntheticCols: _*)
            .withColumn("_change_type", lit("insert")), i))
        else Seq.empty
      val derivedDeletes =
        // drop-partition/TTL is a REMOVE-ONLY commit that writes no
        // changelog (it reads no data at commit time) — derive its delete
        // images at CDC-read time from the removed files instead, exactly
        // like derivedInserts (stream-fuzz-found: a CDC consumer otherwise
        // silently kept every TTL'd/dropped row forever). The removed
        // files outlive the commit until `clean`, the same availability
        // contract the changelog path already has. resolve() collapses
        // MOR removes to the latest live row per key, so a tombstoned or
        // superseded version never produces a spurious image.
        if (c.op == "delete_partition" && c.removes.nonEmpty) {
          val removed = fileMetasByPath(c.removes.toSet)
          if (removed.isEmpty) Seq.empty
          else Seq(tag(dropInternal(resolve(readFiles(removed)))
            .drop(cfg.keyGen.syntheticCols: _*)
            .withColumn("_change_type", lit("delete")), i))
        } else Seq.empty
      changelog ++ derivedInserts ++ derivedDeletes
    }
    // a change-free range (compaction/clustering commits only) is a valid
    // empty changelog, not an error — streaming CDC readers hit this on
    // every table-service commit
    if (parts.isEmpty) return cdcEmptyFrame(withCommit)
    // allowMissingColumns: ranges spanning a schema-evolution commit mix
    // changelog frames with different column sets
    parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Zero-row frame in the CDC result shape (user columns + _change_type). */
  private def cdcEmptyFrame(withCommit: Boolean = false): DataFrame = {
    val base = read().drop(cfg.keyGen.syntheticCols: _*).limit(0)
      .withColumn("_change_type", lit(null).cast("string"))
    if (withCommit) base.withColumn("_commit", lit(null).cast("string")) else base
  }

  /** Key-based point lookup scanning only [[lookupFiles]]' files. Sound
    * under MOR too: any delta/tombstone for key k contains k, so range and
    * bucket pruning retain it and resolution sees every version. */
  def pointLookup(keys: Seq[Any]): DataFrame =
    readSubset(lookupFiles(keys)).filter(keyCol.isin(keys: _*))

  /** Resolved rows of `files`, a file set the caller chose by an index or
    * a partition rule to hold every version of the rows it asks for; its
    * scan does not prune again (for pointLookup the pushed key filter would
    * only repeat the bloom or record-index pass). No files read as the
    * empty snapshot. */
  private def readSubset(files: Seq[FileMeta]): DataFrame =
    if (files.isEmpty) read().filter(lit(false))
    else dropInternal(resolve(readFiles(files, prune = false)))

  /** Live files whose partition path satisfies the predicate — timeline
    * metadata pruning (no directory listing). Partition strings look like
    * `city=san_francisco` (multi-level joined with '/'). */
  def partitionFiles(pred: String => Boolean): Seq[FileMeta] =
    timeline.liveFiles(None).filter(f => pred(f.partition))

  /** Partition-pruned snapshot read: only files in matching partitions are
    * scanned. Sound for keyed tables whose partition value is a function of
    * the record (our key generators), so every version of a record lives in
    * one partition. */
  def readWhere(partitionPred: String => Boolean): DataFrame =
    readSubset(partitionFiles(partitionPred))

  /** Live files that may contain rows with `column` in [lo, hi] — the
    * [[pruneFiles]] rule with one bound, so on a stats column the per-file
    * column stats harvested at write time decide (data skipping — the Hudi
    * col_stats index re-expressed as timeline metadata; COW only). Files
    * written before `column` was a stats column, or with unsupported-type
    * stats, are conservatively kept. */
  def filesBetween(column: String, lo: Any, hi: Any): Seq[FileMeta] =
    pruneFiles(timeline.liveFiles(None), Seq(ColBound(column, Some(lo), Some(hi))), None)

  /** Stats-pruned range read: `read()` filtered to [lo, hi], whose scan
    * skips the files [[filesBetween]] drops. Pairs with [[clusterZOrder]] /
    * [[cluster]]: once rows are co-located by the column, most files prune
    * away entirely — the scan is O(matching files), not O(table). COW only,
    * where the stats describe the rows a read returns. */
  def readBetween(column: String, lo: Any, hi: Any): DataFrame = {
    require(cfg.tableType == TableType.Cow, "readBetween requires a COW table")
    read().filter(col(column).between(lo, hi))
  }

  /** Hudi-1.0-style PARTITION_STATS index: per-partition min/max of a
    * stats column, rolled up from live-file footer stats already in
    * TIMELINE metadata — O(#partitions) entries where the per-file
    * col-stats index is O(#files). Built on demand from the cached
    * timeline; nothing extra is written, exactly like Hudi's metadata
    * partition that aggregates the column-stats partition. */
  def partitionStats(column: String): Map[String, ColStat] =
    timeline.liveFiles(None)
      .flatMap(f => f.colStats.get(column).map(st => f.partition -> st))
      .groupBy(_._1)
      .map { case (p, sts) => p -> sts.map(_._2).reduce(_ merge _) }

  /** Range scan the partition-stats rollup answers (the case path pruning
    * cannot: a predicate on the RAW column when the partition path holds a
    * derived value, e.g. p_month=1996-03 vs a timestamp range). A
    * partition's merged [min,max] misses [lo,hi] exactly when every live
    * file in it carries a stat that misses it (a stat-less file keeps its
    * partition), so the per-file pass of [[readBetween]] keeps exactly the
    * files a partition-level pass would: this is that read. COW only. */
  def readBetweenPartitionStats(column: String, lo: Any, hi: Any): DataFrame =
    readBetween(column, lo, hi)

  /** Live files that may satisfy every given [[ColBound]] — the
    * [[pruneFiles]] rule over the latest snapshot. */
  def prunedLiveFiles(bounds: Seq[ColBound]): Seq[FileMeta] = {
    val at = timeline.latestInstant() // before the listing, as in snapshotWithMeta
    pruneFiles(timeline.liveFiles(None), bounds, at)
  }

  /** Snapshot read restricted to the bounds; its scan skips the files
    * [[prunedLiveFiles]] drops. Callers may re-apply their predicates. */
  def readPruned(bounds: Seq[ColBound]): DataFrame =
    read().filter(bounds.flatMap { b =>
      b.lo.map(col(b.col) >= _) ++ b.hi.map(col(b.col) <= _) ++
        b.inSet.map(vs => col(b.col).isin(vs: _*))
    }.foldLeft(lit(true))(_ && _))

  /** The stored key type when the footer key strings order like the key:
    * integral (padded) or string. Any other or unknown key type has no key
    * range (a DATE key's footer holds padded epoch days while a batch key
    * casts to `2020-01-05`; a DOUBLE's `"5.0"` sorts after `"40.0"`), so
    * every key-range tier keeps every file. */
  private def rangeKeyType: Option[DataType] =
    readSchema().flatMap(_.find(_.name == cfg.keyField)).map(_.dataType)
      .filter(Set[DataType](LongType, IntegerType, ShortType, ByteType, StringType))

  /** The one file-skipping rule, behind every scan's [[MetaFileIndex]]:
    * the files of `files` that may hold a row satisfying every bound, from
    * timeline metadata alone (no listing; file reads only for bloom footers
    * on key equality):
    *   - bounds on a PARTITION column prune by the hive partition path;
    *   - bounds on the RECORD KEY prune by per-file key ranges; equality
    *     sets also by bucket, then by the record index while `builtAt` is
    *     still the latest instant (the index describes only the latest
    *     snapshot), else by the parquet bloom filters;
    *   - bounds on a statsCol prune by per-file min/max — COW only (under
    *     MOR a newer delta version of a row can have a different value, so
    *     value pruning could resolve an older version).
    * Everything unanswerable conservatively keeps the file. */
  private[tables] def pruneFiles(files: Seq[FileMeta], bounds: Seq[ColBound],
      builtAt: Option[String]): Seq[FileMeta] = {
    val partCols = cfg.keyGen.partitionCols.toSet
    val statsOk = cfg.tableType == TableType.Cow
    // the key tiers also hash the value's string form cast to the stored
    // key type, which matches the writer for these key types only
    val keyType = rangeKeyType
    val keyOk: Any => Boolean = v => keyType.exists {
      case StringType => v.isInstanceOf[String]
      case _ => v match { case _: Long | _: Int | _: Short | _: Byte => true; case _ => false }
    }
    val keys = bounds.collectFirst {
      case b if b.col == cfg.keyField && b.inSet.exists(_.forall(keyOk)) => b.inSet.get
    }
    val padded = keys.map(_.map(padKey))
    val buckets = keys.filter(_ => cfg.numBuckets > 0).map(_.map(k =>
      MappingIndex.valueBucket(k.toString, cfg.numBuckets, keyType.get).toInt).toSet)
    val kept = files.filter { f =>
      bounds.forall { b =>
        val partPass = !partCols(b.col) || partitionMayMatch(f.partition, b)
        val statPass = !statsOk || f.colStats.get(b.col).forall(st =>
          st.overlaps(b.lo.orNull, b.hi.orNull) && b.inSet.forall(_.exists(v => st.overlaps(v, v))))
        // padded-string order == numeric order for our non-negative keys
        val keyPass = b.col != cfg.keyField ||
          b.lo.forall(v => !keyOk(v) || padKey(v) <= f.maxKey) &&
            b.hi.forall(v => !keyOk(v) || f.minKey <= padKey(v))
        partPass && statPass && keyPass
      } && padded.forall(_.exists(k => f.minKey <= k && k <= f.maxKey)) &&
        // bucket pruning is only sound for files assigned under THIS
        // handle's modulus — after a rebucket, differently-bucketed files
        // are kept
        buckets.forall(bs => f.bucketMod != cfg.numBuckets || bs(f.bucket))
    }
    keys match {
      case None => kept
      case Some(ks) =>
        val hits = builtAt.filter(_ => cfg.recordIndexBuckets > 0).flatMap(at =>
          indexes.liveFilesFor(indexes.record, indexes.recordRoot, ks.map(padKey), Some(at)))
          .map(_.map(_.path).toSet)
        // the bloom filter on the key column has no false negatives: files
        // that provably lack every key are skipped
        kept.filter(f => hits.fold(bloomMayContain(new Path(dataPath(f.path)), ks))(_(f.path)))
    }
  }

  // ------------------------------------------------------- expression index
  //
  // Storage is SHARDED PARQUET, not a single driver-side JSON: entries
  // (path, mn, mx) live under _graft/exprindex/<name>/b=<0..N-1>/ keyed
  // by path hash, with a tiny <name>.meta.json ({expr, kind, buckets})
  // beside it. Harvest, merge, and range-overlap filtering all run AS
  // SPARK JOBS — the driver only ever collects the pruned survivor list
  // (output-sized) and the affected-bucket ids, so at millions of files
  // there is no single JSON whose read/write/parse is an O(#files)
  // driver bottleneck (the layout the mapping indexes use, see
  // MappingIndex). A refresh rewrites ONLY the buckets containing new
  // or dead entries — in ONE dynamic-partition-overwrite job, so the
  // cost is O(affected entries) with a constant job count, not
  // O(buckets) job launches. Crash safety: an interrupted bucket
  // overwrite can only LOSE entries, and a missing entry conservatively
  // keeps its file in every lookup.
  // It stays outside MappingIndex: its entries are per-file ranges
  // refreshed in place, with no per-commit dirs, folds or coverage, so it
  // shares only the parquet walk (MappingIndex.visibleParquet).

  /** Bucket count for pre-knob meta files that don't record one. */
  private val ExprIndexDefaultBuckets = 16
  private val ExprIndexEntriesPerBucket = 65536L
  private val ExprIndexMaxBuckets = 4096

  /** Derive the shard count from the entry count: ~64k entries (a few MB
    * of parquet) per bucket, clamped to [1, 4096] — a 10M-file table gets
    * ~153 buckets, a 12-file test table gets 1 instead of 16 near-empty
    * jobs' worth of dirs. The chosen count is frozen into the index meta
    * so refreshes stay consistent as the table grows. */
  private def exprIndexBucketsFor(nEntries: Long): Int =
    math.min(ExprIndexMaxBuckets.toLong, math.max(1L,
      (nEntries + ExprIndexEntriesPerBucket - 1) / ExprIndexEntriesPerBucket)).toInt

  private def exprIndexDir(name: String) =
    new Path(s"${cfg.path}/_graft/exprindex/$name")

  private def exprIndexMetaPath(name: String) =
    new Path(s"${cfg.path}/_graft/exprindex/$name.meta.json")

  /** Map an expression's Catalyst type to the [[ColStat]] comparison domain
    * it can be indexed under. DECIMAL is safe here (unlike footer harvesting)
    * because WE compute the values — there is no unscaled-int mismatch. */
  private def exprKindOf(dt: org.apache.spark.sql.types.DataType): String = dt match {
    case _: org.apache.spark.sql.types.NumericType => ColStat.Num
    case org.apache.spark.sql.types.StringType => ColStat.Lex
    case org.apache.spark.sql.types.DateType => ColStat.Date
    case org.apache.spark.sql.types.TimestampType => ColStat.Ts
    case other => throw new IllegalArgumentException(
      s"expression index does not support result type $other")
  }

  /** Normalize a harvested min/max value to `kind`'s comparison-domain
    * string, as an EXPRESSION — the distributed twin of [[ColStat.bound]]'s
    * driver-side normalization (num/date/ts compare as doubles, lex as raw
    * strings), so harvests never round-trip values through the driver. */
  private def statStrCol(c: Column, kind: String): Column = kind match {
    case ColStat.Lex => c.cast("string")
    case ColStat.Date =>
      datediff(c, lit("1970-01-01")).cast("double").cast("string")
    case ColStat.Ts => unix_micros(c).cast("double").cast("string")
    case _ => c.cast("double").cast("string") // ColStat.Num
  }

  private def exprBucketCol(buckets: Int): Column =
    pmod(xxhash64(col("path")), lit(buckets)).cast("int").as("b")

  /** Per-file min/max of the expression over `files` as a DataFrame
    * (path, mn, mx) — ONE aggregation job (map-side-combinable min/max
    * per input file, no sort), NEVER collected. Files whose expression is
    * entirely NULL get no entry and are conservatively kept by every
    * lookup. */
  private def harvestExprStatsDf(exprSql: String, kind: String,
      files: Seq[FileMeta]): DataFrame = {
    if (files.isEmpty) return emptyExprEntries()
    readFiles(files)
      .select(GraftTable.relativizeCol(col("_metadata.file_path"), rootStr).as("path"),
        expr(exprSql).as("_gv"))
      .groupBy("path").agg(min("_gv").as("_mn"), max("_gv").as("_mx"))
      .filter(col("_mn").isNotNull && col("_mx").isNotNull)
      .select(col("path"), statStrCol(col("_mn"), kind).as("mn"),
        statStrCol(col("_mx"), kind).as("mx"))
  }

  private def emptyExprEntries(): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "path STRING, mn STRING, mx STRING"))

  /** All live index entries (path, mn, mx, b). Missing or entry-less
    * index dirs read as empty (conservative: nothing prunes). */
  private def readExprEntries(name: String): DataFrame = {
    val dir = exprIndexDir(name)
    if (!fs.exists(dir) || !MappingIndex.visibleParquet(fs, Seq(dir)).hasNext)
      emptyExprEntries().withColumn("b", lit(0).cast("int"))
    else spark.read.parquet(dir.toString).select("path", "mn", "mx", "b")
  }

  private def writeExprMeta(name: String, exprSql: String, kind: String,
      buckets: Int): Unit = {
    fs.mkdirs(exprIndexMetaPath(name).getParent)
    TableProperties.writeJson(fs, exprIndexMetaPath(name),
      Map("expr" -> exprSql, "kind" -> kind, "buckets" -> buckets))
  }

  /** (expr, kind, buckets). Meta files written before the bucket knob
    * existed carry no count and read as the 16 they were sharded with. */
  private def readExprMeta(name: String): (String, String, Int) = {
    val root = TableProperties.readJson(fs, exprIndexMetaPath(name)).getOrElse(
      throw new IllegalArgumentException(s"no expression index '$name' on table ${cfg.path}"))
    val buckets =
      if (root.has("buckets")) root.get("buckets").asInt() else ExprIndexDefaultBuckets
    (root.get("expr").asText(), root.get("kind").asText(), buckets)
  }

  /** The distributed twin of [[ColStat.overlaps]] over normalized bound
    * values (from [[ColStat.bound]]): keep where min <= hi && lo <= max
    * in the kind's comparison domain. */
  private def exprOverlapCond(kind: String, loB: Any, hiB: Any): Column =
    (loB, hiB) match {
      case (l: String, h: String) =>
        col("mn") <= lit(h) && lit(l) <= col("mx")
      case (l: java.lang.Double, h: java.lang.Double) =>
        col("mn").cast("double") <= lit(h.doubleValue()) &&
          lit(l.doubleValue()) <= col("mx").cast("double")
      case _ => lit(true)
    }

  /** Hudi-1.0-style EXPRESSION INDEX (`CREATE INDEX ... ON (expr)` with
    * column_stats): per-file min/max of an arbitrary deterministic SQL
    * expression — month(ts), lower(code), … — values parquet footers can
    * never answer. Built in one scan job over the current live files and
    * stored as bucket-sharded parquet under `_graft/exprindex/<name>/`
    * (layout note at the top of this section); range lookups then prune
    * the FILE SET like [[readBetween]] does for plain columns. Files
    * committed after the build are conservatively kept until
    * [[refreshExpressionIndex]] extends the index to them.
    * `buckets` <= 0 (the default) derives the shard count from the live
    * file count ([[exprIndexBucketsFor]]); an explicit count is frozen
    * into the meta the same way. */
  def createExpressionIndex(name: String, exprSql: String, buckets: Int = 0): Unit = {
    require(name.matches("[A-Za-z0-9_\\-]+"), s"illegal index name '$name'")
    val live = timeline.liveFiles(None)
    require(live.nonEmpty, s"cannot build expression index on empty table ${cfg.path}")
    val dt = readFiles(live).select(expr(exprSql).as("_gv")).schema.head.dataType
    val kind = exprKindOf(dt)
    val nb = if (buckets > 0) buckets else exprIndexBucketsFor(live.size.toLong)
    fs.delete(exprIndexDir(name), true)
    harvestExprStatsDf(exprSql, kind, live)
      .withColumn("b", exprBucketCol(nb))
      // explicit width: a bare repartition(col) is AQE-coalescible and a
      // small build collapses to ONE task serializing every bucket's
      // parquet writer; N = bucket count is the write's natural width at
      // any scale (tasks beyond it would be empty)
      .repartition(nb, col("b"))
      .write.partitionBy("b").mode("overwrite")
      .parquet(exprIndexDir(name).toString)
    writeExprMeta(name, exprSql, kind, nb)
  }

  /** Incremental index maintenance: harvest stats for live files the index
    * doesn't cover yet (commits since the build) and drop entries for dead
    * files. O(new files) harvest work, and ONLY the buckets that gained a
    * fresh entry or lost a dead one are rewritten — untouched buckets keep
    * their files byte-for-byte (pinned in TablesSpec) — in ONE dynamic
    * partition overwrite job (surviving entries of every affected bucket
    * union the fresh harvest), so a steady-state refresh costs a constant
    * number of job launches no matter how many buckets changed. Returns
    * how many files were newly indexed. */
  def refreshExpressionIndex(name: String): Int = {
    import spark.implicits._
    val (exprSql, kind, buckets) = readExprMeta(name)
    val live = timeline.liveFiles(None)
    val liveDf = live.map(_.path).toDF("path")
    val entries = readExprEntries(name)
    // uncovered live files (an anti-join, not a driver set): O(new) rows
    val freshPaths = liveDf.join(entries.select("path"), Seq("path"), "left_anti")
      .collect().map(_.getString(0)).toSet
    val freshFiles = live.filter(f => freshPaths(f.path))
    val fresh = harvestExprStatsDf(exprSql, kind, freshFiles)
      .withColumn("b", exprBucketCol(buckets)).localCheckpoint()
    val freshBuckets = fresh.select("b").distinct()
      .collect().map(_.getInt(0)).toSet
    val deadBuckets = entries.join(liveDf, Seq("path"), "left_anti")
      .select("b").distinct().collect().map(_.getInt(0)).toSet
    val nFresh = fresh.count().toInt
    val affected = freshBuckets ++ deadBuckets
    if (affected.nonEmpty) {
      // surviving entries from the affected buckets (partition-pruned
      // read) + the fresh harvest, materialized BEFORE the write
      // overwrites the dirs it was read from
      val merged = entries.filter(col("b").isInCollection(affected))
        .join(liveDf, Seq("path"), "left_semi")
        .unionByName(fresh)
        .localCheckpoint()
      merged.repartition(buckets, col("b"))
        .write.partitionBy("b").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(exprIndexDir(name).toString)
      // an affected bucket whose merged content is EMPTY (every entry
      // dead) is absent from the dynamic overwrite — drop its dir so
      // stale entries don't linger
      val written = merged.select("b").distinct()
        .collect().map(_.getInt(0)).toSet
      (affected -- written).foreach(k =>
        fs.delete(new Path(exprIndexDir(name), s"b=$k"), true))
    }
    nFresh
  }

  def dropExpressionIndex(name: String): Unit = {
    fs.delete(exprIndexDir(name), true)
    fs.delete(exprIndexMetaPath(name), false); ()
  }

  /** Live files that may contain rows whose indexed expression falls in
    * [lo, hi] (exposed for tests/plan audits). Unindexed files are kept.
    * The overlap test runs as a Spark filter over the sharded entries —
    * the driver collects only the surviving file list (output-sized),
    * never the index. */
  def exprIndexFiles(name: String, lo: Any, hi: Any): Seq[FileMeta] = {
    import spark.implicits._
    val (_, kind, _) = readExprMeta(name)
    val live = timeline.liveFiles(None)
    (ColStat.bound(kind, lo), ColStat.bound(kind, hi)) match {
      case (Some(l), Some(h)) =>
        // Retry a read torn by a concurrent refreshExpressionIndex
        // (dynamic overwrite replaces bucket files; emptied buckets are
        // deleted): a lost ENTRY is already conservative — the left join
        // keeps entry-less files — so only a thrown FileNotFound needs
        // handling, and the final fallback skips the index entirely.
        var attempts = 0
        while (attempts < 3) {
          attempts += 1
          try {
            val liveDf = live.map(_.path).toDF("path")
            val kept = liveDf
              .join(readExprEntries(name).select("path", "mn", "mx"), Seq("path"), "left")
              .filter(col("mn").isNull || exprOverlapCond(kind, l, h))
              .select("path").collect().map(_.getString(0)).toSet
            return live.filter(f => kept(f.path))
          } catch { case e if GraftTable.isTornRead(e) => () }
        }
        live // refresh churn outlasted the retries: scan unpruned
      case _ => live // unanswerable bound type: keep all, skip the index read
    }
  }

  /** Expression-pruned range read: scans only [[exprIndexFiles]]'s files,
    * then applies the residual BETWEEN on the expression. COW only — under
    * MOR a value-pruned scan could miss a newer delta version of a row and
    * resolve an older one (same caveat as [[readBetween]]). */
  def readExprBetween(name: String, lo: Any, hi: Any): DataFrame = {
    require(cfg.tableType == TableType.Cow, "readExprBetween requires a COW table")
    val (exprSql, _, _) = readExprMeta(name)
    readSubset(exprIndexFiles(name, lo, hi)).filter(expr(exprSql).between(lit(lo), lit(hi)))
  }

  // ---------------------------------------------------- pre-commit validators

  private def validatorsPath = new Path(s"${cfg.path}/_graft/validators.json")

  /** The persisted pre-commit validators: (name, violation SQL). Read fresh
    * on every use — a stale in-handle cache could let a handle created
    * BEFORE a validator was registered (possibly by another process) skip
    * validation; one small JSON read per commit is noise next to the
    * commit itself. */
  private def validators: Seq[(String, String)] =
    TableProperties.readJson(fs, validatorsPath).fold(Seq.empty[(String, String)]) { arr =>
      import scala.jdk.CollectionConverters._
      arr.asScala.map(n => n.get("name").asText() -> n.get("sql").asText()).toSeq
    }

  private def saveValidators(vs: Seq[(String, String)]): Unit =
    TableProperties.writeJson(fs, validatorsPath,
      vs.map { case (n, q) => Map("name" -> n, "sql" -> q) })

  /** Register a PRE-COMMIT VALIDATOR (Hudi's SqlQueryPreCommitValidator
    * family): `violationSql` runs against the temp view `graft_candidate` —
    * the snapshot AS IF the pending commit were applied — and any returned
    * row VETOES the commit. The writing instant is then aborted and its
    * files deleted, so a bad batch never becomes visible — readers only
    * ever see validated snapshots. Content-preserving table services
    * (compact/cluster/rebucket) skip validation; they change layout, not
    * data. */
  def addPreCommitValidator(name: String, violationSql: String): Unit = {
    require(name.nonEmpty && violationSql.nonEmpty)
    // meta lock: load-modify-save — two concurrent registrations would
    // otherwise lose one (same class as the schema union race)
    timeline.withMetaLock {
      saveValidators(validators.filterNot(_._1 == name) :+ (name -> violationSql))
    }
  }

  def dropPreCommitValidator(name: String): Unit =
    timeline.withMetaLock { saveValidators(validators.filterNot(_._1 == name)) }

  /** Ops whose commits change table CONTENT and must be validated; layout
    * services are content-preserving by construction (asserted in specs). */
  private val layoutOps = Set("compact", "cluster", "rebucket", "split_bucket")

  /** Run the registered validators against the candidate snapshot, then
    * commit. A violation throws BEFORE the timeline write — the caller's
    * [[withReservedInstant]] deletes the instant's data/CDC/index output
    * and tombstones the reservation, making the rejection atomic. */
  private def commitValidated(c: Commit): Unit = {
    val vs =
      if (layoutOps(c.op) || (c.adds.isEmpty && c.removes.isEmpty)) Nil else validators
    if (vs.nonEmpty) graft.sources.FsCalls.withPhase("precommit_validate") {
      val removed = c.removes.toSet
      val files = timeline.liveFiles(None).filterNot(f => removed(f.path)) ++ c.adds
      val candidate = readSubset(files)
      // Validators are written against the documented view name
      // `graft_candidate`, but the view registered is PER-COMMIT unique.
      // The instant alone is NOT unique across tables (instants are
      // per-table sequence numbers), so two tables committing their Nth
      // commit concurrently in one SparkSession would swap candidates
      // mid-validation — the name also carries a digest of the table path.
      val tableTag = java.lang.Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(cfg.path))
      val view = s"graft_candidate_${tableTag}_${c.instant}"
      candidate.createOrReplaceTempView(view)
      try {
        vs.foreach { case (name, sql) =>
          val bound = sql.replaceAll("\\bgraft_candidate\\b", view)
          if (!spark.sql(bound).isEmpty)
            throw new IllegalStateException(
              s"pre-commit validator '$name' rejected ${c.op} @ ${c.instant}: " +
                s"violation rows from [$sql]")
        }
      } finally spark.catalog.dropTempView(view)
    }
    graft.sources.FsCalls.withPhase("timeline_commit") { timeline.commit(c) }
  }

  /** Hive partition-path values round-trip verbatim only over a safe
    * charset; anything else (escaped by the writer) is unanswerable. */
  private def safePartValue(v: Any): Option[String] = {
    val s = v.toString
    if (s.nonEmpty && s.forall(c => c.isLetterOrDigit || "._-:".contains(c))) Some(s)
    else None
  }

  /** Whether a file's partition path may satisfy the bound on a partition
    * column. Equality compares the path segment's value; range bounds
    * compare lexically and only for STRING bounds (lexical order is wrong
    * for numerics — those keep the file). */
  private def partitionMayMatch(partition: String, b: ColBound): Boolean = {
    val value = partition.split("/").collectFirst {
      case seg if seg.startsWith(b.col + "=") => seg.substring(b.col.length + 1)
    }
    value.forall { v =>
      val eqOk = b.inSet.forall(vs => vs.exists(x => safePartValue(x).forall(_ == v)))
      val loOk = b.lo.forall { case s: String => safePartValue(s).forall(_ <= v); case _ => true }
      val hiOk = b.hi.forall { case s: String => safePartValue(s).forall(v <= _); case _ => true }
      eqOk && loOk && hiOk
    }
  }

  /** Which hash bucket a key routes to — the debugging helper the reference
    * ships as flink/helpers/FindBucketNumber.java. */
  def bucketFor(key: Any): Int = {
    require(cfg.numBuckets > 0, s"table ${cfg.path} has no bucket index")
    // hashed as the STORED key type, like the writer's bucket column: an
    // int key against a long column must hash 8 bytes, not 4
    val keyType = readSchema().getOrElse(read().schema)(cfg.keyField).dataType
    MappingIndex.valueBucket(key.toString, cfg.numBuckets, keyType).toInt
  }

  /** Pad an integral key to match keyStr/footerKeyStatsOf normalization — an
    * unpadded Short/Byte key would fail every padded min/max range check
    * and silently prune all files. */
  private def padKey(k: Any): String = k match {
    case n: Long => f"$n%020d"
    case n: Int => f"${n.toLong}%020d"
    case n: Short => f"${n.toLong}%020d"
    case n: Byte => f"${n.toLong}%020d"
    case other => other.toString
  }

  /** The pruned file set a point lookup touches (exposed for tests). With a
    * record index enabled, the exact file set comes from ONE index-bucket
    * read — exact only on a quiet timeline with every live file of an
    * uncovered instant kept (MappingIndex.read); otherwise the
    * [[pruneFiles]] rule (range, bucket, bloom), which is exact on any
    * single consistent snapshot. */
  def lookupFiles(keys: Seq[Any]): Seq[FileMeta] = {
    val indexed =
      if (cfg.recordIndexBuckets <= 0) None
      else indexes.liveFilesFor(indexes.record, indexes.recordRoot, keys.map(padKey))
    indexed.getOrElse(pruneFiles(timeline.liveFiles(None),
      Seq(ColBound(cfg.keyField, inSet = Some(keys))), None))
  }

  /** True unless the file's key-column bloom filter excludes EVERY key.
    * Conservative: any missing bloom or unsupported key type keeps the
    * file. */
  private[tables] def bloomMayContain(p: Path, keys: Seq[Any]): Boolean = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    try {
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(p, spark.sparkContext.hadoopConfiguration))
      try reader.getFooter.getBlocks.asScala.exists { b =>
        b.getColumns.asScala.filter(_.getPath.toDotString == cfg.keyField).exists { c =>
          val bloom = reader.getBloomFilterDataReader(b).readBloomFilter(c)
          // hash with the COLUMN's physical width, not the caller's boxed
          // type — an Int key against an INT64 column would otherwise hash
          // 4 bytes and false-negative every file
          bloom == null || keys.exists(k => (k, c.getPrimitiveType.getPrimitiveTypeName) match {
            case (n: Number, INT64) => bloom.findHash(bloom.hash(n.longValue()))
            case (n: Number, INT32) => bloom.findHash(bloom.hash(n.intValue()))
            case (s: String, BINARY) => bloom.findHash(
              bloom.hash(org.apache.parquet.io.api.Binary.fromString(s)))
            case _ => true // unsupported key/physical combo: keep
          })
        }
      } finally reader.close()
    } catch {
      case _: Exception => true // unreadable metadata: keep the file
    }
  }

  // ---------------------------------------------------------------- writes

  /** In-batch dedup: keep the record with the highest precombine value per
    * key (ties broken deterministically by the full row hash — highest
    * precombine, then lowest hash) — the reference's
    * `hoodie.datasource.write.precombine.field` contract. A max_by hash
    * aggregate, not a row_number window: partial aggregation combines
    * map-side, so a mostly-unique batch costs one shuffle of already-reduced
    * groups instead of a full sort. */
  private def precombine(batch: DataFrame): DataFrame = {
    val row = struct(batch.columns.map(col): _*)
    // lexicographic max of (precombine, ~hash) == highest precombine with
    // ties to the LOWEST hash (bitwise NOT reverses order without the
    // overflow of negation)
    val ord = struct(col(cfg.precombineField),
      bitwise_not(xxhash64(batch.columns.map(col): _*)))
    batch.groupBy(cfg.keyField)
      .agg(max_by(row, ord).as("_graft_pc_row"))
      .select(col("_graft_pc_row.*"))
  }

  private def relPath(absFileName: String): String =
    GraftTable.relativize(absFileName, rootStr)

  /** Write `df` (user columns + meta columns) as the data files of
    * `instant`; returns their FileMeta (stats collected with a cheap
    * post-write scan — at production scale these come from parquet footers
    * on the executors instead). */
  private def writeFiles(df: DataFrame, instant: String, numFiles: Int = 0,
      sortCols: Seq[String] = Nil): Seq[FileMeta] = {
    var out = cfg.keyGen(df)
    // duplicate partition cols into _gp_* so partitionBy lays out hive-style
    // dirs while the REAL columns stay in the data files (readFiles skips
    // inference, so data files must be self-contained)
    cfg.keyGen.partitionCols.foreach(c => out = out.withColumn(s"_gp_$c", col(c)))
    if (cfg.numBuckets > 0) out = out.withColumn(GraftMeta.Bucket, bucketOf(keyCol))
    val partCols = cfg.keyGen.partitionCols.map(c => s"_gp_$c") ++
      (if (cfg.numBuckets > 0) Seq(GraftMeta.Bucket) else Nil)
    // Range repartition (the key-locality rewrite path below) SAMPLES its
    // child to compute the range bounds — a SECOND full computation of the
    // rewrite union (candidate scan + anti-join + union + key-gen) before
    // the real shuffle map pass even starts (RangePartitioner.sketch runs
    // its own job over the child lineage; guide §1/§2: don't compute things
    // twice). Pin the rows once: the sampling job materializes the pinned
    // blocks and the exchange re-reads them. The pinned plan carries the
    // same row set with an equivalent layout (RangePartitioner seeds its
    // reservoir sample from the sampled RDD's id, which differs between
    // the pinned and unpinned plans, so range bounds — hence file splits —
    // are not guaranteed identical; row CONTENT and per-file key-range
    // disjointness are). The pin is freed right after the data write; at
    // scale the pinned set is the rewrite's touched file groups, not the
    // table, and MEMORY_AND_DISK trades the object-store re-scan for
    // local blocks.
    var pinnedRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] = null
    if (numFiles > 0) {
      out =
        if (sortCols.nonEmpty) {
          val pinned =
            if (numFiles > 1) { // a 1-file rewrite never samples: skip the pin
              val (df, rdd) = graft.GraftSession.pinRows(out)
              pinnedRdd = rdd
              df
            } else out
          pinned.repartitionByRange(numFiles, sortCols.map(col): _*)
            .sortWithinPartitions(sortCols.map(col): _*)
        } else if (partCols.nonEmpty)
          // co-locate each hive partition in one task: a random repartition
          // would have EVERY task write EVERY partition — numFiles × #parts
          // small files and as many concurrent parquet writers per task
          // (the small-file blowup the reference's glue bench measures).
          // The sort gives each task one open writer at a time. Skewed
          // partitions stay one-file; `compact` re-splits them if needed.
          out.repartition(numFiles, partCols.map(col): _*)
            .sortWithinPartitions(partCols.map(col): _*)
        else out.repartition(numFiles)
    }
    // persist the user-visible schema BEFORE the data write: even a crashed
    // first write leaves readStream a schema to resolve against
    val userSchema = org.apache.spark.sql.types.StructType(out.schema.filterNot(f =>
      GraftMeta.cols.contains(f.name) || f.name == GraftMeta.Bucket ||
        f.name.startsWith("_gp_") || droppedCols.contains(f.name)))
    // seed the handle's cache from disk so a FRESH handle writing an
    // unchanged schema skips the rewrite entirely (concurrent writers with
    // identical schemas then never touch schema.json at the same time)
    if (savedSchemaJson == null)
      savedSchemaJson = TableProperties.loadSchema(spark, cfg.path).map(_.json).orNull
    if (savedSchemaJson != userSchema.json) {
      // ACCUMULATE the union of every written schema (latest type wins) so
      // readFiles' explicit schema covers older files after add-column
      // evolution — a narrower later batch must not hide earlier columns.
      // Under the META LOCK: load-merge-save is a read-modify-write, and
      // two writers evolving DIFFERENT new columns concurrently would
      // otherwise lose one column from schema.json while its data files
      // already carry it — readers then hide it forever.
      timeline.withMetaLock {
        val merged = TableProperties.loadSchema(spark, cfg.path) match {
          case Some(existing) =>
            val updated = existing.fields.map(f => userSchema.find(_.name == f.name).getOrElse(f))
            val extra = userSchema.filterNot(f => existing.exists(_.name == f.name))
            org.apache.spark.sql.types.StructType((updated ++ extra).toSeq)
          case None => userSchema
        }
        TableProperties.saveSchema(spark, cfg.path, merged)
      }
      savedSchemaJson = userSchema.json
      invalidateReadSchema()
    }
    val dir = s"${cfg.path}/data/$instant"
    // failure cleanup (orphan files, inflight marker) is the caller's job:
    // every mutation runs inside withReservedInstant
    val writer = out.write.mode("overwrite")
      // parquet-native bloom filter on the key column: point lookups test
      // it from the footer metadata before scheduling any file read.
      // ADAPTIVE sizing is essential: with only `enabled` set, parquet
      // sizes every filter at parquet.bloom.filter.max.bytes (1 MiB) no
      // matter how few rows the file has — the 1000-commit aging stress
      // measured 13-row upsert files at 1,052,037 bytes each (99.9% bloom)
      // and 74 GB for a 15k-row table's history. Adaptive keeps a ladder of
      // candidate filters during the write, halving from max.bytes (1 MiB),
      // and stores the smallest that meets the 1% FPP for the file's
      // distinct keys. Parquet's default 5 rungs stop at 64 KiB, a floor
      // every small file paid; 10 rungs reach 2 KiB. `expected.ndv` would
      // switch the adaptive writer off and fix one size per write, so a
      // skewed partition's file would exceed the FPP.
      .option(s"parquet.bloom.filter.enabled#${cfg.keyField}", "true")
      .option("parquet.bloom.filter.adaptive.enabled", "true")
      .option(s"parquet.bloom.filter.candidates.number#${cfg.keyField}", "10")
    // FsCalls phases are pure attribution (a volatile label the metered FS
    // reads) so S3CostModel can say WHICH commit step pays the metadata
    // bill — the reference's Glue suite exists to measure exactly that
    graft.sources.FsCalls.withPhase("data_write") {
      try (if (partCols.nonEmpty) GraftTable.committerV2(writer).partitionBy(partCols: _*)
           else GraftTable.committerV2(writer)).parquet(dir)
      finally if (pinnedRdd != null) pinnedRdd.unpersist(blocking = false)
    }
    // ONE recursive listing of the just-written dir feeds EVERYTHING below:
    // the index-write scan (a metadata-served FileIndex — no re-listing, no
    // schema-inference footer read) and the stats harvest (footers opened
    // from these statuses — no per-file HEAD). S3CostModel measured the
    // doubled listing + per-file status probes as ~20% of the commit bill.
    val listed = graft.sources.FsCalls.withPhase("footer_harvest") {
      val it = fs.listFiles(new Path(dir), true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Path, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet"))
          buf += ((f.getPath, f.getLen))
      }
      buf.toSeq
    }
    // ONE column-pruned scan of the just-written files feeds BOTH index
    // writes: at 10k files per commit, each extra pass over the new data
    // pays 10k file-open costs — the files-dimension sweep measured the
    // second scan as a material share of large-commit insert time
    if ((cfg.recordIndexBuckets > 0 || cfg.secondaryIndexCols.nonEmpty) &&
        listed.nonEmpty)
      graft.sources.FsCalls.withPhase("index_write") {
        // written-file schema = the writer's frame minus partitionBy cols
        // (hive layout stores those as directories, not in the files)
        val writtenSchema = org.apache.spark.sql.types.StructType(
          out.schema.filterNot(f => partCols.contains(f.name)))
        val written = MetaFileIndex.scan(spark, listed.map { case (p, l) =>
            FileMeta(fs.makeQualified(p).toString, "", 0, "", "", 0L, len = l) },
          f => new Path(f.path), writtenSchema, (all, _) => all)
        val siCols = cfg.secondaryIndexCols.filter(written.columns.contains)
        val proj = written.select(
          (Seq(keyStr(keyCol, written).as("_gik"), col("_metadata.file_path").as("_gif")) ++
            siCols.map(c => col(s"`$c`"))): _*).cache()
        try {
          if (cfg.recordIndexBuckets > 0)
            indexes.writeCommit(indexes.record, indexes.recordRoot, instant,
              proj.select(col("_gik").as("k"), col("_gif")))
          siCols.foreach(c => indexes.writeCommit(indexes.secondary,
            indexes.secondaryRoot(c), instant,
            proj.select(col(s"`$c`").cast("string").as("v"), col("_gif"))))
        } finally proj.unpersist()
      }

    // per-file key-range stats for upsert/lookup pruning, harvested from
    // the parquet FOOTERS the write just produced — no data is re-read.
    // Two tiers by file count: a SMALL commit harvests on driver threads
    // (the reads are independent and IO-bound; a sequential loop was the
    // dominant insert cost at high file counts — the 10k-file sweep
    // measured ~16 ms/footer, 163 s inserts, almost all of it this loop),
    // while a commit above the threshold harvests in a SPARK JOB: at a
    // 100 TB bulk load adding 1e5-1e6 files, even a pooled driver loop is
    // the commit's bottleneck and its last O(#files) driver-side work.
    // The stats are per-file and the merge is associative, so the job is
    // a plain map + collect of #files small FileMeta rows.
    graft.sources.FsCalls.withPhase("footer_harvest") {
      GraftTable.harvestFileMetas(spark, listed, cfg.keyField,
          cfg.statsCols.toSet, rootStr, cfg.numBuckets,
          GraftTable.footerHarvestDriverMax(spark))
        .sortBy(_.path) // deterministic commit order under par harvest
    }
  }

  /** Reserve an instant and run `body` with it. On ANY failure after the
    * reservation — a data/CDC write error, an invalid batch detected in the
    * stats pass, or a commit-time conflict thrown by Timeline.commit — the
    * instant's data, changelog, and index output are deleted and the
    * reservation tombstoned, so a failed mutation leaks neither orphan
    * files nor an `.inflight` marker. */
  private[tables] def withReservedInstant[T](body: String => T): T = {
    val instant = timeline.reserveInstant()
    // Renew the reservation while the write runs, so the orphan reaper's
    // staleness clock measures writer SILENCE, not write duration — a
    // legitimate multi-hour write is never fenced as presumed-dead (the
    // same holder-renewal pattern as the commit lease). A hard-killed
    // writer stops renewing and ages into the reaper normally.
    val marker = new Path(s"${cfg.path}/_graft/$instant.inflight")
    val renewer = new Thread(() => {
      var live = true
      try {
        while (live && !Thread.currentThread().isInterrupted) {
          Thread.sleep(60000L)
          try fs.setTimes(marker, System.currentTimeMillis(), -1)
          catch { case _: java.io.IOException => live = false } // committed/aborted
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-inflight-renew-$instant")
    renewer.setDaemon(true)
    renewer.start()
    try body(instant)
    catch {
      // InterruptedException is NOT NonFatal, but an interrupt mid-write
      // (a service's close(), a shutdown hook) is precisely an abandoned
      // attempt: without cleanup here the reservation leaks its .inflight
      // — no tombstone, renewer dead — and every lookup/fold treats the
      // ghost as a live writer until an orphan reaper fences it (observed
      // live: the multiproc services child interrupted mid-compaction
      // left 000000005.inflight behind). Truly fatal errors (VM errors)
      // still propagate uncleaned — attempting IO under them risks more
      // damage than the reaper path.
      case e if scala.util.control.NonFatal(e) ||
          e.isInstanceOf[InterruptedException] =>
        // a throw AFTER the commit landed (an interrupt first seen by a
        // post-commit unpersist) leaves a published instant whose files
        // are live: cleaning it up would delete committed data
        if (!fs.exists(new Path(s"${cfg.path}/_graft/$instant.commit.json"))) {
          fs.delete(new Path(s"${cfg.path}/data/$instant"), true)
          fs.delete(new Path(s"${cfg.path}/_graft/cdc/$instant"), true)
          indexes.dropInstant(instant)
          timeline.abort(instant)
        }
        // catching the InterruptedException cleared the thread's flag so
        // the cleanup IO above could run; re-assert it for the caller
        if (e.isInstanceOf[InterruptedException]) Thread.currentThread().interrupt()
        throw e
    } finally renewer.interrupt()
  }

  /** Record-index-served hit-file TAGGING for keyed COW writes (upsert /
    * deleteByKeys) — Hudi's record-index write-path tagging (reference:
    * quickstart.sql's upsert flow rides `hoodie.metadata.record.index.enable`
    * for exactly this probe). The batch's padded keys JOIN the index
    * ([[MappingIndex.tag]]) instead of opening every candidate data file:
    * at 100 TB the difference between tens of index-bucket reads and
    * thousands of footer probes per streaming commit. Returns
    * (index-served hits, candidates of uncovered instants), or None
    * whenever the index cannot serve exactly (no index data, timeline
    * churn, fold-guard exhaustion, torn read) — the caller MUST then fall
    * back to the classic candidate probe, exact on any consistent
    * snapshot. Callers pass key-unique frames. */
  private def rliTagHits(batch: DataFrame, cand: Seq[FileMeta])
      : Option[(Seq[FileMeta], Seq[FileMeta])] = {
    // crossover gate: below ~a bucket's worth of candidates the classic
    // probe (one open per candidate) is cheaper than the index read's
    // listings + bucket scans — tagging pays off when range/bucket
    // pruning leaves MANY candidates, the only shape that exists at scale
    if (cfg.recordIndexBuckets <= 0 || cand.size < 8) return None
    try indexes.tag(indexes.record, indexes.recordRoot,
      batch.select(keyStr(keyCol, batch).as("k")), cand)
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Live data files that may contain rows where `column` equals one of
    * `values`, per the secondary index; None when the column isn't indexed,
    * the index is empty or cannot serve exactly, or the column's type has
    * no stable string form (caller falls back to a full-file scan — never
    * a silent mis-prune). Live files of commits that produced no index
    * dir for the column (a writer whose config lacked it, a schema without
    * the column, bootstrapped files) are uncovered, so always kept. */
  def secondaryIndexFiles(
      column: String, values: Seq[Any]): Option[Seq[FileMeta]] = {
    if (!cfg.secondaryIndexCols.contains(column)) return None
    // the index stores Spark's cast-to-string of the value; only types whose
    // Java string form provably matches that cast are looked up (timestamps,
    // doubles, decimals etc. format differently — a mismatch would return
    // EMPTY results, not an error, so they scan instead)
    val stable = readSchema().flatMap(_.find(_.name == column)).map(_.dataType).exists {
      case StringType | LongType | IntegerType | ShortType | ByteType | BooleanType => true
      case _ => false
    }
    if (!stable) return None
    indexes.liveFilesFor(indexes.secondary, indexes.secondaryRoot(column),
      values.map(v => String.valueOf(v)))
  }

  /** Equality read through the secondary index: scans ONLY the files the
    * index maps the values to (plus the residual filter). Falls back to a
    * normal pruned read when the column has no index data. */
  def readBySecondary(column: String, values: Seq[Any]): DataFrame = {
    val pred = col(s"`$column`").isin(values: _*)
    secondaryIndexFiles(column, values) match {
      case Some(files) =>
        // MOR: a matched base row may be superseded by a delta that changed
        // the value (whose file the index therefore does NOT map to this
        // value) — value lookups are not version-closed the way key lookups
        // are. Read ALL live delta files alongside the matches so per-key
        // resolution always sees the newest version, then re-filter.
        val readSet =
          if (cfg.tableType != TableType.Mor) files
          else {
            val adders = addCommits(None)
            val deltas = timeline.liveFiles(None)
              .filter(f => adders.get(f.path).exists(_._2))
            (files ++ deltas).distinctBy(_.path)
          }
        // values absent from the index: an EMPTY result, not a read error
        readSubset(readSet).filter(pred)
      case None => read().filter(pred)
    }
  }

  /** [[MappingIndex.guarded]] for a body that lists `indexRoot` itself. */
  private[tables] def withFoldGuard[T](indexRoot: Path, attempts: Int = 4)
      (body: => Option[T]): Option[T] =
    indexes.guarded(indexRoot, attempts)(_ => body)

  /** Fold per-commit record-index dirs into ONE merged dir
    * ([[MappingIndex.compact]]) — the index-maintenance analogue of
    * [[checkpointTimeline]] for years-lived tables. Incremental by default
    * (new dirs liveness-filtered, the merged base adopted by rename),
    * escalated to a purging full fold when footer row counts prove the
    * base majority-dead; a full fold proves coverage back from entry
    * counts.
    *
    * @return the number of source dirs consumed (folded deltas + adopted
    *         base), 0 when there is nothing to do. */
  def compactRecordIndex(full: Boolean = false): Int = {
    require(cfg.recordIndexBuckets > 0, s"table ${cfg.path} has no record index")
    indexes.compact(indexes.record, indexes.recordRoot, full, 0)
  }

  /** Fold per-commit secondary-index dirs for `column` into ONE merged dir
    * — the same fold as [[compactRecordIndex]]. The merged dir is
    * PARTITIONED BY VALUE BUCKET (`vb = pmod(xxhash64(v), B)`, B recorded
    * in a `_buckets` manifest), so an equality lookup opens
    * O(selectivity) of the index instead of scanning it whole.
    *
    * @param buckets explicit value-bucket count for the merged layout
    *                (0 = auto-size from the fold's bytes at ~8 MB per
    *                bucket); a base recorded under a different count is
    *                re-folded, not adopted
    * @return source dirs consumed (folded + adopted), 0 when nothing to
    *         do. */
  def compactSecondaryIndex(column: String, full: Boolean = false,
      buckets: Int = 0): Int = {
    require(cfg.secondaryIndexCols.contains(column),
      s"column $column is not secondary-indexed on ${cfg.path}")
    indexes.compact(indexes.secondary, indexes.secondaryRoot(column), full, buckets)
  }

  /** Rebuild `column`'s secondary index FROM THE LIVE DATA — the fold of
    * [[compactSecondaryIndex]] with the live data files as its source
    * (Hudi's index backfill re-expressed, [[MappingIndex.rebuild]]): every
    * index dir for the column is replaced by ONE merged dir of the
    * distinct (value, file) pairs of the live files, claiming EVERY
    * instant with live `data/` files. This is the SI's coverage-HEAL
    * path: coverage only degrades under the incremental fold's union rule,
    * and unlike the record index a refold of SI dirs cannot prove
    * per-value completeness. Also the BACKFILL path for a column indexed
    * after data already existed. O(live data) read of two columns: a
    * scheduled-maintenance op, not a per-commit one.
    *
    * @param buckets explicit value-bucket count (0 = auto-size from live
    *                row count at ~2M rows per bucket, capped at 256)
    * @return index dirs consumed and replaced by the rebuilt merged dir */
  def rebuildSecondaryIndex(column: String, buckets: Int = 0): Int = {
    require(cfg.secondaryIndexCols.contains(column),
      s"column $column is not secondary-indexed on ${cfg.path}")
    indexes.rebuild(indexes.secondary, indexes.secondaryRoot(column), buckets, { files =>
      // mergeSchema: files written before a schema_add lack the column —
      // their rows map to null, which no equality lookup matches, so
      // claiming them covered is exact
      val df = spark.read.option("mergeSchema", "true")
        .parquet(files.map(f => dataPath(f.path)): _*)
      val vcol =
        if (df.columns.contains(column)) col(s"`$column`").cast("string")
        else lit(null).cast("string")
      df.select(vcol.as("v"),
          GraftTable.relativizeCol(col("_metadata.file_path"), rootStr).as("f"))
        .distinct()
    })
  }

  /** Bucket id of one index value under B buckets, computed on the driver
    * ([[MappingIndex.valueBucket]]; engine parity pinned by TablesSpec). */
  private[graft] def siValueBucket(v: String, b: Int): Long = MappingIndex.valueBucket(v, b)

  private def writeCdc(df: DataFrame, instant: String): Unit =
    if (cfg.writeChangelog) graft.sources.FsCalls.withPhase("cdc_write") {
      GraftTable.committerV2(df.write.mode("overwrite")).parquet(s"${cfg.path}/_graft/cdc/$instant")
    }

  private def withMeta(df: DataFrame, instant: String, deleted: Boolean = false): DataFrame =
    df.withColumn(GraftMeta.CommitTime, lit(instant))
      .withColumn(GraftMeta.RecordKey, keyStr(keyCol, df))
      .withColumn(GraftMeta.Deleted, lit(deleted))

  /** User columns of the current snapshot (meta + synthetic + dropped cols
    * removed). Rewrites select through this, so dropped columns are
    * physically purged as file groups get rewritten. */
  private def userCols(df: DataFrame): Seq[String] =
    df.columns.filterNot(c =>
      GraftMeta.cols.contains(c) || c == GraftMeta.Bucket ||
        cfg.keyGen.syntheticCols.contains(c) || droppedCols.contains(c)).toSeq

  /** userCols plus whichever graft meta columns the frame actually has —
    * bootstrapped external files carry no meta columns, so rewrites of them
    * must not select meta columns that don't exist. */
  private def presentCols(df: DataFrame): Seq[String] =
    userCols(df) ++ GraftMeta.cols.filter(df.columns.contains)

  private def project(df: DataFrame, cols: Seq[String]): DataFrame =
    df.selectExpr(cols.map(c => s"`$c`"): _*)

  /** Bulk insert (append-only, no key collision handling) — the fast path,
    * like the reference's bulk loads. Applies precombine within the batch. */
  def insert(batch: DataFrame, numFiles: Int = 0,
      commitMeta: Map[String, String] = Map.empty): String = {
    ensureConfig()
    val deduped = precombine(batch)
    withReservedInstant { instant =>
      val adds = writeFiles(withMeta(deduped, instant), instant, numFiles)
      // no changelog for pure inserts — cdc() derives them from the data files
      commitValidated(Commit(instant, "insert", adds, Nil, commitMeta))
      instant
    }
  }

  /** Keyed upsert: incoming records replace stored records with the same
    * key; new keys are inserted. COW rewrites only files actually containing
    * batch keys; MOR appends a delta file and resolves at read time. */
  def upsert(batch: DataFrame, commitMeta: Map[String, String] = Map.empty): String =
    if (cfg.tableType == TableType.Mor && timeline.liveFiles(None).nonEmpty)
      appendDelta(precombine(batch), deleted = false, commitMeta)
    else upsertResolved(precombine(batch), "upsert", commitMeta)

  /** MOR write path: the batch lands as new files, nothing is rewritten. */
  private def appendDelta(batch: DataFrame, deleted: Boolean,
      commitMeta: Map[String, String] = Map.empty): String = {
    ensureConfig()
    withReservedInstant { instant =>
      val adds = writeFiles(withMeta(batch, instant, deleted), instant)
      commitValidated(Commit(instant, "delta", adds, Nil, commitMeta))
      instant
    }
  }

  private def upsertResolved(batch: DataFrame, op: String,
      commitMeta: Map[String, String] = Map.empty): String = {
    ensureConfig()
    if (timeline.liveFiles(None).isEmpty) insert(batch, commitMeta = commitMeta)
    else keyedCommit(op, batch, Some(batch), commitMeta)
  }

  /** Output file count for a rewrite of `rows` total rows, sized to the
    * table's current rows-per-file so rewrites neither explode small files
    * (a 4-file rewrite must not emit 36 shuffle-partition-sized shards —
    * the small-file blowup the reference's glue bench measures) nor build
    * jumbo files.
    *
    * The per-file target is FLOORED: sizing purely by the current average
    * is a positive feedback loop — fragmentation lowers the average,
    * which fragments the next rewrite further (the 1000-commit aging
    * stress measured the runaway: 2.8-row files and 107-file rewrites of
    * 300-row batches by commit 200, +43 files/commit and accelerating).
    * With the floor, a small rewrite CONSOLIDATES its key range into few
    * files instead of splintering it, so churn self-heals; healthy tables
    * (average above the floor) are unaffected. */
  private def rewriteFileCount(live: Seq[FileMeta], rows: Long): Int = {
    val avg = math.max(1L, live.map(_.rows).sum / math.max(1, live.size))
    val target = math.max(avg, GraftTable.RewriteMinRowsPerFile)
    math.max(1, math.ceil(rows.toDouble / target).toInt)
  }

  /** Sort spec for COW rewrites (upsert/delete/changelog): KEY-RANGE the
    * output so carried rows keep their locality. Without this each
    * rewrite's random repartition mixes carried rows across the key
    * space, per-file key ranges widen monotonically, and a long-lived
    * table converges to every-upsert-hits-every-file — the 1000-commit
    * aging stress measured a 150-row batch rewriting 134 files (~8 rows
    * each) by commit 600, with candidate pruning fully defeated.
    * Partitioned / bucketed tables already get locality from their
    * partCols/bucket layout, and range-partitioning would fight it. */
  private def rewriteSortCols: Seq[String] =
    if (cfg.keyGen.partitionCols.isEmpty && cfg.numBuckets <= 0) Seq(cfg.keyField)
    else Nil

  /** The classic candidate probe: open the candidate files and semi-join
    * the batch's keys — exact on any consistent snapshot, and the
    * fallback tier under record-index tagging (rliTagHits).
    *
    * The file name is captured BEFORE the join (ambiguous once two scans
    * are in the plan), and via _metadata.file_path, NEVER
    * input_file_name(): the CacheManager substitutes any concurrently
    * .cache()d identical scan into this query by canonical-plan match,
    * and input_file_name() returns "" on cached rows — hit detection
    * then attributes matches to no file and re-INSERTS existing keys
    * (duplicate rows; ConcurrencyStress caught it as a whole slice
    * duplicated under 2 OCC writers). _metadata.file_path is part of
    * the scan's required output, so a cache entry lacking it can
    * never be substituted in; pinned by FileAttributionSpec. */
  private def probeCandidates(batch: DataFrame, cand: Seq[FileMeta]): Seq[FileMeta] =
    if (cand.isEmpty) Seq.empty
    else {
      val candDF = readFiles(cand).withColumn("_graft_file", col("_metadata.file_path"))
      // no .distinct() on the batch keys: a semi-join is duplicate-
      // insensitive, and every caller passes a key-unique frame anyway
      // (precombined batch, window-deduped changelog, distinct'd key set)
      // — the distinct was one dead exchange + aggregate PER COMMIT
      val hits = candDF
        .join(batch.select(keyCol), Seq(cfg.keyField), "leftsemi")
        .select(col("_graft_file")).distinct()
        .collect().map(r => relPath(r.getString(0))).toSet
      cand.filter(f => hits.contains(f.path))
    }

  /** The one keyed COW commit, behind upsert, merge and partialUpsert
    * (`newRows` = the precombined batch), COW deleteByKeys (no new rows)
    * and applyChangelog's fused path (`keys` = the last action per changed
    * key, `newRows` = its upserts). Every stored row of a key in `keys` is
    * replaced by `newRows` or deleted. `keys` must be key-unique: the probe
    * and the carry anti-join trust that instead of paying a distinct. It is
    * cached for the commit, so frames derived from it (`newRows`) read the
    * cache. ONE aggregation job gives the key range, row count and bucket
    * set; files whose key range or bucket cannot hold a batch key are
    * pruned; the survivors are tagged through the record index, and what
    * the index cannot serve goes through the classic probe. */
  private def keyedCommit(op: String, keys: DataFrame, newRows: Option[DataFrame],
      commitMeta: Map[String, String] = Map.empty): String =
    withReservedInstant { instant =>
      val live = timeline.liveFiles(None)
      val batch = keys.cache()
      try {
        // buckets of the key as STORED: a batch key of another integral
        // type hashes differently and would prune the file that holds it
        def storedKey = readSchema().flatMap(_.find(_.name == cfg.keyField))
          .fold(keyCol)(f => keyCol.cast(f.dataType))
        val aggCols = Seq(
          min(keyStr(keyCol, batch)).as("mn"), max(keyStr(keyCol, batch)).as("mx"),
          count(lit(1)).as("cnt")) ++
          (if (cfg.numBuckets > 0) Seq(collect_set(bucketOf(storedKey)).as("bk")) else Nil)
        val r = batch.agg(aggCols.head, aggCols.tail: _*).head()
        if (r.isNullAt(0)) // empty batch: record a no-op commit
          commitValidated(Commit(instant, op, Nil, Nil, commitMeta))
        else {
          val (bMin, bMax) = (r.getString(0), r.getString(1))
          val buckets: Set[Int] =
            if (cfg.numBuckets <= 0) Set.empty else r.getSeq[Long](3).map(_.toInt).toSet
          val ranged = rangeKeyType.isDefined
          val cand = live.filter { f =>
            (!ranged || f.minKey <= bMax && bMin <= f.maxKey) &&
              (cfg.numBuckets <= 0 || f.bucketMod != cfg.numBuckets || buckets.contains(f.bucket))
          }
          // index-served tagging first (its bill rides the batch's index
          // buckets, not the candidate count); candidates of uncovered
          // instants, and everything when the index can't serve exactly,
          // go through the classic open-and-semi-join probe
          val hitFiles =
            if (cand.isEmpty) Seq.empty[FileMeta]
            else graft.sources.FsCalls.withPhase("candidate_probe") {
              rliTagHits(batch, cand) match {
                case Some((idxHits, unmapped)) => idxHits ++ probeCandidates(batch, unmapped)
                case None => probeCandidates(batch, cand)
              }
            }
          val batchKeys = batch.select(keyCol)
          rewriteCommit(instant, op, live, hitFiles,
            carry = _.join(batchKeys, Seq(cfg.keyField), "leftanti"),
            doomed = _.join(batchKeys, Seq(cfg.keyField), "leftsemi"),
            newRows.map(_ -> r.getLong(2)), commitMeta)
        }
      } finally batch.unpersist()
      instant
    }

  /** The one COW rewrite tail, shared by [[keyedCommit]] and
    * delete(predicate). The hit files are read once (`affected`, cached:
    * the rewrite and the CDC images both scan them). The stored rows
    * `carry` keeps are written with the new rows beside them, sized like
    * the files they replace and key-range sorted, and the commit replaces
    * exactly the hit files. CDC: new rows image as updates of the stored
    * rows of their keys, or as inserts; without new rows the `doomed`
    * stored rows image as deletes. (applyChangelog's fused path, the one
    * caller with both new rows and deleted keys, runs only on tables
    * without a changelog.) `newRows` carries its row count, which sizes the
    * output. No hits and no new rows commit a no-op. */
  private def rewriteCommit(instant: String, op: String, live: Seq[FileMeta],
      hitFiles: Seq[FileMeta], carry: DataFrame => DataFrame,
      doomed: DataFrame => DataFrame, newRows: Option[(DataFrame, Long)],
      commitMeta: Map[String, String]): Unit =
    if (hitFiles.isEmpty && newRows.isEmpty)
      commitValidated(Commit(instant, op, Nil, Nil, commitMeta))
    else {
      val affected = if (hitFiles.isEmpty) None else Some(readFiles(hitFiles).cache())
      try {
        val carried = affected.map(a => project(carry(a), presentCols(a)))
        val fresh = newRows.map { case (rows, _) =>
          val withCols = withMeta(rows, instant)
          project(withCols, presentCols(withCols))
        }
        // allowMissingColumns = schema evolution: a batch may ADD columns;
        // carried rows get nulls for them (and vice versa for columns the
        // batch omits). Parquet handles per-file schema differences at read.
        val out = (carried ++ fresh).reduce(_.unionByName(_, allowMissingColumns = true))
        // sized like the files it replaces: carried rows stay ≈ hit rows
        // minus the replaced ones, new rows add their share
        val nOut = rewriteFileCount(live, hitFiles.map(_.rows).sum + newRows.fold(0L)(_._2))
        val adds =
          if (newRows.isEmpty && out.isEmpty) Nil // every stored row of the hits deleted
          else writeFiles(out, instant, numFiles = nOut, sortCols = rewriteSortCols)
        writeCdc(newRows match {
          case Some((rows, _)) => upsertImages(affected, rows)
          case None =>
            val aff = affected.get
            project(doomed(aff), userCols(aff)).withColumn("_change_type", lit("delete"))
        }, instant)
        commitValidated(Commit(instant, op, adds, hitFiles.map(_.path), commitMeta))
      } finally affected.foreach(_.unpersist())
    }

  /** CDC images of `rows` landing over the stored `affected` rows: ONE
    * full-outer join yields all three kinds in a single pass (matched →
    * pre+post, batch-only → insert, stored-only → carried, no image). Sides
    * are null-padded per column so a schema-evolving batch (new columns the
    * stored files lack, or vice versa) images cleanly. */
  private def upsertImages(affected: Option[DataFrame], rows: DataFrame): DataFrame = {
    val uc = userCols(rows)
    affected match {
      case Some(aff) =>
        def projStruct(df: DataFrame) = {
          val have = df.columns.toSet
          struct(uc.map(c =>
            (if (have(c)) col(c) else lit(null).cast(rows.schema(c).dataType)).as(c)): _*)
        }
        val oldSide = aff.select(keyCol.as("_gk"), projStruct(aff).as("_old"))
        val newSide = rows.select(keyCol.as("_gk"), projStruct(rows).as("_new"))
        oldSide.join(newSide, Seq("_gk"), "full_outer")
          .filter(col("_new").isNotNull) // stored-only rows: carried, no image
          .select(explode(
            when(col("_old").isNotNull,
              array(struct(col("_old").as("row"), lit("update_preimage").as("_ct")),
                struct(col("_new").as("row"), lit("update_postimage").as("_ct"))))
              .otherwise(array(struct(col("_new").as("row"), lit("insert").as("_ct")))))
            .as("e"))
          .select(col("e.row.*"), col("e._ct").as("_change_type"))
      case None => project(rows, uc).withColumn("_change_type", lit("insert"))
    }
  }

  /** DELETE by predicate (quickstart.sql:71-74): COW rewrites only files
    * that contain matching rows; MOR appends tombstone rows. */
  def delete(predicate: Column): String = {
    ensureConfig()
    if (cfg.tableType == TableType.Mor) {
      val doomed = read().filter(predicate)
      appendDelta(doomed, deleted = true)
    } else withReservedInstant { instant =>
      val live = timeline.liveFiles(None)
      val hits = readFiles(live).filter(predicate)
        .select(col("_metadata.file_path").as("f")).distinct()
        .collect().map(r => relPath(r.getString(0))).toSet
      // NULL predicate results must KEEP the row (SQL DELETE semantics) —
      // filter(!predicate) would silently drop them
      val matched = coalesce(predicate, lit(false))
      rewriteCommit(instant, "delete", live, live.filter(f => hits.contains(f.path)),
        carry = _.filter(!matched), doomed = _.filter(matched), None, Map.empty)
      instant
    }
  }

  /** DELETE by record-key set — the keyed-delete fast path (RowKind `-D`
    * changelog deletes, key-targeted erasure). Candidate files are pruned by
    * the batch's key range and bucket set exactly like upsert, so the
    * rewrite touches O(batch) file groups, not O(table). MOR appends
    * tombstones instead. `keys` is any frame containing the key column. */
  def deleteByKeys(keys: DataFrame): String = {
    ensureConfig()
    val keyDf = keys.select(keyCol).distinct()
    if (cfg.tableType == TableType.Mor)
      appendDelta(read().join(keyDf, Seq(cfg.keyField), "leftsemi"), deleted = true)
    else keyedCommit("delete", keyDf, None)
  }

  /** Apply a RowKind-tagged changelog batch — the Spark-native analogue of
    * the reference's streaming changelog writer
    * (flink/.../HudiDataStreamWriter.java: RowKind INSERT / UPDATE_BEFORE /
    * UPDATE_AFTER / DELETE). Semantics: the LAST action per key (ordered by
    * `seqCol`) wins; `+I`/`I`/`+U`/`U` rows upsert, `-D`/`D` rows delete by
    * key, and `-U` update-before images are ignored (the post-image carries
    * the state). */
  def applyChangelog(changes: DataFrame, rowKindCol: String, seqCol: String): String = {
    ensureConfig()
    val kind = upper(col(rowKindCol))
    val active = changes.filter(kind.isin("I", "+I", "U", "+U", "D", "-D"))
    // last action per key; ties on seq broken deterministically by kind
    val w = Window.partitionBy(cfg.keyField).orderBy(col(seqCol).desc, kind.asc)
    val last = active.withColumn("_graft_cl_rn", row_number().over(w))
      .filter(col("_graft_cl_rn") === 1).drop("_graft_cl_rn")
    val isDelete = kind.isin("D", "-D")
    val upserts = last.filter(!isDelete).drop(rowKindCol)
    // MOR and CDC-imaged tables compose the two keyed primitives (delete
    // tombstones / CDC images need the split); plain COW fuses everything
    // into ONE keyed commit: carried rows exclude every changed key (so
    // deleted keys vanish and updated keys are replaced), and the upsert
    // rows land — one candidate probe, one write, one atomic commit.
    if (cfg.tableType == TableType.Mor || cfg.writeChangelog) {
      last.cache()
      try {
        deleteByKeys(last.filter(isDelete).select(keyCol))
        upsert(upserts)
      } finally last.unpersist()
    } else if (timeline.liveFiles(None).isEmpty) insert(upserts)
    else keyedCommit("changelog", last, Some(upserts))
  }

  /** MERGE INTO (quickstart.sql:59-66): WHEN MATCHED THEN UPDATE SET * /
    * WHEN NOT MATCHED THEN INSERT *. The source must have the target's user
    * schema. Optionally a custom matched-update projection over columns of
    * `t` (target) and `s` (source). */
  def merge(
      source: DataFrame,
      whenMatchedUpdate: Option[Seq[(String, Column)]] = None,
      whenNotMatchedInsert: Boolean = true,
      commitMeta: Map[String, String] = Map.empty): String = {
    val src = precombine(source)
    val snap = snapshotWithMeta(None)
    val uc = userCols(snap)
    val target = snap.selectExpr(uc.map(c => s"`$c`"): _*)
    val batch = whenMatchedUpdate match {
      case None =>
        // UPDATE SET * / INSERT *: the source rows ARE the new versions
        if (whenNotMatchedInsert) src.selectExpr(uc.map(c => s"`$c`"): _*)
        else src.join(target.select(keyCol).distinct(), Seq(cfg.keyField), "leftsemi")
          .selectExpr(uc.map(c => s"`$c`"): _*)
      case Some(setExprs) =>
        val t = target.alias("t")
        val s = src.alias("s")
        val joined = t.join(s, col(s"t.${cfg.keyField}") === col(s"s.${cfg.keyField}"))
        val updated = joined.select(uc.map { c =>
          setExprs.find(_._1 == c).map(_._2.as(c)).getOrElse(col(s"t.`$c`").as(c))
        }: _*)
        val inserts =
          if (!whenNotMatchedInsert) updated.limit(0)
          else s.join(t.select(col(s"t.${cfg.keyField}")), col(s"s.${cfg.keyField}") === col(s"t.${cfg.keyField}"), "leftanti")
            .selectExpr(uc.map(c => s"`$c`"): _*)
        updated.unionByName(inserts)
    }
    if (cfg.tableType == TableType.Mor) appendDelta(batch, deleted = false, commitMeta)
    else upsertResolved(batch, "merge", commitMeta)
  }

  /** Partial-record upsert: a NULL field in the source record keeps the
    * stored value, non-null fields overwrite — Hudi's
    * OverwriteNonDefaultsWithLatestAvroPayload (the sparse-patch ingest
    * pattern: producers emit only changed columns). New keys insert as-is.
    * Expressed as a MERGE whose update set is column-wise
    * coalesce(source, target), so the COW write still rewrites only
    * colliding file groups. */
  def partialUpsert(batch: DataFrame, commitMeta: Map[String, String] = Map.empty): String = {
    val sets = userCols(batch).filterNot(_ == cfg.keyField)
      .map(c => c -> coalesce(col(s"s.`$c`"), col(s"t.`$c`")))
    merge(batch, whenMatchedUpdate = Some(sets), commitMeta = commitMeta)
  }

  // ------------------------------------------------------------- services

  /** The one file-set rewrite, behind compact, cluster, clusterZOrder,
    * rebucket and splitBucket. Under an instant reserved by `via` (the
    * handle whose bucket layout the output takes), the `pick`ed live files
    * are resolved (MOR deltas and tombstones fold into the rewritten base;
    * winning rows keep their original commit times, so incremental reads
    * survive), projected to their present columns and written by `write`
    * (given the picked files and the instant); the commit replaces exactly
    * the picked files. Every `op` here is a layout op: content is
    * unchanged, so validators skip it. */
  private def rewriteFileSet(op: String, via: GraftTable = this,
      pick: Seq[FileMeta] => Seq[FileMeta] = identity)(
      write: (DataFrame, Seq[FileMeta], String) => Seq[FileMeta]): String =
    via.withReservedInstant { instant =>
      val files = pick(timeline.liveFiles(None))
      val snap = resolve(readFiles(files))
      val adds = write(project(snap, presentCols(snap)), files, instant)
      via.commitValidated(Commit(instant, op, adds, files.map(_.path)))
      instant
    }

  /** Bin-pack small files into ~`targetRows`-sized files (the analogue of
    * Hudi inline compaction / small-file handling,
    * DeltaStreamerExample.scala:49-56). Data content is unchanged. */
  def compact(targetRows: Long): String = rewriteFileSet("compact") { (snap, live, instant) =>
    val nFiles = math.max(1, math.ceil(live.map(_.rows).sum.toDouble / targetRows).toInt)
    writeFiles(snap, instant, nFiles)
  }

  /** Rewrite the table range-clustered on `sortCols` (the analogue of Hudi
    * clustering, flink consistent_hashing.sql:93-97): co-locates rows for
    * downstream range/point pruning. Content is unchanged. */
  def cluster(sortCols: Seq[String], numFiles: Int): String =
    rewriteFileSet("cluster") { (snap, _, instant) =>
      writeFiles(snap, instant, numFiles, sortCols)
    }

  /** Z-order clustering on N >= 2 numeric columns (the multidimensional
    * variant of `cluster`, like Hudi's z-order layout optimization): rows
    * close in EVERY dimension land in the same files, so per-file min/max
    * stats prune range queries on any clustered column. Content unchanged. */
  def clusterZOrder(sortCols: Seq[String], numFiles: Int): String = {
    require(sortCols.size >= 2, "clusterZOrder needs at least 2 columns")
    // parsed BEFORE the instant is reserved: a bad value fails the call
    // with the key named and leaves the table untouched
    val pinMax = spark.conf.getOption(GraftTable.ZOrderPinMaxKey)
      .fold(4L << 30)(TableProperties.parseCount(GraftTable.ZOrderPinMaxKey, _))
    rewriteFileSet("cluster") { (snap, live, instant) =>
      // one job computes every dimension's min/max
      val r = snap.agg(
        sortCols.flatMap(c => Seq(min(col(c).cast("double")), max(col(c).cast("double")))).head,
        sortCols.flatMap(c => Seq(min(col(c).cast("double")), max(col(c).cast("double")))).tail: _*).head()
      val dims = sortCols.zipWithIndex.map { case (c, i) =>
        require(!r.isNullAt(2 * i),
          s"clusterZOrder($c) requires non-null numeric values in every column")
        (col(c), r.getDouble(2 * i), r.getDouble(2 * i + 1))
      }
      val zSnap = snap.withColumn("_graft_z", graft.functions.ZOrder.zValueN(dims))
      // pin before the range repartition: the bound-sampling job would
      // otherwise re-scan the whole table and recompute every z-value.
      // SIZE-GATED: this is a WHOLE-TABLE rewrite, so the pin stores a full
      // table copy on executor-local memory/disk — fine for the small/medium
      // tables the pin was measured on, but a multi-TB cluster would trade an
      // object-store re-scan for local-disk exhaustion. Above the threshold
      // (conf `spark.graft.zorder.pinMaxBytes`, default 4 GiB of live file
      // length from commit metadata) the pin is skipped and the rewrite pays
      // the sampling re-scan — the bounded, scale-safe cost.
      val (zin, zrdd) =
        if (live.map(_.len).sum <= pinMax) graft.GraftSession.pinRows(zSnap)
        else (zSnap, null)
      val out = zin
        .repartitionByRange(numFiles, col("_graft_z"))
        .sortWithinPartitions("_graft_z")
        .drop("_graft_z")
      try writeFiles(out, instant)
      finally if (zrdd != null) zrdd.unpersist(blocking = false)
    }
  }

  /** Two-column z-order clustering (compat overload). */
  def clusterZOrder(colA: String, colB: String, numFiles: Int): String =
    clusterZOrder(Seq(colA, colB), numFiles)

  /** Resize the hash-bucket index to `newNumBuckets` — the service behind
    * Hudi's consistent-hashing bucket index (flink
    * consistent_hashing.sql:65-99), which exists so a bucketed table can
    * outgrow its initial bucket count. One rewrite commit, then the new
    * count is persisted to the table config so every later handle/reader
    * prunes with it. With a power-of-two resize, pmod moves each old
    * bucket's rows only to {b, b+oldN, …} — rewrites stay file-group-local
    * (split), never an all-to-all reshuffle. Returns the commit instant. */
  def rebucket(newNumBuckets: Int): String = {
    require(cfg.numBuckets > 0, s"table ${cfg.path} has no bucket index to resize")
    require(newNumBuckets > 0, "newNumBuckets must be positive")
    val newCfg = cfg.copy(numBuckets = newNumBuckets)
    val h2 = new GraftTable(spark, newCfg)
    // one shuffle partition per new bucket: writeFiles repartitions by the
    // bucket column, so each bucket lands as one file written by one task
    val instant = rewriteFileSet("rebucket", via = h2) { (snap, _, i) =>
      h2.writeFiles(snap, i, numFiles = newNumBuckets)
    }
    TableProperties.save(spark, newCfg)
    instant
  }

  /** Split ONE overloaded bucket under the doubled modulus — the
    * incremental form of [[rebucket]] and the actual point of Hudi's
    * consistent-hashing index: a hot bucket is rewritten locally (its rows
    * can only move to {b, b+N}), every other file group is untouched.
    * Mixed-modulus state is sound: lookups never bucket-prune a file whose
    * recorded modulus differs from the handle's, so split and unsplit
    * buckets coexist until [[finalizeBucketSplit]] flips the table config
    * once every bucket has been split. */
  def splitBucket(b: Int): String = {
    require(cfg.numBuckets > 0, s"table ${cfg.path} has no bucket index")
    require(b >= 0 && b < cfg.numBuckets, s"bucket $b out of range [0, ${cfg.numBuckets})")
    val h2 = new GraftTable(spark, cfg.copy(numBuckets = 2 * cfg.numBuckets))
    // every version of a key lives in the key's bucket, so resolving just
    // this bucket's files is a complete per-key view
    rewriteFileSet("split_bucket", via = h2, pick = { live =>
      val victims = live.filter(f => f.bucket == b && f.bucketMod == cfg.numBuckets)
      require(victims.nonEmpty,
        s"bucket $b has no files under modulus ${cfg.numBuckets} (already split?)")
      victims
    }) { (snap, _, i) => h2.writeFiles(snap, i, numFiles = 2) }
  }

  /** Flip the persisted bucket count to 2N once EVERY live bucketed file is
    * already under the doubled modulus (i.e. each bucket has been
    * [[splitBucket]]-ed). Returns true when flipped; false when unsplit
    * files remain. Metadata-only — no data is touched. */
  def finalizeBucketSplit(): Boolean = {
    require(cfg.numBuckets > 0, s"table ${cfg.path} has no bucket index")
    val unsplit = timeline.liveFiles(None).exists(_.bucketMod != 2 * cfg.numBuckets)
    if (unsplit) false
    else {
      TableProperties.save(spark, cfg.copy(numBuckets = 2 * cfg.numBuckets))
      true
    }
  }

  /** Roll back the LATEST commit (Hudi rollback/restore): its commit file
    * and the data files it added are removed; files it replaced become live
    * again automatically (timeline resolution). Only the newest commit can
    * be rolled back — earlier ones are load-bearing for later snapshots. */
  def rollback(instant: String): Unit = {
    val latest = timeline.latestInstant()
    require(latest.contains(instant),
      s"only the latest commit (${latest.getOrElse("none")}) can be rolled back, not $instant")
    // a checkpoint PINS this instant's snapshot as a full file listing —
    // deleting the commit's files would leave the checkpoint referencing
    // them (reads resolve from checkpoints first: silent corruption).
    // restore() handles this by deleting later checkpoints first.
    require(!timeline.checkpoints().contains(instant),
      s"instant $instant is pinned by a timeline checkpoint and cannot be " +
        "rolled back (restore to an earlier savepoint instead)")
    val c = timeline.readCommit(instant)
    // external (bootstrapped) files are not owned by the table: deregister only
    c.adds.filterNot(_.path.startsWith("ext:"))
      .foreach(f => fs.delete(new Path(s"${cfg.path}/${f.path}"), false))
    fs.delete(new Path(s"${cfg.path}/_graft/cdc/$instant"), true)
    indexes.dropInstant(instant)
    fs.delete(new Path(s"${cfg.path}/_graft/$instant.commit.json"), false)
    // Deleting the commit RESURRECTS every file it had replaced — and any
    // index fold that ran while the commit was live liveness-purged those
    // files' mappings from its merged dir (they were dead at fold time).
    // A merged dir still CLAIMING their instants would make indexed
    // lookups silently miss the resurrected rows (fuzz-found: restore
    // after compact+fold lost the original base rows from SI equality).
    val resurrected = c.removes.flatMap(MappingIndex.instantOf).toSet
    if (resurrected.nonEmpty) indexes.unclaim(resurrected)
    // tombstone: the instant number is never reused, so commits cached by
    // other table handles can never be re-bound to different data
    timeline.abort(instant)
  }

  /** Mark a committed instant as a savepoint (Hudi savepoint): `clean`
    * keeps every file needed to rebuild this snapshot, and [[restore]] can
    * roll the table back to it. */
  def savepoint(instant: String): Unit = timeline.savepoint(instant)

  /** Restore the table to a savepointed instant (Hudi restore): every
    * commit after it is rolled back newest-first — their data files and
    * commit entries are removed, so the savepoint becomes the latest
    * snapshot. Destructive for the rolled-back commits (like Hudi). */
  def restore(instant: String): Unit = {
    require(timeline.savepoints().contains(instant),
      s"restore requires a savepoint at $instant (savepoints: ${timeline.savepoints().mkString(", ")})")
    require(!timeline.archivedInstants().exists(_ > instant),
      s"cannot restore to $instant: later commits were archived")
    // checkpoints taken after the savepoint reference rolled-back files —
    // they must go before the commits do (liveFiles would resolve from them)
    timeline.checkpoints().filter(_ > instant).foreach(timeline.deleteCheckpoint)
    timeline.instants().filter(_ > instant).reverse.foreach(rollback)
  }

  /** Checkpoint the CURRENT snapshot's file listing into one metadata file
    * and archive every commit at or before it out of the hot timeline
    * (Hudi metadata-table files index + archived timeline). After this,
    * every read replays O(commits since checkpoint) instead of the whole
    * history — the maintenance service a years-lived streaming table needs.
    * Returns the checkpointed instant. */
  def checkpointTimeline(): String = timeline.latestInstant() match {
    case Some(latest) =>
      // already checkpointed at this instant (e.g. savepointed commits kept
      // hot by archive): don't rewrite, just retry the archive
      if (!timeline.checkpoints().lastOption.contains(latest))
        timeline.checkpoint(latest)
      timeline.archive()
      latest
    case None =>
      // idempotent no-op: a previous checkpoint archived every hot commit
      // and nothing new arrived — a periodic maintenance job re-running
      // this gets the existing checkpoint back, not an exception
      timeline.checkpoints().lastOption.getOrElse(
        throw new IllegalStateException(s"nothing to checkpoint in ${cfg.path}"))
  }

  /** Metadata-only bootstrap of an existing parquet file/directory into
    * this table (Hudi METADATA_ONLY bootstrap): external files are
    * registered on the timeline with key stats harvested from their
    * parquet footers — nothing is copied or rewritten, so onboarding a
    * 100 TB parquet lake is a footer-scan, not a data migration. Later
    * upserts migrate colliding file groups into table-managed storage;
    * `clean` never deletes external files. */
  def bootstrap(sourceDir: String): String = {
    require(cfg.tableType == TableType.Cow && cfg.numBuckets == 0 &&
      cfg.keyGen == NoPartition,
      "bootstrap supports unpartitioned, unbucketed COW tables")
    // external files get no index entries, so RLI lookups would silently
    // miss their keys — indexing a bootstrapped lake is a separate backfill
    require(cfg.recordIndexBuckets == 0,
      "bootstrap is not supported with a record index")
    ensureConfig()
    withReservedInstant { instant =>
      val src = new Path(sourceDir)
      val sfs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = sfs.listFiles(src, true)
      val found = scala.collection.mutable.ArrayBuffer.empty[(Path, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet"))
          found += ((f.getPath, f.getLen))
      }
      require(found.nonEmpty, s"no parquet files under $sourceDir")
      val adds = found.flatMap { case (p, len) =>
        GraftTable.footerKeyStatsAt(p, len,
            spark.sparkContext.hadoopConfiguration, cfg.keyField,
            cfg.statsCols.toSet)
          .map { case (mn, mx, rows, cs) =>
            FileMeta("ext:" + p.toUri.getPath, "", 0, mn, mx, rows, cs, len = len)
          }
      }.toSeq
      // persist the user schema so streaming readers resolve without data
      TableProperties.saveSchema(spark, cfg.path,
        spark.read.parquet(adds.map(f => dataPath(f.path)): _*).schema)
      invalidateReadSchema()
      commitValidated(Commit(instant, "bootstrap", adds, Nil))
      instant
    }
  }

  /** Metadata-only SHALLOW CLONE (the Delta/Iceberg shallow-clone shape):
    * the clone's first commit references the SOURCE snapshot's live files
    * as external (`ext:`) entries — zero data copied, per-file stats
    * carried over verbatim (no footer re-read), and snapshot-isolated
    * from later source mutations because the file list is pinned. Same
    * restrictions as [[bootstrap]] on both ends (unpartitioned, unbucketed
    * COW, no record index); the source's `clean` is the one shared hazard,
    * exactly as with any shallow clone. Clone-local upserts rewrite
    * affected external files into clone-owned files, never the source. */
  def cloneFrom(source: GraftTable): String = {
    require(cfg.tableType == TableType.Cow && cfg.numBuckets == 0 &&
      cfg.keyGen == NoPartition && cfg.recordIndexBuckets == 0,
      "shallow clone targets an unpartitioned, unbucketed COW table")
    require(source.cfg.tableType == TableType.Cow,
      "shallow clone of a MOR table requires compaction first (delta files " +
        "are not self-contained)")
    ensureConfig()
    withReservedInstant { instant =>
      val srcRoot = new Path(source.cfg.path).toUri.getPath
      val adds = source.timeline.liveFiles(None).map { f =>
        val abs = if (f.path.startsWith("ext:")) f.path
          else s"ext:$srcRoot/${f.path}"
        f.copy(path = abs, bucketMod = 0)
      }
      TableProperties.loadSchema(source.spark, source.cfg.path).foreach(sch =>
        TableProperties.saveSchema(spark, cfg.path, sch))
      invalidateReadSchema()
      commitValidated(Commit(instant, "clone", adds, Nil))
      instant
    }
  }

  /** DROP PARTITION (the Hudi delete_partition operation): a metadata-only
    * commit removing every live file whose partition path matches — no data
    * is read or rewritten, so retiring a day/tenant partition on a 100 TB
    * table is one timeline write. The files stay on disk for time travel
    * until `clean`. Returns the commit instant (a no-op commit when nothing
    * matches). */
  def dropPartitions(partitionPred: String => Boolean): String = {
    ensureConfig()
    require(cfg.keyGen.partitionCols.nonEmpty, "table is not partitioned")
    withReservedInstant { instant =>
      val removes = timeline.liveFiles(None).filter(f => partitionPred(f.partition))
      commitValidated(Commit(instant, "delete_partition", Nil, removes.map(_.path)))
      instant
    }
  }

  /** INSERT OVERWRITE for whole partitions: replaces every live file whose
    * partition value matches the batch's partitions with the batch content
    * (the Hudi insert_overwrite operation). Requires a partitioned table. */
  def insertOverwritePartitions(batch: DataFrame): String = {
    ensureConfig()
    require(cfg.keyGen.partitionCols.nonEmpty, "table is not partitioned")
    val deduped = precombine(batch)
    withReservedInstant { instant =>
      val adds = writeFiles(withMeta(deduped, instant), instant)
      val replaced = adds.map(_.partition).toSet
      val removes = timeline.liveFiles(None).filter(f => replaced.contains(f.partition))
      commitValidated(Commit(instant, "insert_overwrite", adds, removes.map(_.path)))
      instant
    }
  }

  /** INSERT OVERWRITE TABLE: replaces the ENTIRE live file set with the
    * batch in one commit. Timeline history is preserved — time travel still
    * sees pre-overwrite snapshots (unlike a drop-and-recreate). */
  def insertOverwriteTable(batch: DataFrame,
      commitMeta: Map[String, String] = Map.empty): String = {
    ensureConfig()
    val deduped = precombine(batch)
    withReservedInstant { instant =>
      val removes = timeline.liveFiles(None)
      val adds = writeFiles(withMeta(deduped, instant), instant)
      commitValidated(Commit(instant, "insert_overwrite", adds, removes.map(_.path), commitMeta))
      instant
    }
  }

  /** Physically delete files no longer referenced as of `asOfInstant`
    * (Hudi cleaner). Safe only once readers of older snapshots are done.
    * Files live in any savepointed snapshot are retained (Hudi cleaner
    * contract), and external (bootstrapped) files are never deleted. */
  def clean(asOfInstant: String): Int = {
    val protectedFiles = timeline.savepoints()
      .flatMap(sp => timeline.liveFiles(Some(sp)).map(_.path)).toSet
    val removed = timeline.removedFiles(asOfInstant)
    removed.count { rel =>
      !rel.startsWith("ext:") && !protectedFiles.contains(rel) &&
        fs.delete(new Path(s"${cfg.path}/$rel"), false)
    }
  }

  /** Physically delete files under `data/` that NO commit (hot or
    * archived) references — the residue of hard-killed writers whose
    * instant never committed (a clean abort already removes its own files;
    * a kill -9 mid-write cannot). Grace period: an instant still holding a
    * fresh `.inflight` reservation is never touched; a stale reservation is
    * first FENCED (tombstoned under the commit lock, so its writer can no
    * longer commit) and only then reaped — files are deleted only when
    * older than `olderThanMs`.
    * Replaced-but-still-on-disk files are NOT orphans (commits reference
    * them as removes; reclaiming those is [[clean]]'s job). The analogue of
    * Hudi's marker-based reconciliation / Delta VACUUM. Returns the number
    * of files deleted. */
  def cleanOrphans(olderThanMs: Long = 3600000L): Int = {
    val dataDir = new Path(s"${cfg.path}/data")
    if (!fs.exists(dataDir)) return 0
    // A LIVE `.inflight` reservation means its writer may still be running
    // — a legitimate write outlasting the grace period must not lose its
    // files an instant before its commit lands, so the grace period is
    // keyed off the RESERVATION, not per-file mtime. A reservation older
    // than the grace period is presumed dead, but is reaped only after
    // [[Timeline.abortIfStale]] tombstones it under the commit lock —
    // commit refuses tombstoned instants, so a writer that was in fact
    // alive fails its commit instead of publishing dangling adds.
    val now = System.currentTimeMillis()
    val protectedInstants = timeline.inflightReservations().filter {
      case (instant, reservedAt) =>
        reservedAt >= now - olderThanMs || !timeline.abortIfStale(instant, olderThanMs)
    }.keySet
    val referenced = timeline.committedInstants()
      .flatMap(i => timeline.readCommit(i).adds.map(_.path)).toSet
    val cutoff = now - olderThanMs
    val it = fs.listFiles(dataDir, true)
    var deleted = 0
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      // only visible parquet data files: committer sidecars (.crc files,
      // `_SUCCESS` markers of older writes) ride along with their data
      // file's lifecycle
      if (f.isFile && name.endsWith(".parquet") &&
          !name.startsWith(".") && !name.startsWith("_")) {
        val rel = f.getPath.toUri.getPath.stripPrefix(rootStr).stripPrefix("/")
        val reserved = MappingIndex.instantOf(rel).exists(protectedInstants)
        if (!reserved && !referenced.contains(rel) && f.getModificationTime < cutoff &&
            fs.delete(f.getPath, false)) deleted += 1
      }
    }
    deleted
  }

  /** KEEP_LATEST_COMMITS cleaner policy (Hudi's default): keep every file
    * any of the latest `retain` commits' snapshots still needs; files
    * replaced at or before the oldest retained commit are physically
    * deleted (savepointed snapshots stay protected via [[clean]]).
    * Returns the number of files deleted. */
  def cleanRetainCommits(retain: Int): Int = {
    require(retain >= 1, "must retain at least the latest commit")
    val all = timeline.committedInstants()
    if (all.size <= retain) 0
    else clean(all(all.size - retain))
  }

  /** Timeline history as a DataFrame: one row per commit with op and
    * add/remove/row counts — the inspection surface the reference gets from
    * Hudi's CLI/metrics (DeltaStreamerExample.scala:57-58 hoodie.metrics). */
  def history(): DataFrame = {
    import spark.implicits._
    timeline.committedInstants()
      .map { i =>
        val c = timeline.readCommit(i)
        (c.instant, c.op, c.adds.size.toLong, c.removes.size.toLong,
          c.adds.map(_.rows).sum)
      }
      .toDF("instant", "op", "n_adds", "n_removes", "rows_written")
  }

  /** Live-storage stats per partition: file and row counts. */
  def storageStats(): DataFrame = {
    import spark.implicits._
    timeline.liveFiles(None)
      .groupBy(_.partition)
      .map { case (part, fs0) => (part, fs0.size.toLong, fs0.map(_.rows).sum) }
      .toSeq.sortBy(_._1)
      .toDF("partition", "n_files", "n_rows")
  }

  /** Drop any existing table state (test helper). */
  def dropIfExists(): Unit = {
    if (fs.exists(root)) fs.delete(root, true)
  }
}

object GraftTable {
  /** True when a FileNotFoundException appears anywhere in the cause
    * chain — how a Spark job surfaces a file deleted between listing and
    * scan (a lookup racing a fold's delete-last step). */
  private[tables] def causedByFnf(e: Throwable): Boolean = {
    var c: Throwable = e
    var depth = 0
    while (c != null && depth < 12) {
      if (c.isInstanceOf[java.io.FileNotFoundException]) return true
      c = c.getCause
      depth += 1
    }
    false
  }

  /** The exception shapes of a read torn by concurrent index/file-layout
    * mutation (a dir deleted between listing and scan, a path gone at
    * resolution, schema inference over an emptied dir) — the retryable
    * class every index-read retry loop shares. AnalysisException is NOT
    * blanket-retryable: only its path-shaped conditions (path vanished at
    * resolution, schema inference over a dir a fold just emptied) are torn
    * reads; anything else (corrupt index schema, a bad expression-index
    * exprSql after a column change) is a genuine analysis error that must
    * propagate, not silently degrade every lookup to the fallback path. */
  private[tables] def isTornRead(e: Throwable): Boolean = e match {
    case _: java.io.FileNotFoundException => true
    case ae: org.apache.spark.sql.AnalysisException =>
      val cond = Option(ae.getCondition).getOrElse("")
      cond == "PATH_NOT_FOUND" || cond == "UNABLE_TO_INFER_SCHEMA" ||
        causedByFnf(ae)
    case se: org.apache.spark.SparkException => causedByFnf(se)
    case _ => false
  }

  /** Dedicated bounded pool for the parallel footer harvest. The default
    * parallel-collections task support rides the JVM-global pool, which
    * under load competes with the local[N] executor threads (and anything
    * else in the process) for the same cores — the one code-environment
    * interaction that could make the FS-heavy table family swell under a
    * loaded machine while every other family stays flat. 16 threads keep
    * the IO-bound footer reads (~16 ms each) fully overlapped without
    * ever stealing more than half the box; on a real cluster the harvest
    * runs as an executor map instead. */
  private[tables] lazy val footerHarvestPool =
    new scala.collection.parallel.ForkJoinTaskSupport(
      new java.util.concurrent.ForkJoinPool(
        math.min(16, Runtime.getRuntime.availableProcessors()),
        java.util.concurrent.ForkJoinPool.defaultForkJoinWorkerThreadFactory,
        null, true))

  def apply(spark: SparkSession, cfg: GraftTableConfig): GraftTable =
    new GraftTable(spark, cfg)

  /** Floor for [[GraftTable.rewriteFileCount]]'s per-file row target. Low
    * enough that any healthy table's average dominates it (a 128 MB file
    * of 100 B rows holds ~1.3M rows); high enough that a fragmented
    * table's rewrites consolidate instead of splinter. */
  private[tables] val RewriteMinRowsPerFile = 1000L

  /** Live-byte ceiling for pinning the z-order rewrite's input. */
  private val ZOrderPinMaxKey = "spark.graft.zorder.pinMaxBytes"

  /** Table-relative form of an `input_file_name()`-style absolute name.
    * input_file_name() returns a URI-encoded string (spaces as %20 etc.);
    * decode so stored paths match the literal file names on disk. Static so
    * executor-side closures (record-index writes) use the identical logic
    * as the driver. */
  /** [[relativize]] as a Column over built-in codegen'd expressions only —
    * the index write jobs use this so no ScalaUDF blocks whole-stage
    * codegen. Same semantics for everything `input_file_name()` can emit:
    * strip `scheme://authority` or a bare `scheme:`, percent-decode the
    * path (pre-escaping `+`, which is a LITERAL plus in a URI path but a
    * space to url_decode), then strip the table root else mark `ext:`. */
  private[graft] def relativizeCol(f: Column, rootS: String): Column = {
    import org.apache.spark.sql.functions._
    val noAuth = regexp_replace(f, "^[a-zA-Z][a-zA-Z0-9+.\\-]*://[^/]*", "")
    val noScheme = regexp_replace(noAuth, "^[a-zA-Z][a-zA-Z0-9+.\\-]*:", "")
    // decode only when every '%' is a valid escape — url_decode THROWS on
    // a bare '%' (e.g. a producer that never percent-encodes emitting
    // 'part-100%.parquet'), where the row-wise relativize() degrades to
    // the raw path via its URISyntaxException fallback; this is that
    // fallback in expression form (CaseWhen only evaluates the taken
    // branch, so the malformed row never reaches url_decode)
    val dec = when(noScheme.rlike("%(?![0-9A-Fa-f]{2})"), noScheme)
      .otherwise(url_decode(regexp_replace(noScheme, "\\+", "%2B")))
    when(dec.startsWith(rootS + "/"),
      dec.substr(lit(rootS.length + 2), length(dec)))
      .otherwise(concat(lit("ext:"), dec))
  }

  private[graft] def relativize(absFileName: String, rootStr: String): String = {
    val p =
      try new java.net.URI(absFileName).getPath
      catch { case _: java.net.URISyntaxException => absFileName }
    val decoded = if (p == null || p.isEmpty) absFileName else p
    if (decoded.startsWith(rootStr + "/")) decoded.stripPrefix(rootStr).stripPrefix("/")
    else "ext:" + decoded // bootstrapped external file
  }

  /** Run a graft-internal write under FileOutputCommitter ALGORITHM 2:
    * task commit renames each output file straight into the destination
    * dir and job commit does no per-file work — versus v1's task-dir rename
    * PLUS a serialized driver-side per-file merge (getFileStatus + rename
    * per file) at job commit. On an object store (rename = COPY+DELETE)
    * v1 is the single largest slice of the commit bill — S3CostModel
    * measured the data-write phase at 2 renames + ~12 statuses per file.
    * v1's reason to exist — readers must never see a partially-committed
    * output dir — is moot here: every graft output dir is INVISIBLE until
    * the timeline's atomic commit-file rename publishes it, and a failed
    * write's dir is deleted wholesale by withReservedInstant. For the
    * same reason job commit writes no `_SUCCESS` marker: the timeline,
    * not a marker file, says what is committed, and the marker cost one
    * create per write. Scoped per-write (Spark folds writer options into
    * the job's Hadoop conf); the session default and user writes are
    * untouched. */
  private[tables] def committerV2[T](w: org.apache.spark.sql.DataFrameWriter[T])
      : org.apache.spark.sql.DataFrameWriter[T] =
    w.option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")

  /** Default ceiling for DRIVER-side commit-time footer harvesting; above
    * it the harvest runs as a Spark job (see the call sites). Overridable
    * via `spark.graft.footerHarvest.driverMaxFiles` — tests use a tiny
    * value to exercise the executor path at sandbox scale. */
  private[tables] val FooterHarvestDriverMaxDefault = 1024

  private val FooterHarvestDriverMaxKey = "spark.graft.footerHarvest.driverMaxFiles"

  private[tables] def footerHarvestDriverMax(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption(FooterHarvestDriverMaxKey).fold(FooterHarvestDriverMaxDefault)(
      TableProperties.parseCount(FooterHarvestDriverMaxKey, _, Int.MaxValue).toInt)

  /** The commit-time footer→[[FileMeta]] harvest, two-tiered by file
    * count. At or under `driverMax` files it runs on the bounded driver
    * pool (the reads are independent and IO-bound; for the small commits
    * that dominate steady-state ingest a Spark job's scheduling latency
    * would dwarf the work). ABOVE the threshold it runs as a Spark job —
    * at a 100 TB bulk load adding 1e5-1e6 files, a driver loop (even a
    * pooled one) is the commit's bottleneck and its last O(#files)
    * driver-side work; the stats are per-file, so the job is a plain map
    * + collect of #files small rows, and the driver's own wall share
    * stays flat in #files. Empty part files (no row groups) are deleted,
    * not recorded. `private[graft]` so the scale-stress tools can time
    * both tiers on identical inputs. */
  private[graft] def harvestFileMetas(spark: org.apache.spark.sql.SparkSession,
      files: Seq[(Path, Long)], keyField: String, statsCols: Set[String],
      rootStr: String, numBuckets: Int, driverMax: Int): Seq[FileMeta] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    if (files.size <= driverMax) {
      import scala.collection.parallel.CollectionConverters._
      val parFiles = files.par
      // dedicated bounded pool — never the JVM-global one the executors
      // and other libraries share (see GraftTable.footerHarvestPool)
      parFiles.tasksupport = footerHarvestPool
      parFiles.flatMap { case (p, len) =>
        footerKeyStatsAt(p, len, hconf, keyField, statsCols) match {
          case None => // empty part file (no row groups): drop it, not a data file
            p.getFileSystem(hconf).delete(p, false)
            None
          case Some((mn, mx, rows, cs)) =>
            Some(fileMetaOf(p, len, rootStr, numBuckets, mn, mx, rows, cs))
        }
      }.seq.toSeq
    } else {
      val sconf = new SerializableHadoopConf(hconf)
      val slices = math.min(files.size,
        math.max(spark.sparkContext.defaultParallelism * 4, 32))
      spark.sparkContext.parallelize(
          files.map { case (p, len) => (p.toString, len) }, slices)
        .mapPartitions { ps =>
          val conf = sconf.value
          ps.flatMap { case (s, len) =>
            val p = new Path(s)
            footerKeyStatsAt(p, len, conf, keyField, statsCols) match {
              case None => // empty part file: drop it, not a data file
                p.getFileSystem(conf).delete(p, false)
                None
              case Some((mn, mx, rows, cs)) =>
                Some(fileMetaOf(p, len, rootStr, numBuckets, mn, mx, rows, cs))
            }
          }
        }.collect().toSeq
    }
  }

  /** (minKey, maxKey, rowCount, colStats) of one data file from its parquet
    * footer — None for an empty file (no row groups); keys normalized to the
    * padded-string form used for pruning. `colStats` covers `statsCols`
    * (data skipping): numeric columns as double bounds, strings lexically;
    * unsupported types or all-null chunks record no stat (file is kept by
    * every skip check). */
  /** [[footerKeyStatsOf]] with a KNOWN file length: opens the footer via a
    * fabricated FileStatus, skipping the per-file HEAD round-trip
    * `HadoopInputFile.fromPath` pays just to learn the length the caller's
    * enclosing listing (or commit metadata) already holds. On a 1e5-file
    * bulk-load commit that is 1e5 object-store requests removed from the
    * harvest. Committed files are immutable, so the length is exact. */
  private[tables] def footerKeyStatsAt(p: Path, len: Long,
      conf: org.apache.hadoop.conf.Configuration, keyField: String,
      statsCols: Set[String]): Option[(String, String, Long, Map[String, ColStat])] = {
    if (len > 0L) {
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val st = new org.apache.hadoop.fs.FileStatus(len, false, 1, 0L, 0L, p)
      footerKeyStatsIn(HadoopInputFile.fromStatus(st, conf), p, keyField, statsCols)
    } else footerKeyStatsOf(p, conf, keyField, statsCols)
  }

  private[tables] def footerKeyStatsOf(p: Path,
      conf: org.apache.hadoop.conf.Configuration, keyField: String,
      statsCols: Set[String]): Option[(String, String, Long, Map[String, ColStat])] = {
    import org.apache.parquet.hadoop.util.HadoopInputFile
    footerKeyStatsIn(HadoopInputFile.fromPath(p, conf), p, keyField, statsCols)
  }

  private def footerKeyStatsIn(in: org.apache.parquet.hadoop.util.HadoopInputFile,
      p: Path, keyField: String,
      statsCols: Set[String]): Option[(String, String, Long, Map[String, ColStat])] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    val reader = ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks
      var rows = 0L
      var mn: String = null
      var mx: String = null
      val wantStats = statsCols
      // per stats col: (kind, min, max) merged across row groups; `poisoned`
      // marks a column whose parquet type can't be harvested soundly or that
      // has a statless chunk — no stat is recorded, so the file is kept by
      // every skip check
      val colAgg = scala.collection.mutable.LinkedHashMap.empty[String, (String, Any, Any)]
      val poisoned = scala.collection.mutable.HashSet.empty[String]
      blocks.forEach { b =>
        rows += b.getRowCount
        b.getColumns.forEach { c =>
          val name = c.getPath.toDotString
          if (name == keyField) {
            val st = c.getStatistics
            require(st != null && st.hasNonNullValue,
              s"no key statistics in footer of $p — unsupported key type?")
            val (lo, hi) = (st.genericGetMin, st.genericGetMax) match {
              case (l: java.lang.Number, h: java.lang.Number)
                  if !l.isInstanceOf[java.lang.Double] && !l.isInstanceOf[java.lang.Float] =>
                // zero-padded string order == numeric order only for
                // non-negative keys; reject violations at write time rather
                // than silently mis-pruning later
                require(l.longValue() >= 0,
                  s"graft requires non-negative integral record keys; got ${l.longValue()} in $p")
                (f"${l.longValue()}%020d", f"${h.longValue()}%020d")
              case (l: org.apache.parquet.io.api.Binary, h: org.apache.parquet.io.api.Binary) =>
                (l.toStringUsingUTF8, h.toStringUsingUTF8)
              case (l, h) => (l.toString, h.toString)
            }
            if (mn == null || lo < mn) mn = lo
            if (mx == null || hi > mx) mx = hi
          }
          if (wantStats(name) && !poisoned(name)) {
            val st = c.getStatistics
            // Gate on the column's parquet primitive+logical type: footer
            // min/max only equal the user-facing value for plain signed
            // ints/floats, UTF8 strings, DATE and TIMESTAMP. A DECIMAL
            // backed by INT32/INT64 stores the UNSCALED value (12.34 →
            // 1234); binary decimals/INT96 compare as raw bytes — harvesting
            // those would silently prune files that DO contain matches.
            val kindOpt = statKindOf(c.getPrimitiveType)
            val bounds: Option[(String, Any, Any)] =
              if (st == null || !st.hasNonNullValue || kindOpt.isEmpty) None
              else {
                val kind = kindOpt.get
                (st.genericGetMin, st.genericGetMax) match {
                  case (l: java.lang.Number, h: java.lang.Number) if kind != ColStat.Lex =>
                    val scale = tsScaleOf(c.getPrimitiveType) // 1.0 except TIMESTAMP
                    Some((kind, l.doubleValue() * scale, h.doubleValue() * scale))
                  case (l: org.apache.parquet.io.api.Binary,
                        h: org.apache.parquet.io.api.Binary) if kind == ColStat.Lex =>
                    Some((kind, l.toStringUsingUTF8, h.toStringUsingUTF8))
                  case _ => None
                }
              }
            bounds match {
              case None => poisoned += name; colAgg.remove(name)
              case Some((kind, lo, hi)) => colAgg.get(name) match {
                case None => colAgg(name) = (kind, lo, hi)
                case Some((k0, l0, h0)) if k0 == kind =>
                  val isNum = kind != ColStat.Lex
                  val lo2 = if (isNum) math.min(l0.asInstanceOf[Double], lo.asInstanceOf[Double])
                    else Seq(l0.toString, lo.toString).min
                  val hi2 = if (isNum) math.max(h0.asInstanceOf[Double], hi.asInstanceOf[Double])
                    else Seq(h0.toString, hi.toString).max
                  colAgg(name) = (k0, lo2, hi2)
                case Some(_) => // kind drifted across row groups: unanswerable
                  poisoned += name; colAgg.remove(name)
              }
            }
          }
        }
      }
      if (rows == 0) None
      else {
        require(mn != null, s"key column $keyField not found in footer of $p")
        val cs = colAgg.map { case (c, (kind, lo, hi)) =>
          c -> ColStat(kind, lo.toString, hi.toString)
        }.toMap
        Some((mn, mx, rows, cs))
      }
    } finally reader.close()
  }

  /** The ColStat kind a parquet column can be harvested as, or None when no
    * sound interpretation of its footer min/max exists (DECIMAL, unsigned
    * ints, INT96, FIXED, enums, …) — those columns are poisoned per-file. */
  private def statKindOf(pt: org.apache.parquet.schema.PrimitiveType): Option[String] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val logical = pt.getLogicalTypeAnnotation
    pt.getPrimitiveTypeName match {
      case FLOAT | DOUBLE => Some(ColStat.Num)
      case INT32 | INT64 => logical match {
        case null => Some(ColStat.Num)
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation if i.isSigned =>
          Some(ColStat.Num) // INT(8/16/32/64, signed): value == intValue
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => Some(ColStat.Date)
        case _: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => Some(ColStat.Ts)
        case _ => None // DECIMAL (unscaled!), unsigned, TIME, …
      }
      case BINARY => logical match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => Some(ColStat.Lex)
        case _ => None // binary decimals, raw bytes: lexical order is wrong
      }
      case _ => None // INT96, FIXED_LEN_BYTE_ARRAY, BOOLEAN
    }
  }

  /** Multiplier normalizing a TIMESTAMP column's footer values to epoch
    * micros (MILLIS → ×1000, NANOS → ÷1000); 1.0 for everything else. */
  private def tsScaleOf(pt: org.apache.parquet.schema.PrimitiveType): Double = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    pt.getLogicalTypeAnnotation match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => t.getUnit match {
        case TimeUnit.MILLIS => 1000.0
        case TimeUnit.MICROS => 1.0
        case TimeUnit.NANOS => 0.001
      }
      case _ => 1.0
    }
  }

  /** Build one [[FileMeta]] from a harvested footer — pure and static, so
    * the driver-pool and executor-job harvest paths share it exactly. */
  private[tables] def fileMetaOf(p: Path, len: Long, rootStr: String,
      numBuckets: Int, mn: String, mx: String, rows: Long,
      cs: Map[String, ColStat]): FileMeta = {
    // Path.toUri handles spaces etc. without a lossy string round-trip
    val rel = p.toUri.getPath.stripPrefix(rootStr).stripPrefix("/")
    val segs = rel.split("/").filter(_.contains("="))
    val partition = segs.filterNot(_.startsWith(GraftMeta.Bucket + "="))
      .map(_.stripPrefix("_gp_")).mkString("/")
    val bucket = segs.find(_.startsWith(GraftMeta.Bucket + "="))
      .map(_.split("=")(1).toInt).getOrElse(0)
    FileMeta(rel, partition, bucket, mn, mx, rows, cs,
      bucketMod = numBuckets, len = len)
  }

}

/** Java-serializable Hadoop `Configuration` carrier for executor-side
  * filesystem/footer work (the Configuration class itself is Writable but
  * not Serializable). Same shape as Spark's private[spark]
  * SerializableConfiguration, reimplemented here because that class is not
  * public API. */
private[tables] final class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration)
  extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}
