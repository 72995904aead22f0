package graft.tables

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** What really differs between the two mapping indexes — the record index
  * (padded key → data file, `_graft/rli`) and the secondary index (value →
  * data file, `_graft/si/<col>`). Everything else — layout, reads, folds,
  * coverage, crash and concurrency protocol — is [[MappingIndex]]'s one
  * code path.
  *
  * @param entryCol       the mapped column of every entry (`k` / `v`)
  * @param bucketCol      the hive-style bucket dir column (`b` / `vb`)
  * @param commitBuckets  > 0: per-commit dirs are bucketed by this count
  *                       (and manifest-less dirs are read under it);
  *                       0: per-commit dirs are flat DISTINCT pairs
  * @param mergedBuckets  a fold's bucket count from (requested count, the
  *                       counts its adoptable merged bases record, the
  *                       committed bytes of its sources)
  * @param liveEntries    how many entries of the adopted bases can still
  *                       point at live files — the dead-weight measure
  * @param provesCoverage a full fold proves coverage from per-file entry
  *                       counts vs footer rows (keys are unique per data
  *                       file); otherwise coverage is the union of the
  *                       consumed dirs' claims */
private[tables] final case class IndexKind(
    entryCol: String,
    bucketCol: String,
    commitBuckets: Int,
    mergedBuckets: (Int, Seq[Int], () => Long) => Int,
    liveEntries: (Seq[Path], Seq[FileMeta]) => Long,
    provesCoverage: Boolean)

/** The mapping indexes of one table — Hudi's metadata-table record and
  * secondary indexes re-expressed. Each index ROOT holds one dir per
  * commit (`<instant>/`, written before the commit lands and deleted by
  * its rollback/abort) plus at most one folded `merged-<instant>/` dir,
  * bucketed by `<bucketCol>=<id>` and described by two manifests:
  * `_buckets` (the count its layout was hashed with) and `_covered` (the
  * original commit instants it stands for). Mappings to since-replaced
  * files are filtered by LIVENESS at read time, so rewrites need no index
  * maintenance.
  *
  * COVERAGE is what keeps every read exact: a live data file whose commit
  * instant no listed dir covers is always kept as a candidate, because a
  * fold liveness-purges mappings to files dead at fold time and a later
  * rollback/restore can resurrect exactly those files. */
private[tables] final class MappingIndex(spark: SparkSession, fs: FileSystem,
    timeline: Timeline, tableRoot: Path, recordBuckets: Int) {
  import MappingIndex._

  private def rootStr: String = fs.makeQualified(tableRoot).toUri.getPath

  val recordRoot: Path = new Path(tableRoot, "_graft/rli")
  private val secondaryParent = new Path(tableRoot, "_graft/si")
  def secondaryRoot(column: String): Path = new Path(secondaryParent, column)

  /** Record index: keys are unique per data file, so every live row has at
    * most one live mapping and footer rows bound the live entries. */
  val record: IndexKind = IndexKind("k", "b", recordBuckets,
    mergedBuckets = (_, _, _) => recordBuckets,
    liveEntries = (_, live) => live.map(_.rows).sum,
    provesCoverage = true)

  /** Secondary index: entries are distinct (value, file) pairs, so live
    * rows cannot bound them — one column-pruned semi-join count of the
    * bases against the live file set measures dead weight exactly. Merged
    * dirs reuse a single adoptable base's count (its files keep their
    * bucket ids), else size from the sources' bytes at ~8 MB per bucket,
    * capped at 256. */
  val secondary: IndexKind = IndexKind("v", "vb", 0,
    mergedBuckets = (requested, bases, bytes) =>
      if (requested > 0) requested
      else bases.distinct match {
        case Seq(b) if b >= 1 => b
        case _ => math.min(256L, math.max(1L, (bytes() + (8L << 20) - 1) / (8L << 20))).toInt
      },
    liveEntries = (bases, live) => scan(secondary, bases).select("f")
      .join(broadcast(liveFrame(live.map(_.path))), Seq("f"), "leftsemi").count(),
    provesCoverage = false)

  /** Every index root on disk: the record index and each secondary-index
    * column — listed, not taken from the config, so a handle with a stale
    * config still cleans fully. */
  private def roots(): Seq[Path] = recordRoot +: (
    if (fs.exists(secondaryParent))
      fs.listStatus(secondaryParent).filter(_.isDirectory).map(_.getPath).toSeq
    else Nil)

  /** Fold trigger for an index root: more than `maxDirs` dirs, or a
    * leftover fold marker. A crashed fold's marker degrades every lookup
    * to the unpruned fallback until a fold clears it, and on a read-mostly
    * table the dir count may never cross `maxDirs` again. */
  def needsFold(root: Path, maxDirs: Int): Boolean = fs.exists(root) && {
    val ls = fs.listStatus(root)
    ls.count(_.isDirectory) > maxDirs || hasMarker(ls)
  }

  // ------------------------------------------------------------- writes

  /** Write one commit's entries into `<root>/<instant>/`. `entries` holds
    * the entry column and `_gif`, the absolute name of the data file. The
    * stored paths are TABLE-RELATIVE (built-in expressions only, so no
    * ScalaUDF blocks codegen in the index job), comparable to timeline
    * FileMeta paths as they are. */
  def writeCommit(kind: IndexKind, root: Path, instant: String, entries: DataFrame): Unit = {
    val dir = new Path(root, instant)
    def relative(df: DataFrame) =
      df.select(col(kind.entryCol), GraftTable.relativizeCol(col("_gif"), rootStr).as("f"))
    if (kind.commitBuckets > 0) {
      writeBucketed(kind, relative(entries), kind.commitBuckets, dir)
      // self-describing: a reading handle whose configured count drifted
      // from the writer's would otherwise probe the WRONG bucket
      writeManifest(dir, BucketsManifest, kind.commitBuckets.toString)
    } else
      // distinct FIRST on the raw absolute name so the codegen'd scan feeds
      // the shuffle directly; relativization then runs on the distinct set.
      // No repartition(1): AQE coalesces a small commit's shuffle, while a
      // large commit's index write stays parallel.
      GraftTable.committerV2(relative(entries.distinct()).write.mode("overwrite"))
        .parquet(dir.toString)
  }

  /** Shuffle BY BUCKET with an explicit width and write hive-style bucket
    * dirs: a bulk write parallelizes across buckets, and the explicit N
    * stops AQE collapsing a small write to one task that serializes every
    * bucket's writer (measured: the single-task write was the dominant
    * index_write cost at bench scale) — <= 1 file per bucket per write. */
  private def writeBucketed(kind: IndexKind, entries: DataFrame, buckets: Int, dir: Path): Unit =
    GraftTable.committerV2(entries
        .withColumn(kind.bucketCol, pmod(xxhash64(col(kind.entryCol)), lit(buckets)))
        .repartition(buckets, col(kind.bucketCol))
        .write.mode("overwrite"))
      .partitionBy(kind.bucketCol).parquet(dir.toString)

  // -------------------------------------------------------------- reads

  /** Live files that may hold any of `values` (already in the index's
    * string form), or None when the index cannot serve exactly — no index
    * data, timeline churn, fold-guard exhaustion. The caller then prunes
    * or scans by other means, which is always correct. Live files of
    * UNCOVERED instants stay candidates. */
  def liveFilesFor(kind: IndexKind, root: Path, values: Seq[String]): Option[Seq[FileMeta]] =
    read(kind, root, m => values.map(valueBucket(_, m)).toSet,
      _.filter(col(kind.entryCol).isin(values: _*))) { (hits, covered) =>
      timeline.liveFiles(None).filter(f => hits(f.path) || !covered(f))
    }

  /** Write-path TAGGING (Hudi's record-index tagging): which of the
    * candidate files hold any key of `keys` (one column, the index's entry
    * form). Returns (covered candidates that hold a key, candidates of
    * UNCOVERED instants — the caller must probe those by opening them), or
    * None when the index cannot serve exactly. The keys JOIN the index, so
    * the bill is O(index buckets the keys hash to), not O(candidates). A
    * mapping k → f with f live implies k ∈ f (data files are immutable;
    * replacement kills whole files), so the hits equal an open-and-probe's
    * exactly. No .distinct() on the keys: both consumers (the bucket set
    * per modulus, the semi-join) are duplicate-insensitive. */
  def tag(kind: IndexKind, root: Path, keys: DataFrame, cand: Seq[FileMeta])
      : Option[(Seq[FileMeta], Seq[FileMeta])] = {
    val cached = keys.cache()
    try {
      val byMod = scala.collection.mutable.Map.empty[Int, Set[Long]]
      read(kind, root, m => byMod.getOrElseUpdate(m,
          cached.select(pmod(xxhash64(col(kind.entryCol)), lit(m.toLong)))
            .distinct().collect().map(_.getLong(0)).toSet),
        _.join(cached, Seq(kind.entryCol), "leftsemi")) { (hits, covered) =>
        val (cov, uncov) = cand.partition(covered)
        (cov.filter(f => hits(f.path)), uncov)
      }
    } finally cached.unpersist()
  }

  /** The one guarded read of an index: the entries matching the probe, as
    * (hit file paths, covered instants), handed to `use` inside a QUIET
    * timeline window. Hits ∩ live must pair an index state with the live
    * set it describes, and ordering alone cannot give that under
    * concurrent writers (both failure modes measured by
    * ConcurrencyStress): live pinned BEFORE the read lets a racing fold
    * purge mappings to files that died after the pin; live pinned AFTER
    * lets a commit land whose index dir the read saw half-written (dirs
    * land before their commit). So a read is accepted only when
    * latestInstant is unchanged across it and `use`; otherwise it retries,
    * and after 4 churned attempts returns None. Each attempt runs under
    * [[guarded]], which rejects reads that raced a fold.
    *
    * Each dir is read under its OWN recorded bucket count (`_buckets`;
    * manifest-less dirs under the kind's per-commit count, flat when 0),
    * so mixed counts mid-migration are read right. Only the bucket dirs
    * the probe hashes to are read, each listed once by the scan itself,
    * which reads a bucket the dir never wrote as empty: the read pays no
    * existence probe per bucket and no listing of the instant dir. The
    * schema is explicit, so no inference job and no footer round-trips. */
  private def read[T](kind: IndexKind, root: Path, bucketsFor: Int => Set[Long],
      matching: DataFrame => DataFrame)(use: (Set[String], FileMeta => Boolean) => T)
      : Option[T] = {
    if (!fs.exists(root)) return None
    var attempts = 0
    while (attempts < 4) {
      attempts += 1
      val i0 = timeline.latestInstant()
      guarded(root) { dirs =>
        if (dirs.isEmpty) None
        else {
          val leaves = dirs.flatMap { d =>
            val m = bucketCount(d).getOrElse(kind.commitBuckets)
            if (m <= 0) Seq(d) // flat: read whole
            else bucketsFor(m).toSeq.map(x => new Path(d, s"${kind.bucketCol}=$x"))
          }
          val hits =
            if (leaves.isEmpty) Set.empty[String]
            else matching(scan(kind, leaves)).select("f").distinct()
              .collect().map(_.getString(0)).toSet
          Some((hits, dirs.flatMap(covers).toSet))
        }
      } match {
        case None => return None
        case Some((hits, covered)) =>
          val out = use(hits, f => instantOf(f.path).exists(covered))
          if (timeline.latestInstant() == i0) return Some(out)
        // else a commit landed mid-read: retry at the new quiet point
      }
    }
    None
  }

  /** Entries under `paths` with the index's fixed (entry, f) schema. Every
    * path is listed once (recursively); a path that does not exist reads
    * as empty, and hidden files (`_temporary`, manifests) are skipped. */
  private def scan(kind: IndexKind, paths: Seq[Path]): DataFrame = {
    val schema = StructType(Seq(StructField(kind.entryCol, StringType), StructField("f", StringType)))
    val files = new InMemoryFileIndex(spark, paths, Map("recursiveFileLookup" -> "true"), Some(schema))
    spark.baseRelationToDataFrame(HadoopFsRelation(files, StructType(Nil), schema, None,
      new ParquetFileFormat(), Map.empty)(spark))
  }

  private def liveFrame(paths: Seq[String]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(paths.map(Row(_)), 1),
      StructType(Seq(StructField("f", StringType))))

  // ------------------------------------------------- the fold protocol

  /** Fold-in-progress marker inside an index root. Present for the fold's
    * entire mutation span — written before the first rename/write,
    * deleted only on SUCCESSFUL completion — so a concurrent read can tell
    * "a fold is moving mappings between the dirs I just listed" apart
    * from stable state. Without it the adopt phase is a silent-miss
    * window: adoption RENAMES files from the old merged base into the new
    * merged dir, both visible, so a reader can list the destination
    * before the move and the source after it and see the mapping in
    * NEITHER. A crash mid-fold leaves the marker behind ON PURPOSE: reads
    * can no longer prove they raced nothing, so they fall back to their
    * always-correct non-index paths until the next successful fold (a
    * fold trigger, see [[needsFold]]) clears it. */
  private def writeFoldMarker(root: Path): Unit = fs.create(new Path(root, FoldMarker), true).close()

  private def clearFoldMarker(root: Path): Unit = { fs.delete(new Path(root, FoldMarker), false); () }

  /** Serializes folds per index root WITHIN this JVM: the async service's
    * thread and a direct compact call would otherwise interleave two folds
    * — the first finisher clears the marker while the second is still
    * renaming. Reentrant (the dead-weight escalation recurses on the same
    * thread). Cross-PROCESS maintenance is a single-driver contract, like
    * Hudi's requirement of a lock provider for multi-writer services. */
  private def withFoldLock[T](root: Path)(body: => T): T =
    foldLocks.computeIfAbsent(root.toString, _ => new Object).synchronized(body)

  /** Runs one index read under fold-race detection. The body gets the
    * root's dirs from the guard's own listing. An attempt is ACCEPTED only
    * when no fold marker is listed on either side of the read AND the
    * root's dir set is unchanged across it — any fold overlapping the read
    * trips one of the checks (its marker spans all its mutations; a fold
    * that ran START-TO-END inside the read has already deleted its source
    * dirs). Rejected attempts — including a read torn by a source dir
    * deleted mid-flight — retry on a fresh listing after a short pause
    * (adopt phases are driver-side renames: ms). After `attempts` rejected
    * tries returns None: every caller falls back to its non-index path,
    * which is always correct, just unpruned. */
  def guarded[T](root: Path, attempts: Int = 4)(body: Seq[Path] => Option[T]): Option[T] = {
    var i = 0
    while (i < attempts) {
      i += 1
      val before = fs.listStatus(root)
      if (!hasMarker(before)) {
        val dirs = before.filter(_.isDirectory).map(_.getPath).toSeq
        val out: Option[Option[T]] =
          try Some(body(dirs))
          catch { case e if GraftTable.isTornRead(e) => None }
        val after = fs.listStatus(root)
        out match {
          case Some(v) if !hasMarker(after) &&
              after.filter(_.isDirectory).map(_.getPath.getName).toSet ==
                dirs.map(_.getName).toSet => return v
          case _ => () // raced a fold (or its crash): retry on a fresh listing
        }
      }
      if (i < attempts)
        try Thread.sleep(50L * i) catch {
          case _: InterruptedException =>
            // re-assert the flag so a shutdown aimed at this thread isn't
            // swallowed by the retry pause
            Thread.currentThread().interrupt()
            return None
        }
    }
    None
  }

  /** Fold the per-commit dirs under `root` into ONE merged dir, dropping
    * folded mappings whose data file is no longer live — the index
    * analogue of a timeline checkpoint (a read otherwise opens O(#commits)
    * dirs).
    *
    * INCREMENTAL by default (the Hudi metadata-compaction shape): only
    * dirs since the last fold are read, liveness-filtered and shuffled; a
    * merged base recorded under the fold's bucket count is ADOPTED by
    * renaming its bucket files — O(#buckets) metadata ops, zero data
    * movement. Adopted files keep mappings to since-replaced files (reads
    * filter those by liveness); when the kind's dead-weight measure proves
    * the bases majority-dead (base rows > 2x live entries) the fold
    * escalates to `full`, which re-reads and purges, so the merged dir
    * stays within 2x its live entries under any churn.
    *
    * Crash-safe without a cross-process lock, lossless at every step: the
    * fold is written FIRST (a crash leaves one extra dir; duplicate
    * mappings are harmless); base files then MOVE (a partial move leaves
    * each file in exactly one of two visible dirs); sources are deleted
    * LAST. A re-run targeting the same merged name renames the leftover
    * aside and consumes it as a source.
    *
    * @return source dirs consumed (folded + adopted), 0 when there is
    *         nothing to do */
  def compact(kind: IndexKind, root: Path, full: Boolean, buckets: Int): Int =
    if (!fs.exists(root)) 0
    else withFoldLock(root)(fold(kind, root, full, buckets, fromData = None))

  /** The fold with the LIVE DATA as its source (index backfill/repair):
    * consumes every index dir under `root` (in-flight writers' excluded)
    * and replaces them with one merged dir of `fromData(files)` — entries
    * read from the live table-managed data files, fully mapped by
    * construction, so the merged dir claims EVERY instant with live data
    * files. This is the coverage-heal path for a kind that cannot prove
    * coverage from a refold, and the backfill path for a column indexed
    * after data already existed. */
  def rebuild(kind: IndexKind, root: Path, buckets: Int,
      fromData: Seq[FileMeta] => DataFrame): Int = {
    // unrequested: ~2M live rows per bucket, capped at 256
    val b = if (buckets > 0) buckets else math.min(256L, 1L +
      timeline.liveFiles(None).filterNot(_.path.startsWith("ext:")).map(_.rows).sum / (2L << 20)).toInt
    fs.mkdirs(root)
    withFoldLock(root)(fold(kind, root, full = true, b, Some(fromData)))
  }

  private def fold(kind: IndexKind, root: Path, full: Boolean, buckets: Int,
      fromData: Option[Seq[FileMeta] => DataFrame]): Int = {
    val mergedName = s"merged-${timeline.latestInstant().getOrElse(Timeline.pad(0))}"
    val old = foldSources(root, mergedName, full, force = fromData.isDefined)
      .getOrElse(return 0)
    // Liveness snapshot taken BEFORE the merged dir exists: the coverage
    // recheck at the manifest write compares a fresh timeline read against
    // exactly this set (see writeCoveredRechecked).
    val liveAtFold = timeline.liveFiles(None)
    // a merged base is adopted only under the fold's own bucket count (ids
    // must agree file-for-file); others are re-folded, so the merged dir
    // always ends with ONE consistent layout
    val bases = if (full) Nil else old.filter(isMerged).map(d => d -> bucketCount(d).getOrElse(0))
    val target = kind.mergedBuckets(buckets, bases.map(_._2),
      () => visibleParquet(fs, old).map(_._2).sum)
    val adopt = bases.collect { case (d, b) if b == target => d }
    if (adopt.nonEmpty) {
      val baseRows = committedParquetRows(adopt)
      if (baseRows > 2L && baseRows > 2L * math.max(kind.liveEntries(adopt, liveAtFold), 1L))
        return fold(kind, root, full = true, buckets, None)
    }
    // the marker spans every mutation below; cleared only on success
    writeFoldMarker(root)
    val mergedDir = new Path(root, mergedName)
    // ext: (bootstrapped) files are never coverage-claimable: skip them
    val data = liveAtFold.filterNot(_.path.startsWith("ext:"))
    val foldSrc = old.filterNot(adopt.contains)
    val entries = fromData match {
      case Some(readData) => if (data.isEmpty) None else Some(readData(data))
      case None => if (foldSrc.isEmpty) None
        else Some(scan(kind, foldSrc).join(liveFrame(liveAtFold.map(_.path)), Seq("f"), "leftsemi"))
    }
    entries.foreach(writeBucketed(kind, _, target, mergedDir))
    // adopt the bases: move each bucket file under the new merged dir,
    // name-prefixed by its origin so fold part files can never collide
    // with it. An already-adopted file keeps its name (UUID-unique) —
    // re-prefixing would grow names by ~20 chars per fold, unbounded.
    adopt.foreach { base =>
      fs.listStatus(base).filter(d => d.isDirectory && d.getPath.getName.startsWith(s"${kind.bucketCol}="))
        .foreach { bucket =>
          val destBucket = new Path(mergedDir, bucket.getPath.getName)
          fs.mkdirs(destBucket)
          fs.listStatus(bucket.getPath)
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            .foreach { f =>
              val n = f.getPath.getName
              fs.rename(f.getPath, new Path(destBucket,
                if (n.startsWith("adopt-")) n else s"adopt-${base.getName}-$n"))
            }
        }
    }
    // bucket manifest BEFORE coverage: a read racing the fold sees either
    // no `_buckets` (reads the dir whole — conservative) or the final layout
    writeManifest(mergedDir, BucketsManifest, target.toString)
    // Coverage, read HERE — after the fold writes, while the sources (and
    // their manifests) are still on disk — so a rollback completing
    // anywhere before this point has already un-claimed what it
    // resurrected. A rebuild claims every instant it read; a full fold of
    // a proving kind proves coverage from the merged entries themselves
    // (healing legacy and rollback-un-claimed instants); every other fold
    // claims the union of its sources' coverage.
    val claimed = fromData match {
      case Some(_) => data.flatMap(f => instantOf(f.path))
      case None =>
        if (full && kind.provesCoverage) provenCoverage(kind, mergedDir)
        else old.flatMap(covers)
    }
    writeCoveredRechecked(mergedDir, claimed, liveAtFold.map(_.path).toSet)
    old.foreach(p => fs.delete(p, true))
    clearFoldMarker(root)
    old.length
  }

  /** The fold prologue: the consumable source dirs under the marker
    * protocol, or None for a no-op (stale crash markers cleared either
    * way). `force` (a rebuild) skips both no-op rules.
    *   1. A lone merged-<latest> with no other dirs is a previous fold's
    *      COMPLETED result, not a crash leftover — left in place unless
    *      `full`.
    *   2. A merged-<target> next to other dirs is a crash leftover; its
    *      recovery RENAME is already a mutation concurrent reads must not
    *      race unguarded — marker first. It is renamed aside (keeping the
    *      `merged-` prefix) and consumed like any other merged source,
    *      never overwritten: it can hold the ONLY copy of base mappings
    *      renamed out of the previous merged dir. Spark parks uncommitted
    *      task output under the hidden `_temporary`, which both the fold
    *      read and the adopt renames skip.
    *   3. NEVER consume a concurrent writer's IN-FLIGHT dir (index dirs
    *      land BEFORE their commit): the liveness filter would drop every
    *      not-yet-live mapping and delete-last would destroy them — the
    *      commit then lands permanently unindexed. A dir is protected
    *      while its instant holds an .inflight reservation. Listing the
    *      SOURCES first and the reservations after keeps the race closed:
    *      a dir visible in the source listing reserved its instant
    *      EARLIER, so at reservation-snapshot time it is either still
    *      in flight (protected) or resolved — committed (the fold's later
    *      liveness read sees it) or fenced (correctly dropped). */
  private def foldSources(root: Path, mergedName: String, full: Boolean,
      force: Boolean): Option[Seq[Path]] = {
    if (!force && !full && !fs.listStatus(root).exists(s =>
        s.isDirectory && s.getPath.getName != mergedName)) {
      clearFoldMarker(root)
      return None
    }
    val leftover = new Path(root, mergedName)
    if (fs.exists(leftover)) {
      writeFoldMarker(root)
      var k = 0
      while (fs.exists(new Path(root, s"$mergedName.recovered-$k"))) k += 1
      fs.rename(leftover, new Path(root, s"$mergedName.recovered-$k"))
    }
    val listed = fs.listStatus(root).filter(_.isDirectory).map(_.getPath).toSeq
    val inflight = timeline.inflightReservations().keySet
    val old = listed.filterNot(d => inflight.contains(d.getName))
    // re-running with no new commits is a no-op; stable state (any
    // recovery rename above has completed), so reads resume the index
    if (!force && old.length <= 1 && !(full && old.length == 1)) {
      clearFoldMarker(root)
      None
    } else Some(old)
  }

  /** Instants whose every live data file has one entry per footer row in
    * `mergedDir` — exact coverage of a FULLY refolded index whose entries
    * are unique per data file (distinct-entry count == row count proves
    * completeness; any shortfall under-claims, which is conservative).
    * One aggregate over the just-written merged dir. */
  private def provenCoverage(kind: IndexKind, mergedDir: Path): Seq[String] = {
    val mapped = scan(kind, Seq(mergedDir))
      .groupBy("f").agg(countDistinct(kind.entryCol).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    timeline.liveFiles(None)
      .flatMap(f => instantOf(f.path).map(_ -> f))
      .groupBy(_._1)
      .collect { case (i, fm) if fm.forall { case (_, f) =>
          mapped.getOrElse(f.path, 0L) >= f.rows } => i }
      .toSeq
  }

  /** Write a merged dir's coverage manifest, then re-check and REWRITE
    * until a write is followed by a check that removes nothing. A fold's
    * liveness filter dropped the mappings of every file dead at
    * `liveAtFold`; a rollback that resurrects such files while the fold
    * runs must not find its instants claimed. A rollback finishing before
    * a check is caught by the rewrite; one starting after it sees the
    * written manifest and un-claims it itself ([[unclaim]]). Each rewrite
    * strictly shrinks the claim, so the loop terminates. New concurrent
    * COMMITS also add never-before-live files, but their fresh instants
    * are never in a fold's claim. */
  private def writeCoveredRechecked(dir: Path, claimed: Seq[String],
      liveAtFold: Set[String]): Unit = {
    def resurrected: Set[String] = timeline.liveFiles(None).map(_.path)
      .filterNot(liveAtFold).flatMap(instantOf).toSet
    var covered = claimed.distinct.sorted.filterNot(resurrected)
    writeManifest(dir, CoveredManifest, covered.mkString("\n"))
    var stable = false
    while (!stable) {
      val again = covered.filterNot(resurrected)
      if (again == covered) stable = true
      else { covered = again; writeManifest(dir, CoveredManifest, covered.mkString("\n")) }
    }
  }

  /** Rollback: un-claim `instants` (whose files the rollback resurrected)
    * from every merged coverage manifest, so their files scan
    * conservatively until churn rewrites them under indexed instants.
    * Under the per-root fold lock: an in-JVM fold reads its sources'
    * manifests and writes its claim under that lock, so rewriting them
    * mid-fold would let it re-claim exactly these instants. Cross-process
    * folds are closed by [[writeCoveredRechecked]]. A torn manifest read
    * races conservative. */
  def unclaim(instants: Set[String]): Unit =
    roots().filter(fs.exists).foreach { root =>
      withFoldLock(root) {
        fs.listStatus(root).filter(s => s.isDirectory && isMerged(s.getPath)).map(_.getPath)
          .foreach { m =>
            val cov = covers(m)
            val kept = cov.filterNot(instants)
            if (kept.size != cov.size) writeManifest(m, CoveredManifest, kept.mkString("\n"))
          }
      }
    }

  /** Delete one instant's per-commit dir from every index (abort/rollback). */
  def dropInstant(instant: String): Unit = roots().foreach(r => fs.delete(new Path(r, instant), true))

  // -------------------------------------------------------- manifests

  /** The instants a dir stands for: a per-commit dir its own name, a
    * merged dir what its `_covered` manifest claims (manifest-less:
    * nothing — conservative, its commits' files scan). */
  private def covers(dir: Path): Seq[String] =
    if (!isMerged(dir)) Seq(dir.getName)
    else readManifest(dir, CoveredManifest).toSeq
      .flatMap(_.split("\n").map(_.trim).filter(_.nonEmpty))

  private def bucketCount(dir: Path): Option[Int] =
    readManifest(dir, BucketsManifest).flatMap(s => s.trim.toIntOption).filter(_ > 0)

  /** A manifest's text, None when absent. Every failure mode of a racing
    * reader is conservative: a missing/empty/torn manifest claims less
    * coverage or reads a dir whole. */
  private def readManifest(dir: Path, name: String): Option[String] =
    try {
      val in = fs.open(new Path(dir, name))
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  private def writeManifest(dir: Path, name: String, text: String): Unit = {
    val out = fs.create(new Path(dir, name), true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Row count of the committed parquet under the dirs from footers alone
    * — no data read. Small file sets (the common fold-time shape: one
    * merged base of O(#buckets) files) count on the bounded driver pool;
    * above the harvest threshold the count runs as a Spark job with
    * map-side partial sums, the commit-time stats harvest's two-tier rule.
    * Feeds the dead-weight escalation. */
  private def committedParquetRows(dirs: Seq[Path]): Long = {
    val files = visibleParquet(fs, dirs).toSeq
    if (files.isEmpty) 0L
    else if (files.size <= GraftTable.footerHarvestDriverMax(spark)) {
      import scala.collection.parallel.CollectionConverters._
      val pc = files.par
      pc.tasksupport = GraftTable.footerHarvestPool
      pc.map { case (p, len) => footerRows(p, len, spark.sparkContext.hadoopConfiguration) }.sum
    } else {
      val sconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
      spark.sparkContext.parallelize(files.map { case (p, len) => (p.toString, len) },
          math.min(files.size, math.max(spark.sparkContext.defaultParallelism * 4, 32)))
        .mapPartitions(ps => Iterator.single(
          ps.map { case (s, len) => footerRows(new Path(s), len, sconf.value) }.sum))
        .fold(0L)(_ + _)
    }
  }
}

private[tables] object MappingIndex {
  private val FoldMarker = "_folding"
  private val CoveredManifest = "_covered"
  private val BucketsManifest = "_buckets"

  /** One monitor per index-root path (see `withFoldLock`), keyed by the
    * root string so two handles on the same table share the lock. */
  private val foldLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def hasMarker(ls: Array[FileStatus]): Boolean = ls.exists(_.getPath.getName == FoldMarker)

  private def isMerged(dir: Path): Boolean = dir.getName.startsWith("merged-")

  /** The commit instant of a table-relative data path (`data/<instant>/…`);
    * None for external (`ext:`) or unrecognized paths, which are never
    * coverage-claimable. */
  def instantOf(path: String): Option[String] = path.split("/") match {
    case Array("data", i, _*) => Some(i)
    case _ => None
  }

  /** Bucket id of one entry under `b` buckets — the DRIVER-LOCAL twin of
    * the engine expression the writes use (`pmod(xxhash64(e), b)`: XxHash64
    * seed 42 over the UTF-8 string), so a lookup computes its target
    * buckets without a Spark job. */
  def valueBucket(v: String, b: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = new XxHash64(Seq(Literal.create(v, StringType))).eval(null).asInstanceOf[Long]
    ((h % b) + b) % b
  }

  /** Row count of one parquet file from its footer; the length comes
    * from the caller's listing, so no per-file HEAD. */
  private def footerRows(p: Path, len: Long, conf: org.apache.hadoop.conf.Configuration): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
        new FileStatus(len, false, 1, 0L, 0L, p), conf))
    try {
      var n = 0L
      r.getFooter.getBlocks.forEach(b => n += b.getRowCount)
      n
    } finally r.close()
  }

  /** Committed parquet files (path, length) under `dirs`, lazily, one dir
    * at a time: hidden path segments (`_temporary`, `_SUCCESS`, manifests)
    * are skipped, as Spark's own listing does. */
  def visibleParquet(fs: FileSystem, dirs: Seq[Path]): Iterator[(Path, Long)] =
    dirs.iterator.flatMap { d =>
      val base = fs.makeQualified(d).toUri.getPath
      val it = fs.listFiles(d, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).filter { st =>
        val rel = st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
        st.getPath.getName.endsWith(".parquet") &&
          !rel.split("/").exists(s => s.startsWith("_") || s.startsWith("."))
      }.map(st => (st.getPath, st.getLen))
    }
}
