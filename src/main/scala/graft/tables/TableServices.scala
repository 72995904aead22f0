package graft.tables

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path

/** Table maintenance services around GraftTable — the analogues of the
  * reference's async table services configuration. */
object TableServices {

  /** NUM_OR_TIME compaction trigger (DeltaStreamerExample.scala:49-56:
    * `compaction.trigger.strategy=NUM_OR_TIME`, `compaction.delta_commits=5`,
    * `compaction.delta_seconds=600`): compact when either the number of
    * commits since the last compaction or the elapsed wall-clock time
    * crosses its threshold. Returns the compaction instant if triggered. */
  def maybeCompact(
      table: GraftTable,
      targetRows: Long,
      deltaCommits: Int = 5,
      deltaSeconds: Long = 600): Option[String] = {
    val t = table.timeline
    val instants = t.instants()
    if (instants.isEmpty) return None
    val sinceCompact = instants.reverse.takeWhile { i =>
      val op = t.readCommit(i).op
      op != "compact" && op != "cluster"
    }
    if (sinceCompact.isEmpty) return None
    val numTrigger = sinceCompact.size >= deltaCommits
    val oldest = sinceCompact.last
    val fs = new Path(table.cfg.path).getFileSystem(
      table.spark.sparkContext.hadoopConfiguration)
    val oldestMs = fs.getFileStatus(
      new Path(s"${table.cfg.path}/_graft/$oldest.commit.json")).getModificationTime
    val timeTrigger = System.currentTimeMillis() - oldestMs >= deltaSeconds * 1000
    if (numTrigger || timeTrigger) Some(table.compact(targetRows)) else None
  }

  /** Online clustering trigger (flink/src/main/sql/consistent_hashing.sql:51-57:
    * `clustering.schedule.enabled=true`, `clustering.delta_commits=4`,
    * ConsistentBucketClusteringPlanStrategy — clustering scheduled and run
    * WHILE the streaming INSERT continues): cluster when `deltaCommits`
    * commits have landed since the last layout reorganization. Dispatches
    * on the table's layout, as the reference's plan strategies do:
    * bucket-indexed tables get the consistent-hashing split plan
    * ([[maybeSplitBuckets]] — a sort rewrite would destroy the bucket
    * invariant); everything else gets a sort-clustering rewrite. Returns
    * the clustering instant (for splits, the last split's instant). */
  def maybeCluster(
      table: GraftTable,
      sortCols: Seq[String],
      numFiles: Int,
      deltaCommits: Int = 4,
      splitThreshold: Double = 2.0): Option[String] = {
    val t = table.timeline
    val instants = t.instants()
    if (instants.isEmpty) return None
    // the trigger only needs to know whether >= deltaCommits non-cluster
    // commits landed since the last layout reorg — stop the metadata scan
    // at deltaCommits instants instead of replaying the whole timeline
    // on every poll (a long-lived stream's timeline grows unboundedly)
    val sinceCluster = instants.reverseIterator.map(i => t.readCommit(i).op)
      .takeWhile(op => op != "cluster" && op != "split_bucket")
      .take(deltaCommits).size
    if (sinceCluster < deltaCommits) return None
    if (table.cfg.numBuckets > 0) {
      if (maybeSplitBuckets(table, splitThreshold).nonEmpty) t.latestInstant()
      else None
    } else {
      require(sortCols.nonEmpty, "sort clustering needs sort columns")
      Some(table.cluster(sortCols, numFiles))
    }
  }

  /** Index-maintenance trigger: fold the per-commit record/secondary
    * index dirs once more than `maxDirs` of them accumulate — the index
    * analogue of the NUM compaction trigger, so a continuously-ingesting
    * table maintains its own lookup cost (O(maxDirs) index dirs per
    * probe, amortized fold cost O(new commits)) without scheduled
    * maintenance. Safe to run concurrently with ingest in the same
    * process: a fold lists its sources once (a commit landing later just
    * waits for the next trigger), consumed dirs are deleted LAST, and
    * the same-target crash recovery makes a fold interrupted at any
    * point re-runnable. Returns source dirs consumed across all indexes
    * (0 = below every threshold). */
  def maybeCompactIndexes(table: GraftTable, maxDirs: Int = 20): Int = {
    // a leftover fold marker is a trigger too (MappingIndex.needsFold): the
    // fold re-runs the crash recovery (or no-ops) and clears the marker
    // either way, restoring index-pruned lookups
    val idx = table.indexes
    var consumed = 0
    if (table.cfg.recordIndexBuckets > 0 && idx.needsFold(idx.recordRoot, maxDirs))
      consumed += table.compactRecordIndex()
    table.cfg.secondaryIndexCols.foreach { c =>
      if (idx.needsFold(idx.secondaryRoot(c), maxDirs))
        consumed += table.compactSecondaryIndex(c)
    }
    consumed
  }

  /** Consistent-hashing split planner (the analogue of the reference's
    * flink helpers/FindBucketNumber.java: a clustering plan driven by
    * `hoodie.bucket.index.split.threshold`): buckets whose live rows exceed
    * `splitThreshold` x the average bucket size are split under the doubled
    * modulus via [[GraftTable.splitBucket]]. Only files under the CURRENT
    * modulus count — already-split buckets are skipped. Returns the buckets
    * split, in order. */
  def maybeSplitBuckets(table: GraftTable, splitThreshold: Double = 2.0): Seq[Int] = {
    require(table.cfg.numBuckets > 0, s"table ${table.cfg.path} has no bucket index")
    val live = table.timeline.liveFiles(None)
      .filter(_.bucketMod == table.cfg.numBuckets)
    if (live.isEmpty) return Nil
    val rowsByBucket = live.groupBy(_.bucket).view.mapValues(_.map(_.rows).sum).toMap
    // average over ALL buckets of the current modulus, not just loaded ones
    val avg = rowsByBucket.values.sum.toDouble / table.cfg.numBuckets
    val victims = rowsByBucket.filter(_._2 > splitThreshold * avg).keys.toSeq.sorted
    victims.foreach(table.splitBucket)
    victims
  }

  /** Partition TTL, value-based (Hudi's partition TTL management,
    * KEEP_BY_TIME on date-formatted partition paths): retire every live
    * partition whose `col=value` path value sorts strictly below `cutoff` —
    * sound for the ISO-date / zero-padded formats our key generators emit.
    * One METADATA-ONLY delete_partition commit (no data file read, moved,
    * or deleted — history stays time-travelable until `clean`). Returns the
    * retired partition paths. */
  def expirePartitionsByValue(
      table: GraftTable, col: String, cutoff: String): Seq[String] = {
    val prefix = col + "="
    def doomed(p: String): Boolean = p.split("/").exists { seg =>
      seg.startsWith(prefix) && seg.substring(prefix.length) < cutoff
    }
    val victims = table.partitionFiles(doomed).map(_.partition).distinct.sorted
    if (victims.nonEmpty) table.dropPartitions(doomed)
    victims
  }

  /** Partition TTL, freshness-based (Hudi's KEEP_BY_CREATION_TIME /
    * last-modified strategy): retire live partitions whose LAST file-adding
    * commit is older than `instantCutoff` — cold partitions no writer has
    * touched in N commits/days. Scans only timeline metadata. */
  def expirePartitionsLastModifiedBefore(
      table: GraftTable, instantCutoff: String): Seq[String] = {
    val tl = table.timeline
    val lastTouched = scala.collection.mutable.Map.empty[String, String]
    (tl.archivedInstants() ++ tl.instants()).distinct.sorted.foreach { i =>
      tl.readCommit(i).adds.foreach { f =>
        if (f.partition.nonEmpty) lastTouched(f.partition) = i
      }
    }
    val victims = tl.liveFiles(None).map(_.partition).distinct
      .filter(p => p.nonEmpty && lastTouched.get(p).exists(_ < instantCutoff))
      .sorted
    if (victims.nonEmpty) { val v = victims.toSet; table.dropPartitions(v.contains) }
    victims
  }

  private val CurrentVersion = 1

  /** Table format version stored in `_graft/table.properties.json` — the
    * upgrade/downgrade surface the reference exercises
    * (DowngradeTable.scala). Version 1 is the only on-disk layout so far;
    * the validation contract matches the reference's:
    * downgrading to a NEWER version is an error, same-version is a no-op. */
  def tableVersion(table: GraftTable): Int = {
    val p = propsPath(table)
    val fs = new Path(table.cfg.path).getFileSystem(
      table.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) CurrentVersion
    else {
      val in = fs.open(p)
      val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      new ObjectMapper().readTree(new String(bytes, "UTF-8")).get("version").asInt()
    }
  }

  def downgradeTable(table: GraftTable, toVersion: Int): Boolean = {
    val from = tableVersion(table)
    if (toVersion > from)
      throw new IllegalArgumentException(
        s"table can not be downgraded from $from to version $toVersion")
    if (toVersion == from) return false
    writeVersion(table, toVersion)
    true
  }

  def upgradeTable(table: GraftTable, toVersion: Int = CurrentVersion): Boolean = {
    val from = tableVersion(table)
    if (toVersion < from)
      throw new IllegalArgumentException(
        s"table can not be upgraded from $from to older version $toVersion")
    if (toVersion == from) return false
    writeVersion(table, toVersion)
    true
  }

  private def propsPath(table: GraftTable): Path =
    new Path(s"${table.cfg.path}/_graft/table.properties.json")

  private def writeVersion(table: GraftTable, v: Int): Unit = {
    val fs = new Path(table.cfg.path).getFileSystem(
      table.spark.sparkContext.hadoopConfiguration)
    val out = fs.create(propsPath(table), true)
    out.write(s"""{"version": $v}""".getBytes("UTF-8"))
    out.close()
  }
}
