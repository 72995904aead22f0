package graft.tables

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Stats + identity of one data file committed to a [[GraftTable]].
  *
  * `minKey`/`maxKey` are stringified key bounds (numeric keys are
  * zero-padded so string order == numeric order) used for upsert/lookup
  * file pruning; `bucket` is the hash-bucket id when the table has a
  * bucket index; `partition` is the hive-style partition path fragment
  * (empty for unpartitioned tables).
  */
/** Per-file min/max of one tracked non-key column (data skipping).
  *
  * `kind` records how the bounds compare — stats are only harvested from
  * parquet types whose footer min/max equal the user-facing value:
  *   - [[ColStat.Num]]: plain signed INT32/INT64/FLOAT/DOUBLE, compared as
  *     doubles. (DECIMAL columns store UNSCALED ints in their footers and
  *     are never harvested — comparing 12.34 against a stored 1234 would
  *     silently prune files that DO match.)
  *   - [[ColStat.Lex]]: UTF8-annotated BINARY, compared lexically.
  *   - [[ColStat.Date]]: DATE-annotated INT32, bounds in epoch days.
  *   - [[ColStat.Ts]]: TIMESTAMP-annotated INT64, bounds in epoch micros
  *     (MILLIS/NANOS units normalized at harvest).
  * Any other physical/logical combination poisons the column for the file,
  * so every skip check conservatively keeps it. */
final case class ColStat(kind: String, min: String, max: String) {
  /** True unless this file's range provably misses [lo, hi]. A null side
    * is unbounded, and so is a bound whose runtime type doesn't match
    * `kind` (e.g. a java.sql.Date against plain numeric stats): it cannot
    * prune, so only the other side may. */
  def overlaps(lo: Any, hi: Any): Boolean = {
    val loOk = ColStat.bound(kind, lo).forall {
      case l: String => l <= max
      case l: java.lang.Double => l <= max.toDouble
      case _ => true
    }
    val hiOk = ColStat.bound(kind, hi).forall {
      case h: String => min <= h
      case h: java.lang.Double => min.toDouble <= h
      case _ => true
    }
    loOk && hiOk
  }

  /** Union of two ranges of the same kind — the partition-stats rollup
    * (file stats → one per-partition ColStat). Lex compares as strings,
    * every other kind in its numeric domain, keeping the original string
    * encodings (no re-format drift). */
  def merge(o: ColStat): ColStat = {
    require(o.kind == kind, s"cannot merge ColStat kinds $kind/${o.kind}")
    if (kind == ColStat.Lex)
      ColStat(kind, if (min <= o.min) min else o.min, if (max >= o.max) max else o.max)
    else
      ColStat(kind,
        if (min.toDouble <= o.min.toDouble) min else o.min,
        if (max.toDouble >= o.max.toDouble) max else o.max)
  }
}

/** A commit lost a first-committer-wins race to a concurrent writer — a
  * benign, retryable outcome (the trigger re-fires against the new
  * timeline). Subclasses IllegalStateException so existing handlers keep
  * working; retry loops must match on THIS type, so persistent failures
  * that also surface as IllegalStateException (tombstoned instants,
  * validator vetoes, lock-acquire timeouts) stay observable instead of
  * being swallowed as races. */
final class CommitConflictException(msg: String) extends IllegalStateException(msg)

/** The commit-lock wait budget (3× lease) expired while OTHER live writers
  * legitimately held and renewed the lease — transient by construction on
  * a loaded host, unlike the persistent IllegalStateException family
  * (tombstoned instants, validator vetoes). Its own type so retry loops
  * can treat it like a lost race while keeping it counted and logged. */
final class LockTimeoutException(msg: String) extends IllegalStateException(msg)

object ColStat {
  val Num = "num"
  val Lex = "lex"
  val Date = "date"
  val Ts = "ts"

  /** Normalize a user-supplied range bound to the stat kind's comparison
    * domain; None when the types don't line up (caller must keep the file). */
  private[tables] def bound(kind: String, v: Any): Option[Any] = kind match {
    case Num => v match {
      case n: Number => Some(Double.box(n.doubleValue()))
      case s: String => s.toDoubleOption.map(Double.box)
      case _ => None
    }
    case Lex => v match {
      case s: String => Some(s)
      case _ => None
    }
    case Date => v match {
      case d: java.sql.Date => Some(Double.box(d.toLocalDate.toEpochDay.toDouble))
      case d: java.time.LocalDate => Some(Double.box(d.toEpochDay.toDouble))
      case s: String =>
        scala.util.Try(java.time.LocalDate.parse(s).toEpochDay.toDouble)
          .toOption.map(Double.box)
      case _ => None
    }
    case Ts => v match {
      case t: java.sql.Timestamp =>
        Some(Double.box(t.getTime * 1000.0 + (t.getNanos / 1000) % 1000))
      case i: java.time.Instant =>
        Some(Double.box(i.getEpochSecond * 1e6 + i.getNano / 1000))
      case s: String =>
        scala.util.Try(java.sql.Timestamp.valueOf(s)).toOption
          .map(t => Double.box(t.getTime * 1000.0 + (t.getNanos / 1000) % 1000))
      case _ => None
    }
    case _ => None
  }
}

final case class FileMeta(
    path: String, // relative to table root
    partition: String,
    bucket: Int,
    minKey: String,
    maxKey: String,
    rows: Long,
    colStats: Map[String, ColStat] = Map.empty,
    // the bucket-count modulus that assigned `bucket` — after a rebucket,
    // files written under a different modulus must not be bucket-pruned by
    // a handle configured with another count (0 = unknown/unbucketed:
    // never pruned by bucket)
    bucketMod: Int = 0,
    // file length in bytes, harvested for free from the commit-time
    // listing. Lets every snapshot/candidate scan plan from COMMIT
    // METADATA alone (a FileIndex built from these), with ZERO per-file
    // LIST/HEAD round-trips — the Hudi-metadata-table/Delta-log idea.
    // 0 = unknown (pre-len commits): those files fall back to a listed
    // scan, never to a fabricated zero-length status
    len: Long = 0L)

/** One commit instant on the timeline. `meta` carries small app-level
  * key/values committed ATOMICALLY with the data (e.g. incremental-pipeline
  * watermarks — exactly-once because the watermark and the data land in one
  * rename). */
final case class Commit(
    instant: String,
    op: String,
    adds: Seq[FileMeta],
    removes: Seq[String],
    meta: Map[String, String] = Map.empty)

/** The commit timeline of a GraftTable: `_graft/<instant>.commit.json`
  * files, one per atomic commit (temp-write + atomic rename).
  *
  * This plays the role of Hudi's `.hoodie` timeline + metadata-table file
  * listing (reference: the glue S3-calls benchmark measures exactly the
  * listing cost this avoids — readers list O(#commits) small JSON files and
  * never LIST data directories).
  */
final class Timeline(fs: FileSystem, tableDir: Path) {

  private val metaDir = new Path(tableDir, "_graft")
  private val archDir = new Path(metaDir, "archive")
  private val mapper = new ObjectMapper()

  private def writeFileNode(arr: ArrayNode, f: FileMeta): Unit = {
    val n = arr.addObject()
    n.put("path", f.path)
    n.put("partition", f.partition)
    n.put("bucket", f.bucket)
    n.put("minKey", f.minKey)
    n.put("maxKey", f.maxKey)
    n.put("rows", f.rows)
    if (f.len != 0L) n.put("len", f.len)
    if (f.bucketMod != 0) n.put("bucketMod", f.bucketMod)
    if (f.colStats.nonEmpty) {
      val cs = n.putObject("colStats")
      f.colStats.foreach { case (c, st) =>
        val o = cs.putObject(c)
        o.put("k", st.kind)
        o.put("mn", st.min)
        o.put("mx", st.max)
      }
    }
  }

  private def readFileNode(n: JsonNode): FileMeta = {
    val csNode = n.get("colStats")
    val cs =
      if (csNode == null) Map.empty[String, ColStat]
      else {
        val b = mutable.LinkedHashMap.empty[String, ColStat]
        csNode.fields().forEachRemaining { e =>
          // "k" is the v2 typed-kind field; v1 timelines wrote a boolean "n"
          val kind = Option(e.getValue.get("k")).map(_.asText()).getOrElse(
            if (e.getValue.get("n").asBoolean()) ColStat.Num else ColStat.Lex)
          b += e.getKey -> ColStat(kind,
            e.getValue.get("mn").asText(), e.getValue.get("mx").asText())
        }
        b.toMap
      }
    FileMeta(
      n.get("path").asText(),
      n.get("partition").asText(),
      n.get("bucket").asInt(),
      n.get("minKey").asText(),
      n.get("maxKey").asText(),
      n.get("rows").asLong(),
      cs,
      Option(n.get("bucketMod")).map(_.asInt()).getOrElse(0),
      Option(n.get("len")).map(_.asLong()).getOrElse(0L))
  }

  def init(): Unit = fs.mkdirs(metaDir)

  def exists(): Boolean = fs.exists(metaDir)

  /** One listing of `dir`, with no exists probe: a missing dir is empty. */
  private def list(dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq catch { case _: java.io.FileNotFoundException => Nil }

  private def metaNames(): Seq[String] = list(metaDir).map(_.getPath.getName)

  /** The instants of the `suffix` markers among `names`, numerically sorted
    * (robust to any padding-width drift). */
  private def marked(names: Seq[String], suffix: String): Seq[String] =
    names.filter(_.endsWith(suffix)).map(_.stripSuffix(suffix)).sortBy(_.toLong)

  def instants(): Seq[String] = marked(metaNames(), ".commit.json")

  def latestInstant(): Option[String] = instants().lastOption

  /** The table's true HEAD: the newest instant whose snapshot is
    * reconstructable — the newest hot commit or checkpoint, whichever is
    * later. On tables written before archive kept the head commit hot,
    * the newest commits can live only in the archive under a covering
    * checkpoint; `latestInstant()` (hot-only) then under-reports the
    * head, and a stream offset bound to it would stop short forever.
    * This is the bound [[liveFiles]] resolves `asOf = None` to, so
    * `read()` and a stream's `getOffset` agree by construction. */
  def headInstant(): Option[String] = {
    val names = metaNames()
    (marked(names, ".commit.json") ++ marked(names, ".checkpoint.json")).maxByOption(_.toLong)
  }

  def nextInstant(): String = {
    val all = allInstants()
    val n = all.lastOption.map(_.toLong + 1).getOrElse(1L)
    require(n <= Timeline.MaxInstantNum, "timeline exhausted (1e9 commits)")
    Timeline.pad(n)
  }

  /** Committed + in-flight + rolled-back instants (for reservation —
    * rolled-back instant numbers are never reused, so cached Commit objects
    * in other handles can never be silently re-bound to different data). */
  private def allInstants(): Seq[String] =
    metaNames().collect {
      case n if n.endsWith(".commit.json") => n.stripSuffix(".commit.json")
      case n if n.endsWith(".inflight") => n.stripSuffix(".inflight")
      case n if n.endsWith(".rolledback") => n.stripSuffix(".rolledback")
      // a checkpoint pins the high-water mark even after every commit at
      // or before it has been archived — instant numbers are never reused
      case n if n.endsWith(".checkpoint.json") => n.stripSuffix(".checkpoint.json")
    }.sortBy(_.toLong)

  /** Instants reserved but not yet committed or rolled back, with each
    * `.inflight` marker's mtime (= reservation time) — their data dirs
    * belong to a writer that may still be running. */
  def inflightReservations(): Map[String, Long] =
    list(metaDir).collect {
      case s if s.getPath.getName.endsWith(".inflight") =>
        s.getPath.getName.stripSuffix(".inflight") -> s.getModificationTime
    }.toMap

  /** Fence off a PRESUMED-DEAD writer: under the commit lock, tombstone the
    * instant iff its reservation is still in-flight and older than
    * `staleMs`. After a true return the writer — if it was in fact alive —
    * can no longer commit (commit refuses tombstoned instants), so its
    * files may be safely reaped. False: it committed, aborted, or is
    * younger than the staleness bound. */
  def abortIfStale(instant: String, staleMs: Long): Boolean =
    Timeline.commitLock(fs, tableDir).synchronized {
      withCommitFileLock() {
        val marker = new Path(metaDir, s"$instant.inflight")
        val stale =
          try fs.exists(marker) &&
            fs.getFileStatus(marker).getModificationTime < System.currentTimeMillis() - staleMs &&
            !fs.exists(new Path(metaDir, s"$instant.commit.json"))
          catch { case _: java.io.FileNotFoundException => false }
        if (stale) { abort(instant); true } else false
      }
    }

  /** Release a reserved instant whose write failed or was rolled back:
    * the `.rolledback` tombstone keeps the number from being reused. */
  def abort(instant: String): Unit = {
    fs.create(new Path(metaDir, s"$instant.rolledback"), true).close()
    fs.delete(new Path(metaDir, s"$instant.inflight"), false)
    commitCache.remove(instant)
  }

  /** Atomically reserve the next instant (optimistic concurrency: the
    * `.inflight` marker is created exclusively — O_EXCL on local disk,
    * create(overwrite=false) on stores where that is atomic — so two
    * writers racing for the same instant serialize; the loser retries with
    * the next number). Same-JVM threads additionally serialize on the
    * per-table lock so the list+create never races in-process: a shared
    * instant number would mean two jobs writing the same data directory. */
  def reserveInstant(): String = Timeline.commitLock(fs, tableDir).synchronized {
    init()
    var attempts = 0
    while (attempts < 100) {
      val i = nextInstant()
      if (Timeline.createExclusive(fs, new Path(metaDir, s"$i.inflight"),
          Array.emptyByteArray)) return i
      attempts += 1 // lost a cross-process race; re-derive
    }
    throw new IllegalStateException(s"could not reserve an instant after $attempts attempts")
  }

  /** Lease-based cross-process lock around commit validation + rename (the
    * analogue of Hudi's FileSystemBasedLockProvider). `create(overwrite =
    * false)` is the acquire; each lock file carries a unique owner token.
    *
    * Liveness + safety around the lease:
    *   - The HOLDER renews the lock's mtime from a daemon thread every
    *     leaseMs/3 while the commit body runs, so a long conflict check
    *     (full timeline replay, cloud listing) is never fenced mid-commit.
    *   - A WAITER breaks a lock only after observing it stale AND winning an
    *     atomic rename to a waiter-unique path (one breaker wins; the losers
    *     see FileNotFound). After the rename it re-reads the owner token: if
    *     it differs from the one observed stale, a third process re-acquired
    *     between the staleness check and the rename — the lock is renamed
    *     back, not deleted. Check-then-delete races are gone.
    *   - The wait budget (3× lease) comfortably exceeds the lease, so
    *     waiters outlive a healthy long-running holder instead of throwing
    *     before its lease could even expire.
    * On storage without atomic exclusive-create/rename (S3 without
    * conditional writes) this narrows but does not close the race, exactly
    * like Hudi's FS lock provider — swap in an external lock service there. */
  private def withCommitFileLock[T](leaseMs: Long = 60000L)(body: => T): T = {
    val lockPath = new Path(metaDir, ".commit.lock")
    val deadline = System.currentTimeMillis() + 3 * leaseMs
    var first = true
    while (first || System.currentTimeMillis() < deadline) {
      first = false
      val token = java.util.UUID.randomUUID().toString
      val acquired = Timeline.createExclusive(fs, lockPath,
        s"""{"ts":${System.currentTimeMillis()},"owner":"$token"}"""
          .getBytes(StandardCharsets.UTF_8))
      if (acquired) {
        val renewer = new Thread(() => {
          try {
            while (!Thread.currentThread().isInterrupted) {
              Thread.sleep(math.max(1L, leaseMs / 3))
              fs.setTimes(lockPath, System.currentTimeMillis(), -1)
            }
          } catch {
            case _: InterruptedException => ()
            case _: java.io.IOException => () // renewal is best-effort
          }
        }, "graft-commit-lock-renew")
        renewer.setDaemon(true)
        renewer.start()
        try return body
        finally {
          renewer.interrupt()
          fs.delete(lockPath, false)
        }
      }
      try {
        val st = fs.getFileStatus(lockPath)
        if (System.currentTimeMillis() - st.getModificationTime > leaseMs) {
          val observed = lockIdentity(lockPath)
          if (observed.isDefined) {
            val breaking = new Path(metaDir, s".commit.lock.breaking-$token")
            if (fs.rename(lockPath, breaking)) {
              if (lockIdentity(breaking) == observed) fs.delete(breaking, false)
              else fs.rename(breaking, lockPath) // live re-acquire raced us: restore
            }
          }
        }
      } catch { case _: java.io.FileNotFoundException => () } // released; retry now
      Timeline.lockRetries.incrementAndGet()
      Thread.sleep(50)
    }
    throw new LockTimeoutException(
      s"could not acquire commit lock $lockPath within ${3 * leaseMs} ms")
  }

  /** A lock file's identity = its raw content (each holder writes a unique
    * owner token; an empty/corrupt file from a crashed writer is a valid —
    * constant — identity too). None only when the file can't be read. */
  private def lockIdentity(p: Path): Option[String] =
    try {
      val in = fs.open(p)
      val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      Some(new String(bytes, StandardCharsets.UTF_8))
    } catch { case _: java.io.IOException => None }

  def commit(c: Commit): Unit = Timeline.commitLock(fs, tableDir).synchronized {
    withCommitFileLock() { commitLocked(c) }
  }

  /** Runs `body` under the table's JVM monitor AND the cross-process
    * commit file lock — for metadata read-modify-writes that must not
    * interleave with each other or with commits. The schema.json union
    * is the canonical user: two writers evolving DIFFERENT new columns
    * both do load-merge-save, and unlocked, the second save silently
    * drops the first writer's column while its data files already carry
    * it — readers then hide the column forever (readFiles reads with the
    * explicit persisted schema). Cheap because callers only take it when
    * the schema actually changes. NEVER NEST these calls (and never call
    * commit() inside one): the commit file lock is not reentrant — an
    * inner acquire would wait out the holder's own healthy lease and
    * throw LockTimeoutException. */
  def withMetaLock[T](body: => T): T =
    Timeline.commitLock(fs, tableDir).synchronized {
      // metadata RMWs can legally run BEFORE the first write (a validator
      // registered on an empty table): the lock file's parent must exist,
      // or exclusive-create throws IOException on the missing dir — which
      // reads as "lock held" and spins to a bogus LockTimeoutException
      init()
      withCommitFileLock()(body)
    }

  private def commitLocked(c: Commit): Unit = {
    // A tombstoned instant must never commit: the orphan reaper (or an
    // explicit abort) may have fenced this writer off as presumed-dead and
    // already deleted its files — committing would publish dangling adds.
    if (fs.exists(new Path(metaDir, s"${c.instant}.rolledback")))
      throw new IllegalStateException(
        s"instant ${c.instant} was aborted (fenced as stale?); cannot commit")
    // First-committer-wins conflict check: every file this commit replaces
    // must still be live (a concurrent writer may have replaced it first).
    // The JVM-wide per-table lock serializes writer THREADS in this driver;
    // the file lock extends check+rename exclusion to writers in OTHER
    // processes (multi-writer, à la Hudi with a lock provider).
    val live = liveFiles(None).map(_.path).toSet
    val gone = c.removes.filterNot(live.contains)
    if (gone.nonEmpty) {
      // Do NOT delete the .inflight marker here: an instant must be
      // covered by at least one marker (.inflight / .commit.json /
      // .rolledback) at every moment. Deleting it before the caller's
      // abort() lands its tombstone opens a window where this instant —
      // if it was the max — is re-derived and re-reserved by a CONCURRENT
      // writer; this loser's cleanup then deletes data/<instant>, which
      // now holds the new owner's (possibly committed) files: dangling
      // adds, reader FileNotFound, silent row loss. Found by
      // ConcurrencyStress; abort() removes the marker only after the
      // tombstone exists.
      throw new CommitConflictException(
        s"write conflict at instant ${c.instant}: files already replaced: ${gone.take(3).mkString(", ")}")
    }
    val root: ObjectNode = mapper.createObjectNode()
    root.put("instant", c.instant)
    root.put("op", c.op)
    val adds: ArrayNode = root.putArray("adds")
    c.adds.foreach(writeFileNode(adds, _))
    val removes: ArrayNode = root.putArray("removes")
    c.removes.foreach(removes.add)
    val metaNode = root.putObject("meta")
    c.meta.foreach { case (k, v) => metaNode.put(k, v) }
    val bytes = mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root)
    val tmp = new Path(metaDir, s".tmp-${c.instant}-${System.nanoTime()}")
    val out = fs.create(tmp, true)
    out.write(bytes)
    out.close()
    val dest = new Path(metaDir, s"${c.instant}.commit.json")
    if (!fs.rename(tmp, dest)) {
      fs.delete(tmp, false)
      throw new CommitConflictException(s"concurrent commit detected at instant ${c.instant}")
    }
    fs.delete(new Path(metaDir, s"${c.instant}.inflight"), false)
  }

  /** Latest committed instant whose wall-clock commit time is <= `ts`
    * (epoch millis) — resolves `TIMESTAMP AS OF`-style time travel. */
  def instantAsOfTime(epochMs: Long): Option[String] =
    instants().filter { i =>
      fs.getFileStatus(new Path(metaDir, s"$i.commit.json")).getModificationTime <= epochMs
    }.lastOption

  // commit files are immutable once written (only rollback removes one), so
  // parse each at most once per Timeline instance — liveFiles() is called
  // several times per table operation and would otherwise re-parse the whole
  // timeline each call
  private val commitCache = mutable.HashMap.empty[String, Commit]

  private[tables] def invalidate(instant: String): Unit = commitCache.remove(instant)

  def readCommit(instant: String): Commit =
    commitCache.getOrElseUpdate(instant, readCommitUncached(instant))

  private def readCommitUncached(instant: String): Commit = {
    val hot = new Path(metaDir, s"$instant.commit.json")
    // archived commits still serve history/CDC/clean metadata
    val p = if (fs.exists(hot)) hot else new Path(metaDir, s"archive/$instant.commit.json")
    val in = fs.open(p)
    val bytes =
      try org.apache.commons.io.IOUtils.toByteArray(in)
      finally in.close()
    val root = mapper.readTree(new String(bytes, StandardCharsets.UTF_8))
    val adds = mutable.ArrayBuffer.empty[FileMeta]
    root.get("adds").forEach((n: JsonNode) => adds += readFileNode(n))
    val removes = mutable.ArrayBuffer.empty[String]
    root.get("removes").forEach((n: JsonNode) => removes += n.asText())
    val meta = mutable.LinkedHashMap.empty[String, String]
    val metaNode = root.get("meta")
    if (metaNode != null) {
      metaNode.fields().forEachRemaining(e => meta += e.getKey -> e.getValue.asText())
    }
    Commit(root.get("instant").asText(), root.get("op").asText(),
      adds.toSeq, removes.toSeq, meta.toMap)
  }

  /** Live files visible in the snapshot AS OF `asOf` (inclusive).
    *
    * Replay starts from the newest checkpoint at or before the bound (when
    * one exists), so the per-read metadata cost is O(1 checkpoint read +
    * commits since checkpoint), not O(all commits) — the same reason Hudi
    * keeps a files index in its metadata table. Without a checkpoint the
    * full timeline is replayed (commit parses are cached per handle).
    */
  def liveFiles(asOf: Option[String] = None,
      allowArchived: Boolean = false): Seq[FileMeta] = {
    val names = metaNames()
    val committed = marked(names, ".commit.json")
    val cps = marked(names, ".checkpoint.json")
    val bound = asOf.getOrElse {
      (committed ++ cps).maxByOption(_.toLong).getOrElse(return Seq.empty)
    }
    val cp = cps.filter(_ <= bound).lastOption
    // archived commits inside the replay range (cp, bound] would be
    // silently skipped. Default: refuse rather than return a wrong
    // snapshot (interactive time travel past the archive horizon fails
    // loudly). `allowArchived`: replay them from `_graft/archive/` —
    // archive is a commit-file RENAME, so the replay is exact, just not
    // O(commits since checkpoint). The streaming source needs this: the
    // engine's recovery contract re-runs the last WAL'd-but-uncommitted
    // batch with the SAME offsets after a restart, and a
    // checkpointTimeline that archived the batch's range in between must
    // not wedge the stream forever (fuzz-found: StreamReplaySpec).
    val archivedInRange = archived(names)
      .filter(i => i <= bound && cp.forall(i > _))
    if (archivedInRange.nonEmpty && !allowArchived)
      throw new IllegalArgumentException(
        s"snapshot AS OF $bound is not reconstructable — commits in its replay range are archived")
    val live = mutable.LinkedHashMap.empty[String, FileMeta]
    cp.foreach(i => readCheckpoint(i).foreach(f => live.put(f.path, f)))
    (archivedInRange ++
      committed.filter(i => cp.forall(i > _) && i <= bound))
      .distinct.sorted.foreach { i =>
        val c = readCommit(i)
        c.removes.foreach(live.remove)
        c.adds.foreach(f => live.put(f.path, f))
      }
    live.values.toSeq
  }

  // ----------------------------------------------------------- checkpoints

  /** Write `_graft/<instant>.checkpoint.json`: the full live-file set AS OF
    * `instant`, atomically (temp + rename). After a checkpoint, commits at
    * or before it may be [[archive]]d out of the hot timeline. */
  def checkpoint(instant: String): Unit = {
    require(instants().contains(instant), s"cannot checkpoint unknown instant $instant")
    val files = liveFiles(Some(instant))
    val root: ObjectNode = mapper.createObjectNode()
    root.put("instant", instant)
    val arr: ArrayNode = root.putArray("files")
    files.foreach(writeFileNode(arr, _))
    val tmp = new Path(metaDir, s".tmp-cp-$instant-${System.nanoTime()}")
    val out = fs.create(tmp, true)
    out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    out.close()
    if (!fs.rename(tmp, new Path(metaDir, s"$instant.checkpoint.json"))) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"concurrent checkpoint at instant $instant")
    }
  }

  def checkpoints(): Seq[String] = marked(metaNames(), ".checkpoint.json")

  private val checkpointCache = mutable.HashMap.empty[String, Seq[FileMeta]]

  private def readCheckpoint(instant: String): Seq[FileMeta] =
    checkpointCache.getOrElseUpdate(instant, {
      val p = new Path(metaDir, s"$instant.checkpoint.json")
      val in = fs.open(p)
      val bytes =
        try org.apache.commons.io.IOUtils.toByteArray(in)
        finally in.close()
      val root = mapper.readTree(new String(bytes, StandardCharsets.UTF_8))
      val files = mutable.ArrayBuffer.empty[FileMeta]
      root.get("files").forEach((n: JsonNode) => files += readFileNode(n))
      files.toSeq
    })

  /** Move commits at or before the newest checkpoint into `_graft/archive/`
    * (Hudi archived timeline): the hot directory stays O(recent commits) no
    * matter how long the table lives. Archived instants still serve
    * [[readCommit]] (history, CDC, clean) via the archive fallback, but
    * snapshot reads strictly BEFORE the checkpoint are no longer possible —
    * callers get a clear error instead of a wrong answer. Savepointed
    * instants are never archived (restore needs their commits hot).
    * Returns the number of commits archived. */
  def archive(): Int = {
    val names = metaNames()
    val cps = marked(names, ".checkpoint.json")
    val cp = cps.lastOption.getOrElse(return 0)
    val hot = marked(names, ".commit.json")
    // a savepoint sp replays from the newest checkpoint <= sp plus the
    // commits after it — those commits must stay hot (clean() and restore
    // both replay savepointed snapshots)
    val needed = marked(names, ".savepoint").flatMap { sp =>
      val cover = cps.filter(_ <= sp).lastOption
      hot.filter(i => i <= sp && cover.forall(i > _))
    }.toSet
    // the HEAD commit always stays hot: archiving it makes latestInstant()
    // regress to an older hot commit, so stream offsets stop short of the
    // real head (consumers silently never see the newest commits —
    // StreamReplaySpec seed-sweep-found) and rollback's latest-only check
    // binds to the wrong instant
    val victims = hot.filter(i => i <= cp && !needed.contains(i) &&
      !hot.lastOption.contains(i))
    if (victims.nonEmpty) fs.mkdirs(archDir)
    victims.count { i =>
      fs.rename(new Path(metaDir, s"$i.commit.json"),
        new Path(archDir, s"$i.commit.json"))
    }
  }

  /** Files removed by any commit at or before `asOf` — physical-delete
    * candidates for `clean`. Consults archived commits too, so archiving
    * before cleaning never strands replaced files on disk. */
  def removedFiles(asOf: String): Seq[String] =
    committedInstants().filter(_ <= asOf).flatMap(i => readCommit(i).removes)

  /** Every committed instant, archived or hot, distinct and sorted. */
  def committedInstants(): Seq[String] = {
    val names = metaNames()
    (archived(names) ++ marked(names, ".commit.json")).distinct.sorted
  }

  /** Instants whose commit files were moved to `_graft/archive/`. */
  def archivedInstants(): Seq[String] =
    marked(list(archDir).map(_.getPath.getName), ".commit.json")

  /** [[archivedInstants]], listed only when the `_graft/` listing `names`
    * shows an archive. */
  private def archived(names: Seq[String]): Seq[String] =
    if (names.contains(archDir.getName)) archivedInstants() else Nil

  // ------------------------------------------------------------ savepoints

  /** Mark a committed instant as a savepoint (Hudi savepoint): `clean` will
    * never physically delete files needed to restore this snapshot, and
    * `restore` can roll the table back to it. */
  def savepoint(instant: String): Unit = {
    require(instants().contains(instant), s"cannot savepoint unknown instant $instant")
    fs.create(new Path(metaDir, s"$instant.savepoint"), true).close()
  }

  def savepoints(): Seq[String] = marked(metaNames(), ".savepoint")

  def deleteSavepoint(instant: String): Unit = {
    fs.delete(new Path(metaDir, s"$instant.savepoint"), false)
    ()
  }

  def deleteCheckpoint(instant: String): Unit = {
    fs.delete(new Path(metaDir, s"$instant.checkpoint.json"), false)
    checkpointCache.remove(instant)
    ()
  }
}

object Timeline {
  /** Process-wide count of commit-lock acquire retries (a waiter found the
    * lock held — or freshly broken — and slept before trying again).
    * Monotone; readers take deltas. Bench records the per-op delta into
    * BENCH_SELF.json so a latency swing can be attributed to lock
    * contention (concurrent-writer ops) vs plain machine load without a
    * rerun-and-compare cycle. */
  val lockRetries = new java.util.concurrent.atomic.AtomicLong

  // One lock object per qualified table path, JVM-wide: serializes the
  // commit-conflict validation with the commit rename across every Timeline
  // handle (and thread) for the same table in this driver.
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[tables] def commitLock(fs: FileSystem, tableDir: Path): Object =
    commitLocks.computeIfAbsent(
      fs.makeQualified(tableDir).toString, _ => new Object)

  /** Create `p` exclusively (fail when it already exists) with `content`.
    * Hadoop's RawLocalFileSystem implements create(overwrite=false) as
    * check-then-create, so on file:// two racing processes can BOTH win —
    * there we go through NIO's CREATE_NEW (O_CREAT|O_EXCL, kernel-atomic).
    * HDFS / stores with conditional create keep the Hadoop path, where
    * create(false) is atomic at the namenode. Returns false if `p` exists. */
  private[tables] def createExclusive(
      fs: FileSystem, p: Path, content: Array[Byte]): Boolean =
    if ("file" == fs.getScheme) {
      val nio = java.nio.file.Paths.get(p.toUri.getPath)
      try {
        java.nio.file.Files.write(nio, content,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
    } else {
      try {
        val out = fs.create(p, false)
        try out.write(content) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    }

  /** 9-digit zero padding keeps lexical order == numeric order for up to
    * 1e9 commits (enforced in nextInstant) — a streaming table at one
    * commit per second lasts ~30 years. Format v1 timelines are 9-digit
    * only; mixed widths are not supported. */
  def pad(n: Long): String = f"$n%09d"

  val MaxInstantNum: Long = 999999999L
  /** The maximum representable instant — default `end` for open ranges. */
  val MaxInstant: String = pad(MaxInstantNum)

  def apply(spark: org.apache.spark.sql.SparkSession, tablePath: String): Timeline = {
    val conf: Configuration = spark.sparkContext.hadoopConfiguration
    val p = new Path(tablePath)
    new Timeline(p.getFileSystem(conf), p)
  }
}
