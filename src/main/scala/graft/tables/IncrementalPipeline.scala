package graft.tables

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Resumable incremental processing between GraftTables — the reference's
  * central Hudi pattern (flink Hudi2HudiDataPipeline.java, DeltaStreamer
  * chaining): each run reads ONLY the upstream commits since the persisted
  * watermark, transforms them, and merges into the target. Cost per run is
  * O(changed data), never O(table) — this is what makes derived tables
  * maintainable at 100 TB.
  *
  * Exactly-once: `advance` hands `apply` a commitMeta map carrying the
  * applied upstream range; when the apply lands it through a table write
  * (the default does), the watermark is committed ATOMICALLY with the data —
  * a crash-retry sees the range already applied in the target's timeline and
  * skips it, so even non-idempotent applies (additive aggregate merges)
  * never double-count. A plain watermark file is kept as a fast hint and for
  * apply functions that bypass table commits (those are at-least-once).
  */
object IncrementalPipeline {

  private def metaKey(sourceId: String) = s"graft.watermark.$sourceId"

  private def watermarkPath(target: GraftTable, sourceId: String): Path =
    new Path(s"${target.cfg.path}/_graft/watermark_$sourceId.json")

  /** Last applied upstream instant: the max watermark recorded in the
    * target's commit metadata (authoritative, atomic), or the hint file —
    * whichever is later. */
  def lastApplied(target: GraftTable, sourceId: String): Option[String] = {
    val fromCommits = target.timeline.instants()
      .flatMap(i => target.timeline.readCommit(i).meta.get(metaKey(sourceId)))
      .maxOption
    // the hint is best-effort: an unreadable hint file must fall back to
    // the authoritative commit-meta watermark, not crash
    val fromFile =
      try TableProperties.readJson(target.fs, watermarkPath(target, sourceId))
        .map(_.get("instant").asText())
      catch { case NonFatal(_) => None }
    (fromCommits.toSeq ++ fromFile.toSeq).maxOption
  }

  private def saveWatermark(target: GraftTable, sourceId: String, instant: String): Unit =
    try TableProperties.writeJson(target.fs, watermarkPath(target, sourceId),
      Map("instant" -> instant))
    catch { case _: IllegalStateException => () } // hint only: give up quietly

  /** Process everything upstream since the watermark. `transform` maps the
    * incremental rows (latest state of changed records) to the target's
    * shape; `apply` lands them and MUST pass the given commitMeta to the
    * table write for exactly-once semantics (the default upserts with it).
    * Returns the (from, to] range applied, or None when already caught up. */
  def advance(
      source: GraftTable,
      target: GraftTable,
      sourceId: String)(
      transform: DataFrame => DataFrame,
      apply: (GraftTable, DataFrame, Map[String, String]) => Unit =
        (t, df, m) => { t.upsert(df, m); () })
      : Option[(String, String)] = {
    val from = lastApplied(target, sourceId).getOrElse(Timeline.pad(0))
    val to = source.timeline.latestInstant().getOrElse(return None)
    if (to <= from) return None
    val delta = transform(source.incremental(from, to))
    apply(target, delta, Map(metaKey(sourceId) -> to))
    saveWatermark(target, sourceId, to)
    Some((from, to))
  }
}
