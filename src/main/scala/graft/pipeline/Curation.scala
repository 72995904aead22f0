package graft.pipeline

import graft.{GraftSession, QueryDef, QueryRegistry}
import graft.text.TextOps.{alphaCount, normText, wsTokenCount}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.C-E capstone — the end-to-end training-data curation funnel
  * a pretraining pipeline actually runs, composed from the verified pieces:
  *
  *   1. exact dedup (normalized-text hash, keep lowest doc_id)
  *   2. quality gate (length + alpha ratio)
  *   3. deterministic per-language mix sampling
  *   4. join to the embedding corpus (doc_id = vec_id) for downstream ANN
  *
  * Everything stays one declarative plan: the dedup is a window over the
  * fingerprint hash (one shuffle), the gates are codegen'd row filters, the
  * embedding join broadcasts nothing it shouldn't — at 100 TB this runs as
  * scan → window → filters → shuffle-join with no driver involvement.
  */
object Curation extends QueryRegistry {

  def cCurationFunnel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = GraftSession.table(s, dir, "documents")
    val embs = GraftSession.table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"))

    val nChars = length(col("text")).cast("long")
    val alpha = alphaCount(col("text")).cast("long")
    val keepRate = when(col("lang") === "en", 80)
      .when(col("lang") === "zh", 50).otherwise(25)
    val wDedup = Window.partitionBy("fp").orderBy("doc_id")

    docs
      .withColumn("fp", md5(normText(col("text"))))
      .withColumn("rn", row_number().over(wDedup))
      .filter(col("rn") === 1) // 1. exact dedup, lowest doc_id survives
      .filter(nChars >= 64 && // 2. quality gate
        alpha.cast("double") / nChars.cast("double") > 0.6)
      .filter( // 3. per-language mix sampling (stable residue)
        pmod(col("doc_id") * 2654435761L % 1000000007L, lit(100)) < keepRate)
      .join(embs, col("doc_id") === col("vec_id")) // 4. embedding join
      .select(col("doc_id"), col("lang"), col("label"),
        nChars.as("n_chars_calc"), col("fp"))
      .orderBy("doc_id")
  }

  private val cCurationFunnelSql =
    """WITH fp AS (SELECT doc_id, lang, text,
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
      |    ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
      |      ORDER BY doc_id) AS rn
      |  FROM documents)
      |SELECT doc_id, lang, label, CAST(length(text) AS BIGINT) AS n_chars_calc, fp
      |FROM fp JOIN embeddings ON doc_id = vec_id
      |WHERE rn = 1
      |  AND length(text) >= 64
      |  AND CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
      |    / CAST(length(text) AS DOUBLE) > 0.6
      |  AND ((doc_id * 2654435761) % 1000000007) % 100 <
      |    CASE WHEN lang = 'en' THEN 80 WHEN lang = 'zh' THEN 50 ELSE 25 END
      |ORDER BY doc_id""".stripMargin

  // --- c_mixture_plan: token-budget mixture planning — the step BEFORE
  // sampling: given a total token budget (half the corpus) split uniformly
  // across sources, derive each source's keep RATE and the tokens that
  // survive it. All arithmetic is exact-integer aggregation followed by
  // deterministic IEEE double division (and a round(…,6) both engines
  // share), so the plan is bit-stable. One hash aggregation + a broadcast
  // of the 1-row totals — O(sources) output at any corpus size; the rates
  // feed a residue sampler like x_sample_mix / the funnel's stage 3.
  def cMixturePlan(s: SparkSession, dir: String): DataFrame = {
    val perSrc = GraftSession.table(s, dir, "documents")
      .select(col("source"), wsTokenCount(col("text")).as("n_tok"))
      .groupBy("source").agg(sum("n_tok").as("n_tokens"))
    val totals = perSrc.agg(
      sum("n_tokens").cast("double").as("total"), count(lit(1)).as("ns"))
    val rate = round(least(lit(1.0),
      col("total") / (lit(2) * col("ns")) / col("n_tokens")), 6)
    perSrc.crossJoin(broadcast(totals))
      .select(col("source"), col("n_tokens"), rate.as("keep_rate"),
        floor(rate * col("n_tokens")).cast("long").as("kept_tokens"))
      .orderBy("source")
  }

  private val cMixturePlanSql =
    """WITH d AS (SELECT source,
      |    CASE WHEN trim(text) = '' THEN 0
      |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_tok
      |  FROM documents),
      |p AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM d GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total, COUNT(*) AS ns FROM p)
      |SELECT source, n_tokens,
      |  round(least(1.0, total / (2 * ns) / n_tokens), 6) AS keep_rate,
      |  CAST(floor(round(least(1.0, total / (2 * ns) / n_tokens), 6) * n_tokens) AS BIGINT)
      |    AS kept_tokens
      |FROM p, t ORDER BY source""".stripMargin

  // --- c_epoch_plan: repetition planning under a token budget (the
  // data-constrained-scaling allocation of Muennighoff et al. 2023,
  // arXiv:2305.16264): each source may be repeated up to 4 epochs; the
  // budget (2× the corpus) is split equally per source, each source
  // contributes min(cap, share/n_tokens) epochs, and the leftover from
  // small sources that hit the cap is reported per source so a second
  // allocation round can redistribute it. Integer sums → one shared
  // double division + round(…,6): bit-stable, O(sources) output.
  def cEpochPlan(s: SparkSession, dir: String): DataFrame = {
    val perSrc = GraftSession.table(s, dir, "documents")
      .select(col("source"), wsTokenCount(col("text")).as("n_tok"))
      .groupBy("source").agg(sum("n_tok").as("n_tokens"))
    val totals = perSrc.agg(
      sum("n_tokens").cast("double").as("total"), count(lit(1)).as("ns"))
    val share = lit(2.0) * col("total") / col("ns")
    val epochs = round(least(lit(4.0), share / col("n_tokens")), 6)
    perSrc.crossJoin(broadcast(totals))
      .select(col("source"), col("n_tokens"), epochs.as("epochs"),
        floor(epochs * col("n_tokens")).cast("long").as("planned_tokens"),
        round(greatest(lit(0.0), share - epochs * col("n_tokens")), 6)
          .as("leftover_budget"))
      .orderBy("source")
  }

  private val cEpochPlanSql =
    """WITH d AS (SELECT source,
      |    CASE WHEN trim(text) = '' THEN 0
      |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_tok
      |  FROM documents),
      |p AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM d GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total, COUNT(*) AS ns FROM p),
      |e AS (SELECT source, n_tokens, 2.0 * total / ns AS share,
      |    round(least(4.0, (2.0 * total / ns) / n_tokens), 6) AS epochs
      |  FROM p, t)
      |SELECT source, n_tokens, epochs,
      |  CAST(floor(epochs * n_tokens) AS BIGINT) AS planned_tokens,
      |  round(greatest(0.0, share - epochs * n_tokens), 6) AS leftover_budget
      |FROM e ORDER BY source""".stripMargin

  // --- c_token_budget: fill a fixed per-language token budget taking the
  // best documents first — the "cap each language's contribution" step of
  // mixture building. Docs rank by (alpha-quality desc, doc_id); a doc is
  // taken while the tokens BEFORE it stay under budget (so the budget may
  // be exceeded by at most one doc — the standard greedy fill). Quality is
  // one shared IEEE division and the cumulative sum is pure integers, so
  // selection is bit-identical across engines. Scale: the prefix sum is
  // the (lang, bucket) TWO-PASS pattern of x_pack — `lang` alone is a
  // handful of values and a dominant language would drag the whole corpus
  // through one task, so rows sub-bucket by a fixed quality band (floor is
  // monotone, so band order is consistent with the q-desc rank order),
  // pass 1 windows within each (lang, band) in parallel, pass 2 broadcasts
  // the tiny per-band token offsets. Output is bit-identical to the
  // single-window formulation the oracle states.
  def cTokenBudget(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val Budget = 2000L
    val d = GraftSession.table(s, dir, "documents")
    val m = d.select(col("doc_id"), col("lang"),
      wsTokenCount(col("text")).as("toks"),
      (alphaCount(col("text")).cast("double") /
        length(col("text")).cast("double")).as("q"))
      .withColumn("band", floor(col("q") * 64.0)) // q ∈ [0,1] ⇒ ≤65 bands
    val wLocal = Window.partitionBy("lang", "band")
      .orderBy(desc("q"), asc("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wOffset = Window.partitionBy("lang").orderBy(desc("band"))
      .rowsBetween(Window.unboundedPreceding, -1) // ≤65 rows per lang
    val offsets = m.groupBy("lang", "band").agg(sum("toks").as("band_toks"))
      .withColumn("off", coalesce(sum(col("band_toks")).over(wOffset), lit(0L)))
      .select("lang", "band", "off")
    m.withColumn("local_before", coalesce(sum("toks").over(wLocal), lit(0L)))
      .join(broadcast(offsets), Seq("lang", "band"))
      .withColumn("before", col("local_before") + col("off"))
      .filter(col("before") < Budget)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("toks").as("tokens_kept"),
        max(col("before") + col("toks")).as("fill_level"))
      .orderBy("lang")
  }

  private val cTokenBudgetSql =
    """WITH m AS (SELECT doc_id, lang,
      |    CAST(CASE WHEN trim(text) = '' THEN 0
      |      ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS toks,
      |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
      |      / CAST(length(text) AS DOUBLE) AS q
      |  FROM documents),
      |c AS (SELECT lang, toks, COALESCE(SUM(toks) OVER (PARTITION BY lang
      |    ORDER BY q DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS before
      |  FROM m)
      |SELECT lang, COUNT(*) AS n_kept, CAST(SUM(toks) AS BIGINT) AS tokens_kept,
      |  CAST(MAX(before + toks) AS BIGINT) AS fill_level
      |FROM c WHERE before < 2000 GROUP BY 1 ORDER BY 1""".stripMargin

  // --- c_dedup_mixture: mixture planning on UNIQUE tokens — the
  // dedup-aware refinement of c_mixture_plan. A source's raw token count
  // overstates its contribution when it holds duplicated content, so the
  // budget (half the UNIQUE corpus, split uniformly) allocates against
  // tokens of docs that survive exact dedup (global keeper = lowest
  // doc_id, the same rule as the funnel's stage 1). Dedup is one
  // fingerprint window, the rest is the mixture-plan shape: integer sums,
  // one shared double division, round(…,6) — bit-stable, O(sources).
  def cDedupMixture(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = wsTokenCount(col("text"))
    val wDedup = Window.partitionBy("fp").orderBy("doc_id")
    val perSrc = GraftSession.table(s, dir, "documents")
      .withColumn("fp", md5(normText(col("text"))))
      .withColumn("rn", row_number().over(wDedup))
      .select(col("source"), toks.as("n_tok"),
        when(col("rn") === 1, toks).otherwise(0L).as("u_tok"))
      .groupBy("source")
      .agg(sum("n_tok").as("n_tokens"), sum("u_tok").as("unique_tokens"))
    val totals = perSrc.agg(
      sum("unique_tokens").cast("double").as("total_u"), count(lit(1)).as("ns"))
    // Zero guards: a source whose content is ENTIRELY duplicated elsewhere
    // (unique_tokens = 0) keeps nothing — rate 0, not 0/0=Inf (which DuckDB
    // may render differently); a tokenless source has dup_ratio 0 by fiat.
    val rate = when(col("unique_tokens") === 0L, lit(0.0))
      .otherwise(round(least(lit(1.0),
        col("total_u") / (lit(2) * col("ns")) / col("unique_tokens")), 6))
    perSrc.crossJoin(broadcast(totals))
      .select(col("source"), col("n_tokens"), col("unique_tokens"),
        when(col("n_tokens") === 0L, lit(0.0))
          .otherwise(round(lit(1.0) -
            col("unique_tokens").cast("double") / col("n_tokens").cast("double"), 6))
          .as("dup_ratio"),
        rate.as("keep_rate"),
        floor(rate * col("unique_tokens")).cast("long").as("kept_tokens"))
      .orderBy("source")
  }

  private val cDedupMixtureSql =
    """WITH d AS (SELECT source, doc_id,
      |    CASE WHEN trim(text) = '' THEN 0
      |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_tok,
      |    ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
      |      ORDER BY doc_id) AS rn
      |  FROM documents),
      |p AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |    CAST(SUM(CASE WHEN rn = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS unique_tokens
      |  FROM d GROUP BY 1),
      |t AS (SELECT CAST(SUM(unique_tokens) AS DOUBLE) AS total_u, COUNT(*) AS ns FROM p)
      |SELECT source, n_tokens, unique_tokens,
      |  CASE WHEN n_tokens = 0 THEN 0.0
      |    ELSE round(1.0 - CAST(unique_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
      |  END AS dup_ratio,
      |  CASE WHEN unique_tokens = 0 THEN 0.0
      |    ELSE round(least(1.0, total_u / (2 * ns) / unique_tokens), 6)
      |  END AS keep_rate,
      |  CAST(floor(CASE WHEN unique_tokens = 0 THEN 0.0
      |    ELSE round(least(1.0, total_u / (2 * ns) / unique_tokens), 6)
      |  END * unique_tokens) AS BIGINT) AS kept_tokens
      |FROM p, t ORDER BY source""".stripMargin

  // --- c_cluster_keeper: quality-aware keeper selection per NEAR-dup
  // cluster — the dedup ACTION after clustering: within each transitive
  // near-dup component (d_neardup_clusters' fixpoint), keep the member
  // with the best alpha-quality (ties by doc_id), the "keep the best copy,
  // not the first copy" policy curation pipelines apply when crawl and
  // curated sources overlap. Components come from the pair graph (dup
  // clusters only, never the corpus); the keeper window runs over tiny
  // per-cluster member lists. Quality is one IEEE division of exact
  // integers — bit-stable, as everywhere in this family.
  def cClusterKeeper(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // unsorted labels: the keeper join/window doesn't care about order, so
    // dNeardupClusters' final global sort would be a dead exchange here
    val comps = graft.dedup.Dedup.neardupClusterLabels(s, dir)
    val q = GraftSession.table(s, dir, "documents").select(
      col("doc_id"), col("source"),
      (alphaCount(col("text")).cast("double") /
        length(col("text")).cast("double")).as("q"))
    val w = Window.partitionBy("cluster_id").orderBy(desc("q"), asc("doc_id"))
    comps.join(q, "doc_id")
      .withColumn("rn", row_number().over(w))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        min_by(col("doc_id"), col("rn")).as("keep_doc"),
        min_by(col("source"), col("rn")).as("keep_source"))
      .orderBy("cluster_id")
  }

  private val cClusterKeeperSql =
    """WITH RECURSIVE d AS (SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
      |  FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      |  FROM d),
      |shf AS (SELECT doc_id, s FROM sh WHERE s IN (
      |    SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100)),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY 1),
      |co AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
      |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |pr AS (SELECT da, db FROM co
      |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
      |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5),
      |e AS (SELECT da AS a, db AS b FROM pr UNION ALL SELECT db, da FROM pr),
      |reach AS (
      |  SELECT DISTINCT a AS v, a AS u FROM e
      |  UNION
      |  SELECT r.v, e.b AS u FROM reach r JOIN e ON e.a = r.u),
      |comp AS (SELECT v AS doc_id, MIN(u) AS cluster_id FROM reach GROUP BY 1),
      |m AS (SELECT comp.cluster_id, comp.doc_id, doc.source,
      |    CAST(length(regexp_replace(doc.text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
      |      / length(doc.text) AS q
      |  FROM comp JOIN documents doc ON doc.doc_id = comp.doc_id),
      |r AS (SELECT cluster_id, doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rn
      |  FROM m)
      |SELECT cluster_id, COUNT(*) AS n_docs,
      |  MIN(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc,
      |  MIN(CASE WHEN rn = 1 THEN source END) AS keep_source
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // --- c_curriculum_plan: curriculum ordering of sources — sources rank
  // by mean alpha-quality (one IEEE division of the same exact integer
  // sums on both engines, so the order is deterministic; ties break on
  // source) and split into three training phases
  // (early/mid/late thirds by NTILE): the "clean data last" annealing
  // schedule a pretraining run feeds its sampler. O(sources) output; the
  // only non-integer is the reported mean itself, one shared division.
  def cCurriculumPlan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSrc = GraftSession.table(s, dir, "documents")
      .select(col("source"), wsTokenCount(col("text")).as("n_tok"),
        length(col("text")).cast("long").as("chars"),
        alphaCount(col("text")).cast("long").as("alpha"))
      .groupBy("source")
      .agg(sum("n_tok").as("n_tokens"), sum("chars").as("sum_chars"),
        sum("alpha").as("sum_alpha"))
    // quality = sum_alpha/sum_chars; rank DESC on the exact ratio via the
    // double division (deterministic IEEE — both engines divide the same
    // integers), ties broken on source
    val q = col("sum_alpha").cast("double") / col("sum_chars").cast("double")
    val w = Window.orderBy(desc("quality"), asc("source"))
    perSrc
      .withColumn("quality", round(q, 6))
      .withColumn("phase", ntile(3).over(w).cast("long"))
      .select(col("source"), col("n_tokens"), col("quality"),
        col("phase"),
        when(col("phase") === 1, "late").when(col("phase") === 2, "mid")
          .otherwise("early").as("phase_name"))
      .orderBy("source")
  }

  private val cCurriculumPlanSql =
    """WITH d AS (SELECT source,
      |    CASE WHEN trim(text) = '' THEN 0
      |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_tok,
      |    CAST(length(text) AS BIGINT) AS chars,
      |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha
      |  FROM documents),
      |p AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |    CAST(SUM(chars) AS BIGINT) AS sum_chars, CAST(SUM(alpha) AS BIGINT) AS sum_alpha
      |  FROM d GROUP BY 1),
      |r AS (SELECT source, n_tokens,
      |    round(CAST(sum_alpha AS DOUBLE) / CAST(sum_chars AS DOUBLE), 6) AS quality,
      |    CAST(NTILE(3) OVER (ORDER BY CAST(sum_alpha AS DOUBLE) / CAST(sum_chars AS DOUBLE) DESC,
      |      source) AS BIGINT) AS phase
      |  FROM p)
      |SELECT source, n_tokens, quality, phase,
      |  CASE WHEN phase = 1 THEN 'late' WHEN phase = 2 THEN 'mid' ELSE 'early' END AS phase_name
      |FROM r ORDER BY source""".stripMargin

  // --- c_incr_curation: the curation funnel run INCREMENTALLY over table
  // commits — documents land in a lakehouse table in waves, and each wave
  // is curated by reading ONLY the incremental slice and deduping it
  // against a seen-fingerprint set (within-wave: lowest doc_id by window;
  // cross-wave: first-seen-wins anti-join — the fingerprint-index pattern
  // that makes exact dedup O(new batch) instead of O(corpus) per
  // ingestion). Because waves arrive in doc_id order, first-seen-wins
  // composes to exactly the batch funnel's lowest-doc-id rule, so the
  // oracle is the BATCH funnel over the full corpus: the hash check
  // proves the incremental pipeline recomputes nothing and loses nothing.
  // At 100 TB this is the only viable shape — per ingestion the work is
  // O(wave + wave-sized probes of the fp index), never a corpus rescan.
  def cIncrCuration(s: SparkSession, dir: String): DataFrame = {
    import graft.tables.{GraftTable, GraftTableConfig}
    import org.apache.spark.sql.expressions.Window
    val docsAll = GraftSession.table(s, dir, "documents")
    val embs = GraftSession.table(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val root = "/tmp/graft_tables/c_incr_curation_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = GraftTable(s, GraftTableConfig(root, "doc_id", "doc_id"))
    tbl.dropIfExists()
    val mid = 250L
    val i1 = tbl.insert(docsAll.filter(col("doc_id") < mid), numFiles = 2)
    val i2 = tbl.insert(docsAll.filter(col("doc_id") >= mid), numFiles = 2)

    val nChars = length(col("text")).cast("long")
    val alpha = alphaCount(col("text")).cast("long")
    val keepRate = when(col("lang") === "en", 80)
      .when(col("lang") === "zh", 50).otherwise(25)
    val wDedup = Window.partitionBy("fp").orderBy("doc_id")
    // one wave: dedup within the slice, then against the fps already kept
    def curateWave(slice: DataFrame, seenFps: Option[DataFrame]): DataFrame = {
      val inWave = slice
        .withColumn("fp", md5(normText(col("text"))))
        .withColumn("rn", row_number().over(wDedup))
        .filter(col("rn") === 1)
      val unseen = seenFps match {
        case Some(seen) => inWave.join(seen, Seq("fp"), "left_anti")
        case None => inWave
      }
      unseen
        .filter(nChars >= 64 &&
          alpha.cast("double") / nChars.cast("double") > 0.6)
        .filter(pmod(col("doc_id") * 2654435761L % 1000000007L, lit(100)) < keepRate)
        .join(embs, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("label"),
          nChars.as("n_chars_calc"), col("fp"))
    }
    val wave1 = curateWave(tbl.incremental(graft.tables.Timeline.pad(0L), i1), None)
      .cache() // feeds the seen-fp index AND the final union
    // the fp index carries EVERY wave-1 fingerprint (kept or filtered):
    // a doc that failed the quality gate still claims its content, exactly
    // as the batch window's lowest-doc-id rule does
    val seen1 = tbl.incremental(graft.tables.Timeline.pad(0L), i1)
      .select(md5(normText(col("text"))).as("fp")).distinct()
    val wave2 = curateWave(tbl.incremental(i1, i2), Some(seen1))
    wave1.unionAll(wave2).orderBy("doc_id")
  }

  // --- c_funnel_stages: the curation funnel's survival report — docs and
  // tokens remaining after each stage (raw → dedup → quality → sample →
  // embedded), with the share of raw docs. The ops run the funnel; THIS is
  // the number a curation review actually reads ("where did the corpus
  // go?"). One pass computes every stage flag cumulatively into a CACHED
  // frame; the five per-stage aggregates read that cache, so no stage
  // re-scans the corpus. Integer counts, one rounded share division.
  def cFunnelStages(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = GraftSession.table(s, dir, "documents")
    val embIds = GraftSession.table(s, dir, "embeddings").select(col("vec_id"))
    val nChars = length(col("text")).cast("long")
    val alpha = alphaCount(col("text")).cast("long")
    val keepRate = when(col("lang") === "en", 80)
      .when(col("lang") === "zh", 50).otherwise(25)
    val wDedup = Window.partitionBy("fp").orderBy("doc_id")
    val staged = docs
      .withColumn("fp", md5(normText(col("text"))))
      .withColumn("s_dedup", row_number().over(wDedup) === 1)
      .withColumn("s_quality", col("s_dedup") && nChars >= 64 &&
        alpha.cast("double") / nChars.cast("double") > 0.6)
      .withColumn("s_sample", col("s_quality") &&
        pmod(col("doc_id") * 2654435761L % 1000000007L, lit(100)) < keepRate)
      .join(embIds.withColumn("has_emb", lit(true)),
        col("doc_id") === col("vec_id"), "left")
      .withColumn("s_embedded", col("s_sample") && coalesce(col("has_emb"), lit(false)))
      .withColumn("n_tok", wsTokenCount(col("text")))
      .cache() // five stage aggregates read this once, not five corpus re-scans
    val stages = Seq(
      ("1_raw", lit(true)), ("2_dedup", col("s_dedup")),
      ("3_quality", col("s_quality")), ("4_sample", col("s_sample")),
      ("5_embedded", col("s_embedded")))
    val total = docs.agg(count(lit(1)).cast("double").as("total_docs"))
    stages.map { case (name, flag) =>
      staged.filter(flag)
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .crossJoin(broadcast(total))
        .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"),
          round(col("n_docs").cast("double") / col("total_docs"), 6).as("doc_share"))
    }.reduce(_ unionAll _).orderBy("stage")
  }

  private val cFunnelStagesSql =
    """WITH base AS (SELECT doc_id, lang, text,
      |    CASE WHEN trim(text) = '' THEN 0
      |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_tok,
      |    ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
      |      ORDER BY doc_id) = 1 AS s_dedup
      |  FROM documents),
      |st AS (SELECT doc_id, n_tok, s_dedup,
      |    s_dedup AND length(text) >= 64
      |      AND CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
      |        / CAST(length(text) AS DOUBLE) > 0.6 AS s_quality,
      |    s_dedup AND length(text) >= 64
      |      AND CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
      |        / CAST(length(text) AS DOUBLE) > 0.6
      |      AND ((doc_id * 2654435761) % 1000000007) % 100 <
      |        CASE WHEN lang = 'en' THEN 80 WHEN lang = 'zh' THEN 50 ELSE 25 END AS s_sample
      |  FROM base),
      |st2 AS (SELECT st.*, st.s_sample AND ev.vec_id IS NOT NULL AS s_embedded
      |  FROM st LEFT JOIN embeddings ev ON st.doc_id = ev.vec_id),
      |t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total_docs FROM documents)
      |SELECT stage, n_docs, n_tokens, round(CAST(n_docs AS DOUBLE) / total_docs, 6) AS doc_share
      |FROM (
      |  SELECT '1_raw' AS stage, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM st2
      |  UNION ALL SELECT '2_dedup', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM st2 WHERE s_dedup
      |  UNION ALL SELECT '3_quality', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM st2 WHERE s_quality
      |  UNION ALL SELECT '4_sample', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM st2 WHERE s_sample
      |  UNION ALL SELECT '5_embedded', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM st2 WHERE s_embedded
      |), t ORDER BY stage""".stripMargin

  // --- c_dataset_card: the per-source dataset card a pipeline publishes
  // with every training-data release — volume (docs/chars/tokens),
  // exact-dup mass, language spread, and the dominant language — composed
  // as two |sources|-sized aggregates joined at the end. The per-row work
  // (md5 fingerprint, token count) is codegen'd; the shuffles carry only
  // per-(source[,lang,fp]) partial aggregates, so at 100 TB the pass is
  // scan-bound with map-side combine, and the final join is
  // |sources|×|sources| — broadcast trivially.
  def cDatasetCard(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = GraftSession.table(s, dir, "documents")
      .select(col("source"), col("lang"), col("n_chars"),
        md5(normText(col("text"))).as("fp"),
        wsTokenCount(col("text")).as("tok"))
    val bySource = d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("total_chars"),
      sum(col("tok")).as("total_tokens"),
      countDistinct(col("fp")).as("n_unique"),
      countDistinct(col("lang")).as("n_langs"))
    val w = Window.partitionBy("source").orderBy(desc("n"), asc("lang"))
    val topLang = d.groupBy("source", "lang").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("n").as("top_lang_docs"))
    bySource.join(topLang, Seq("source"))
      .select(col("source"), col("n_docs"), col("total_chars"), col("total_tokens"),
        (col("n_docs") - col("n_unique")).as("dup_docs"),
        col("n_langs"), col("top_lang"), col("top_lang_docs"))
      .orderBy("source")
  }

  private val cDatasetCardSql =
    """WITH b AS (SELECT source, lang, n_chars,
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
      |    CASE WHEN trim(text) = '' THEN 0
      |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS tok
      |  FROM documents),
      |a AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |    CAST(SUM(tok) AS BIGINT) AS total_tokens,
      |    COUNT(DISTINCT fp) AS n_unique, COUNT(DISTINCT lang) AS n_langs
      |  FROM b GROUP BY 1),
      |t AS (SELECT source, lang AS top_lang, n AS top_lang_docs FROM (
      |    SELECT source, lang, COUNT(*) AS n,
      |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY COUNT(*) DESC, lang) AS rn
      |    FROM b GROUP BY source, lang) WHERE rn = 1)
      |SELECT a.source, n_docs, total_chars, total_tokens,
      |  n_docs - n_unique AS dup_docs, n_langs, top_lang, top_lang_docs
      |FROM a JOIN t ON a.source = t.source ORDER BY a.source""".stripMargin

  override val all: Seq[QueryDef] = Seq(
    QueryDef("c_dataset_card", cDatasetCard, Some(cDatasetCardSql)),
    QueryDef("c_funnel_stages", cFunnelStages, Some(cFunnelStagesSql)),
    QueryDef("c_incr_curation", cIncrCuration, Some(cCurationFunnelSql)),
    QueryDef("c_cluster_keeper", cClusterKeeper, Some(cClusterKeeperSql)),
    QueryDef("c_curriculum_plan", cCurriculumPlan, Some(cCurriculumPlanSql)),
    QueryDef("c_dedup_mixture", cDedupMixture, Some(cDedupMixtureSql)),
    QueryDef("c_curation_funnel", cCurationFunnel, Some(cCurationFunnelSql)),
    QueryDef("c_token_budget", cTokenBudget, Some(cTokenBudgetSql)),
    QueryDef("c_mixture_plan", cMixturePlan, Some(cMixturePlanSql)),
    QueryDef("c_epoch_plan", cEpochPlan, Some(cEpochPlanSql)))
}
