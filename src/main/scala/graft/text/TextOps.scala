package graft.text

import graft.{GraftSession, QueryDef, QueryRegistry}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.E — per-document text analysis for LLM-data pipelines.
  * All pure, codegen'd per-row expressions: no shuffle except the final
  * aggregations, so these scan at parquet speed at any scale.
  */
object TextOps extends QueryRegistry {

  // spread: tokenization/normText chains fuse into the scan stage — a
  // single-file scan runs them on one core (GraftSession.spread; guide §2.5)
  private def docs(s: SparkSession, dir: String): DataFrame =
    GraftSession.table(s, dir, "documents")

  /** Spread variant for the handful of ops whose per-row regex/shingle
    * cost dominates the scan stage (battery-order A/B: x_repetition
    * 1.71->0.75 s, x_gopher 1.25->0.74, x_boilerplate, x_readability);
    * the lighter tokenization ops measured FASTER without the extra
    * exchange, so spread is per-op here, not family-wide. */
  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    GraftSession.spread(GraftSession.table(s, dir, "documents"))

  /** Canonical text normalization shared by all dedup/text operators:
    * collapse whitespace, trim, lowercase. DuckDB twin:
    * `lower(trim(regexp_replace(text, '\s+', ' ', 'g')))`. */
  def normText(c: Column): Column = lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Whitespace-token count of a text column: 0 for blank text, else the
    * pieces of the trimmed text split on whitespace runs. DuckDB twin:
    * `CASE WHEN trim(text) = '' THEN 0
    * ELSE len(string_split_regex(trim(text), '\s+')) END`. */
  def wsTokenCount(c: Column): Column =
    when(trim(c) === "", 0L).otherwise(size(split(trim(c), "\\s+")).cast("long"))

  /** ASCII-letter count of a text column (an int; callers cast). DuckDB
    * twin: `length(regexp_replace(text, '[^A-Za-z]', '', 'g'))`. */
  def alphaCount(c: Column): Column = length(regexp_replace(c, "[^A-Za-z]", ""))

  private val normSql = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  // --- x_fingerprint: stable content fingerprint of the normalized text.
  def xFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), md5(normText(col("text"))).as("fp"))
      .orderBy("doc_id")

  private val xFingerprintSql =
    s"SELECT doc_id, md5($normSql) AS fp FROM documents ORDER BY doc_id"

  // --- x_tokens: whitespace tokens + BPE-ish regex tokens + chars.
  def xTokens(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_calc"),
      wsTokenCount(col("text")).as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))
        .cast("long").as("re_tokens"))
      .orderBy("doc_id")
  }

  private val xTokensSql =
    """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_calc,
      |  CASE WHEN trim(text) = '' THEN 0
      |       ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS re_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- x_quality: length/alpha/stopword heuristics (pure arithmetic, so the
  // ratios are bit-identical across engines).
  def xQuality(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val nChars = length(col("text")).cast("long")
    val alpha = alphaCount(col("text")).cast("long")
    val stops = size(regexp_extract_all(lower(col("text")),
      lit("\\b(the|a|an|and|or|of|to|in|is|for|on|with)\\b"))).cast("long")
    val wsTokens = wsTokenCount(col("text"))
    d.select(
      col("doc_id"),
      nChars.as("n_chars_calc"),
      when(nChars === 0, lit(null)).otherwise(alpha.cast("double") / nChars.cast("double"))
        .as("alpha_ratio"),
      when(wsTokens === 0, lit(null)).otherwise(stops.cast("double") / wsTokens.cast("double"))
        .as("stop_ratio"))
      .orderBy("doc_id")
  }

  private val xQualitySql =
    """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_calc,
      |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
      |    / nullif(CAST(length(text) AS DOUBLE), 0) AS alpha_ratio,
      |  CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|to|in|is|for|on|with)\b')) AS DOUBLE)
      |    / nullif(CAST(CASE WHEN trim(text) = '' THEN 0
      |        ELSE len(string_split_regex(trim(text), '\s+')) END AS DOUBLE), 0) AS stop_ratio
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- x_langid: stopword/CJK-scored language ID, confusion matrix vs the
  // labeled lang column. Deterministic argmax (fixed tie-break order).
  def xLangid(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val lower0 = lower(col("text"))
    def hits(pat: String): Column = size(regexp_extract_all(lower0, lit(pat))).cast("long")
    val sEn = hits("\\b(the|and|of|to)\\b")
    val sEs = hits("\\b(el|la|los|que)\\b")
    val sFr = hits("\\b(le|les|et|une)\\b")
    val sDe = hits("\\b(der|die|und|das)\\b")
    val sZh = size(regexp_extract_all(col("text"), lit("[一-鿿]"), lit(0))).cast("long")
    val m = greatest(sDe, sEn, sEs, sFr, sZh)
    val pred = when(sDe === m, "de").when(sEn === m, "en")
      .when(sEs === m, "es").when(sFr === m, "fr").otherwise("zh")
    d.select(col("lang"), pred.as("pred"))
      .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred")
  }

  private val xLangidSql =
    """WITH s AS (SELECT lang,
      |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to)\b')) AS BIGINT) AS s_en,
      |  CAST(len(regexp_extract_all(lower(text), '\b(el|la|los|que)\b')) AS BIGINT) AS s_es,
      |  CAST(len(regexp_extract_all(lower(text), '\b(le|les|et|une)\b')) AS BIGINT) AS s_fr,
      |  CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das)\b')) AS BIGINT) AS s_de,
      |  CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS s_zh
      |  FROM documents),
      |p AS (SELECT lang,
      |  CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
      |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
      |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
      |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
      |       ELSE 'zh' END AS pred
      |  FROM s)
      |SELECT lang, pred, COUNT(*) AS n FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- x_domain_route: lexicon-density domain routing — the cheap-classifier
  // pass that splits a crawl into domain buckets before per-domain curation
  // (the fastText-classifier slot in CCNet-style pipelines, here a
  // transparent lexicon so the oracle can state it). Each doc scores three
  // domain lexicons by codegen'd regex hit counts and routes to the argmax
  // (fixed tie-break: relational > storage > streaming); output is the
  // per-source routing table with the winning domain's hit mass. Pure
  // per-row work + one |sources×domains|-sized aggregate — no shuffle
  // carries document text, so the pass is scan-bound at 100 TB exactly
  // like x_langid.
  def xDomainRoute(s: SparkSession, dir: String): DataFrame = {
    val lower0 = lower(col("text"))
    def hits(pat: String): Column = size(regexp_extract_all(lower0, lit(pat))).cast("long")
    val rel = hits("\\b(join|filter|merge|sort|agg|group|query|window)\\b")
    val sto = hits("\\b(table|row|column|part|scan|key|value|batch)\\b")
    val str = hits("\\b(stream|event|data|order|customer|line)\\b")
    val m = greatest(rel, sto, str)
    val domain = when(rel === m, "relational").when(sto === m, "storage")
      .otherwise("streaming")
    val routedHits = when(rel === m, rel).when(sto === m, sto).otherwise(str)
    docs(s, dir)
      .select(col("source"), domain.as("domain"), routedHits.as("h"))
      .groupBy("source", "domain")
      .agg(count(lit(1)).as("n_docs"), sum(col("h")).as("domain_hits"))
      .orderBy("source", "domain")
  }

  private val xDomainRouteSql =
    """WITH s AS (SELECT source,
      |  CAST(len(regexp_extract_all(lower(text), '\b(join|filter|merge|sort|agg|group|query|window)\b')) AS BIGINT) AS h_rel,
      |  CAST(len(regexp_extract_all(lower(text), '\b(table|row|column|part|scan|key|value|batch)\b')) AS BIGINT) AS h_sto,
      |  CAST(len(regexp_extract_all(lower(text), '\b(stream|event|data|order|customer|line)\b')) AS BIGINT) AS h_str
      |  FROM documents),
      |p AS (SELECT source,
      |  CASE WHEN h_rel = greatest(h_rel, h_sto, h_str) THEN 'relational'
      |       WHEN h_sto = greatest(h_rel, h_sto, h_str) THEN 'storage'
      |       ELSE 'streaming' END AS domain,
      |  CASE WHEN h_rel = greatest(h_rel, h_sto, h_str) THEN h_rel
      |       WHEN h_sto = greatest(h_rel, h_sto, h_str) THEN h_sto
      |       ELSE h_str END AS h
      |  FROM s)
      |SELECT source, domain, COUNT(*) AS n_docs, CAST(SUM(h) AS BIGINT) AS domain_hits
      |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- x_vocab: corpus vocabulary with counts, top 100 (tokenizer prep).
  // One explode + one hash agg — map-side partial aggregation keeps the
  // shuffle at |vocab|, not |tokens|.
  def xVocab(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(split(normText(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("token"))
      .limit(100)

  private val xVocabSql =
    """SELECT token, COUNT(*) AS n FROM (
      |  SELECT unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS token
      |  FROM documents)
      |WHERE token <> '' GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin

  // --- x_redact: PII scrubbing (emails, long digit runs) — the standard
  // pre-training cleanup pass; pure per-row codegen'd regex.
  def xRedact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"), "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "\\d{6,}", "<NUM>").as("clean_text"))
      .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
        length(col("clean_text")).cast("long").as("clean_chars"))
      .orderBy("doc_id")

  private val xRedactSql =
    """SELECT doc_id,
      |  md5(regexp_replace(regexp_replace(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\d{6,}', '<NUM>', 'g')) AS clean_md5,
      |  CAST(length(regexp_replace(regexp_replace(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\d{6,}', '<NUM>', 'g')) AS BIGINT) AS clean_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- x_sample_mix: deterministic stratified sampling for training-data
  // mixes — per-language keep rates applied via a stable key-derived
  // residue (reproducible across runs and engines, no RNG).
  def xSampleMix(s: SparkSession, dir: String): DataFrame = {
    val rate = when(col("lang") === "en", 80)
      .when(col("lang") === "zh", 50)
      .otherwise(25)
    docs(s, dir)
      .filter(pmod(col("doc_id") * 2654435761L % 1000000007L, lit(100)) < rate)
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      .orderBy("lang")
  }

  private val xSampleMixSql =
    """SELECT lang, COUNT(*) AS n_kept FROM documents
      |WHERE ((doc_id * 2654435761) % 1000000007) % 100 <
      |  CASE WHEN lang = 'en' THEN 80 WHEN lang = 'zh' THEN 50 ELSE 25 END
      |GROUP BY lang ORDER BY lang""".stripMargin

  // --- x_pack: greedy context-window packing — assign docs (in stable
  // doc_id order, per language) to ~2048-token training sequences via a
  // running token-count window; the standard pretraining batch-prep step.
  // The running sum is a TWO-PASS distributed prefix sum: pass 1 windows
  // within (lang, bucket) sub-shards — bucket is a monotone doc_id range,
  // so order is preserved — pass 2 aggregates per-bucket totals (tiny) and
  // broadcast-joins each bucket's starting offset back. Parallelism scales
  // with data volume instead of #langs: a single `partitionBy(lang)` window
  // would push the dominant language of a 100 TB corpus through ONE task.
  def xPack(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = docs(s, dir)
      .withColumn("n_tok", wsTokenCount(col("text")))
      .withColumn("bkt", floor(col("doc_id") / 1024L))
    val wLocal = Window.partitionBy("lang", "bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOffset = Window.partitionBy("lang").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy("lang", "bkt")
      .agg(sum("n_tok").as("bkt_tok"))
      .withColumn("off", coalesce(sum(col("bkt_tok")).over(wOffset), lit(0L)))
      .select("lang", "bkt", "off")
    bucketed
      .withColumn("run_local", sum(col("n_tok")).over(wLocal))
      .join(broadcast(offsets), Seq("lang", "bkt"))
      .withColumn("seq_id", floor((col("run_local") + col("off") - 1) / 2048L))
      .groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .orderBy("lang", "seq_id")
  }

  private val xPackSql =
    """WITH t AS (SELECT lang, doc_id,
      |    CASE WHEN trim(text) = '' THEN 0
      |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_tok
      |  FROM documents),
      |r AS (SELECT lang, n_tok,
      |    (CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1) // 2048 AS seq_id
      |  FROM t)
      |SELECT lang, seq_id, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- x_decontaminate: benchmark decontamination — flag training docs
  // sharing any 5-word shingle with the held-out eval set (doc_id % 19 = 0),
  // the standard test-set-overlap check before pretraining. Shingles are
  // hashed to 64-bit ids on the Spark side (never materialized as strings),
  // and the join is shingle-blocked — no train×eval cross product, so at
  // 100 TB the cost is one shuffle of hashed shingles (the eval side is
  // tiny and broadcast).
  def xDecontaminate(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val sh = docs(s, dir)
      .select(col("doc_id"), explode(expr("shingle_hash(lower(text), 5)")).as("sh"))
    val eval0 = sh.filter(col("doc_id") % 19 === 0).toDF("eval_id", "sh")
    val train = sh.filter(col("doc_id") % 19 =!= 0)
    train.join(broadcast(eval0), Seq("sh"))
      .groupBy("doc_id")
      .agg(countDistinct("eval_id").as("n_eval_hits"))
      .orderBy("doc_id")
  }

  private val xDecontaminateSql =
    """WITH d AS (SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
      |  FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(w)-3),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS s
      |  FROM d)
      |SELECT t.doc_id, COUNT(DISTINCT e.doc_id) AS n_eval_hits
      |FROM sh t JOIN sh e ON t.s = e.s
      |WHERE t.doc_id % 19 <> 0 AND e.doc_id % 19 = 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- x_repetition: intra-document repetition — the fraction of repeated
  // word 3-grams per doc (1 - distinct/total), the standard boilerplate /
  // degenerate-text quality signal (high repetition = low-quality training
  // text). Pure per-row array expressions: no shuffle at all, scans at
  // parquet speed at any corpus size.
  def xRepetition(s: SparkSession, dir: String): DataFrame = {
    val grams = when(size(col("w")) >= 3,
      expr("transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"))
      .otherwise(array().cast("array<string>"))
    docsSpread(s, dir)
      .select(col("doc_id"), split(normText(col("text")), " ").as("w"))
      .select(col("doc_id"),
        size(grams).cast("long").as("n_grams"),
        size(array_distinct(grams)).cast("long").as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_grams") === 0, lit(null))
          .otherwise(lit(1.0) - col("n_distinct").cast("double") / col("n_grams").cast("double")))
      .orderBy("doc_id")
  }

  private val xRepetitionSql =
    """WITH d AS (SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
      |  FROM documents),
      |g AS (SELECT doc_id,
      |    CASE WHEN len(w) >= 3 THEN list_transform(range(1, len(w)-1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [] END AS grams
      |  FROM d)
      |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
      |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
      |  CASE WHEN len(grams) = 0 THEN NULL
      |       ELSE 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE)
      |  END AS rep_ratio
      |FROM g ORDER BY doc_id""".stripMargin

  // --- x_source_stats: per-source corpus accounting — docs, tokens, and
  // how much of each source is duplicated content (its share of docs whose
  // normalized text also appears elsewhere in the corpus). The standard
  // mixture-design dashboard before weighting sources. One hash agg for
  // global dup counts rejoined on the hash (an equi-join on the agg's own
  // partitioning — NOT a forced broadcast: |distinct hashes| ≈ |docs|, far
  // beyond broadcast range at corpus scale; AQE may still broadcast small
  // runs), one group-by source.
  def xSourceStats(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      md5(normText(col("text"))).as("h"),
      wsTokenCount(col("text")).as("n_tok"))
    val dupHashes = d.groupBy("h").agg(count(lit(1)).as("cnt"))
    d.join(dupHashes, Seq("h"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .orderBy("source")
  }

  private val xSourceStatsSql =
    """WITH d AS (SELECT doc_id, source,
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h,
      |    CASE WHEN trim(text) = '' THEN 0
      |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_tok
      |  FROM documents),
      |c AS (SELECT h, COUNT(*) AS cnt FROM d GROUP BY h)
      |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
      |FROM d JOIN c USING (h)
      |GROUP BY source ORDER BY source""".stripMargin

  // --- x_source_overlap: which sources copy from which — for each source
  // pair, the number of distinct 5-word shingles present in BOTH (dedup
  // attribution / provenance overlap for mixture design). The join is
  // shingle-blocked (only shingles appearing in 2+ sources expand), never
  // |docs|²; Spark works on 64-bit shingle hashes (never materializing
  // shingle strings), the oracle on the strings — same counts.
  def xSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val raw = docs(s, dir)
      .select(col("source"), explode(expr("shingle_hash(lower(text), 5)")).as("sh"))
      .distinct()
    // Hot-shingle cap: a shingle present in more than MaxShingleSources
    // sources is corpus-wide boilerplate ("of the and of the") — it carries
    // no pairwise attribution signal and contributes a k²-row block to the
    // self-join. Dropping it bounds every block to MaxShingleSources² rows
    // at any corpus size; the oracle mirrors the cap. (Test data has far
    // fewer sources than the cap, so it is semantics-neutral there.)
    val hot = raw.groupBy("sh").agg(count(lit(1)).as("nf"))
      .filter(col("nf") > MaxShingleSources).select("sh")
    // using-column joins emit the join key FIRST — re-pin (source, sh) so
    // the positional toDF renames below stay honest
    val sh = raw.join(hot, Seq("sh"), "left_anti").select("source", "sh")
    // (source, shingle) is distinct, so the pair count IS the distinct count
    sh.toDF("sa", "sh").join(sh.toDF("sb", "sh"), Seq("sh"))
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("n_shared"))
      .orderBy("sa", "sb")
  }

  /** See the hot-shingle df cap note on xSourceOverlap. */
  private[text] val MaxShingleSources = 32

  private val xSourceOverlapSql =
    """WITH d AS (SELECT source,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
      |  FROM documents),
      |sh AS (SELECT DISTINCT source, unnest(list_distinct(
      |    list_transform(range(1, len(w)-3),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS s
      |  FROM d WHERE len(w) >= 5),
      |shf AS (SELECT source, s FROM sh WHERE s IN (
      |    SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 32))
      |SELECT a.source AS sa, b.source AS sb, COUNT(*) AS n_shared
      |FROM shf a JOIN shf b ON a.s = b.s AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- x_lm_score: corpus-trained bigram-LM coherence score — the
  // model-free stand-in for perplexity filtering (CCNet/Gopher use a
  // KenLM; here the corpus IS the model): train bigram conditional
  // frequencies over the whole corpus, then score each doc by the mean
  // conditional probability of its bigrams. Degenerate/boilerplate text
  // scores high, shuffled-word salad scores low. Per-bigram probabilities
  // are integer-quantized (round(1e6·c12/c1)) BEFORE the per-doc mean so
  // the aggregation is an order-free integer sum — cross-engine
  // deterministic; the final mean is one exact int/int double division.
  // Scale: two count aggregations + two equi-joins keyed by words —
  // O(tokens) shuffle; hot stopword keys ride AQE's skew handling, and
  // the count tables are Zipf-bounded far below O(vocab²).
  def xLmScore(s: SparkSession, dir: String): DataFrame = {
    val big = docs(s, dir)
      .select(col("doc_id"), split(normText(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w)-2), i -> struct(w[i] AS w1, w[i+1] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = big.groupBy("w1").agg(count(lit(1)).as("c1"))
    big.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .select(col("doc_id"),
        round(lit(1000000.0) * col("c12") / col("c1")).cast("bigint").as("q"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum("q") / count(lit(1))).as("lm_q6"))
      .orderBy("doc_id")
  }

  private val xLmScoreSql =
    """WITH d AS (SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
      |  FROM documents),
      |b AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
      |    i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS bg
      |  FROM d WHERE len(w) >= 2),
      |bb AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM b),
      |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bb GROUP BY 1, 2),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bb GROUP BY 1),
      |q AS (SELECT doc_id,
      |    CAST(round(1000000.0 * c12.c12 / c1.c1) AS BIGINT) AS q
      |  FROM bb JOIN c12 USING (w1, w2) JOIN c1 USING (w1))
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  SUM(q) / COUNT(*) AS lm_q6
      |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --- x_chunk: context-window chunking (RAG / long-context training
  // prep): fixed 512-char windows on a 384-char stride (128 overlap), each
  // chunk fingerprinted for downstream dedup. Pure per-row explode +
  // substring — no shuffle, O(total chars) rows, embarrassingly parallel
  // at any corpus size. The overlap means a span crossing a boundary is
  // fully inside SOME chunk (up to 128 chars), the standard retrieval
  // chunking contract.
  def xChunk(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(0, greatest(length(text) - 1, 0), 384)")).as("p"))
      .select(col("doc_id"), (col("p") / 384).cast("long").as("chunk_idx"),
        length(expr("substring(text, p + 1, 512)")).cast("long").as("chunk_chars"),
        md5(expr("substring(text, p + 1, 512)")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  private val xChunkSql =
    """SELECT doc_id, CAST(p / 384 AS BIGINT) AS chunk_idx,
      |  CAST(length(substr(text, p + 1, 512)) AS BIGINT) AS chunk_chars,
      |  md5(substr(text, p + 1, 512)) AS chunk_md5
      |FROM (SELECT doc_id, text,
      |    unnest(range(0, greatest(length(text) - 1, 0) + 1, 384)) AS p
      |  FROM documents)
      |ORDER BY doc_id, chunk_idx""".stripMargin

  // --- x_bpe_pairs: one BPE merge step over the corpus — the most
  // frequent ADJACENT token pairs (what a tokenizer trainer would merge
  // next). Pairs come from one explode over per-doc token arrays (posexplode
  // keeps adjacency without a self-join); the count is a map-side-combinable
  // hash agg, so the shuffle carries (pair, partial count), never tokens.
  def xBpePairs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(split(normText(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), i -> struct(w[i-1] as w1, w[i] as w2))")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("w1"), asc("w2"))
      .limit(50)

  private val xBpePairsSql =
    """SELECT bg.w1 AS w1, bg.w2 AS w2, COUNT(*) AS n FROM (
      |  SELECT unnest(list_transform(range(1, len(w)),
      |      i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS bg
      |  FROM (SELECT string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
      |    FROM documents)
      |  WHERE len(w) >= 2)
      |WHERE bg.w1 <> '' AND bg.w2 <> ''
      |GROUP BY 1, 2 ORDER BY n DESC, w1, w2 LIMIT 50""".stripMargin

  // --- x_tfidf: per-document top-5 terms by TF-IDF — the classic
  // keyword/feature-extraction primitive (x_vocab is the raw dictionary;
  // this weights it). tf comes from one (doc, term) hash agg, df is a
  // count over that already-reduced table (shuffles carry aggregates,
  // never re-tokenized text), N is a 1-row broadcast. The score is exact
  // integers (tf·N) through ONE IEEE double division by df, so ranking
  // ties are impossible to mis-order across engines; rank breaks ties on
  // the term itself. (Raw tf·N/df rather than a log-damped idf keeps the
  // oracle float-free — log differs by 1 ulp across libm builds.)
  def xTfidf(s: SparkSession, dir: String): DataFrame = {
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(split(normText(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .cache() // feeds both the df aggregate and the scored join
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs(s, dir).agg(countDistinct("doc_id").as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("score"), asc("tok"))
    tf.join(df, "tok").crossJoin(broadcast(n))
      .withColumn("score",
        round((col("tf") * col("n_docs")).cast("double") / col("df"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("tok"), col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rank")
  }

  private val xTfidfSql =
    """WITH tf AS (
      |  SELECT doc_id, tok, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
      |    FROM documents)
      |  WHERE tok <> '' GROUP BY 1, 2),
      |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
      |r AS (SELECT tf.doc_id, tf.tok, tf.tf, df.df,
      |    round(CAST(tf.tf * n.n_docs AS DOUBLE) / df.df, 6) AS score,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |      ORDER BY round(CAST(tf.tf * n.n_docs AS DOUBLE) / df.df, 6) DESC, tf.tok) AS BIGINT) AS rank
      |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n)
      |SELECT doc_id, rank, tok, tf, df, score FROM r
      |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin

  // --- x_ngram_stats: top-30 word bigrams by DOCUMENT frequency —
  // the corpus-level collocation profile (tokenizer-merge and boilerplate
  // diagnostics read this before d_ngram_jaccard tuning). Per-doc
  // distinct-ing happens inside the array (array_distinct before the
  // explode), so the shuffle carries one row per (doc, distinct bigram)
  // and the aggregate is |bigram vocab|-sized with map-side partials.
  def xNgramStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(split(normText(col("text")), " ").as("w"))
      .select(explode(when(size(col("w")) >= 2,
        array_distinct(expr("transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1]))")))
        .otherwise(array().cast("array<string>"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("bigram"))
      .limit(30)

  private val xNgramStatsSql =
    """SELECT bigram, COUNT(*) AS df FROM (
      |  SELECT unnest(list_distinct(list_transform(range(1, len(w)),
      |      i -> w[i] || ' ' || w[i+1]))) AS bigram
      |  FROM (SELECT string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
      |        FROM documents) WHERE len(w) >= 2)
      |GROUP BY bigram ORDER BY df DESC, bigram LIMIT 30""".stripMargin

  // --- x_zipf: per-language Zipf rank-frequency profile — the token
  // frequency at power-of-two ranks (1, 2, 4, ..., 512), the standard
  // corpus-health curve (a natural-language corpus decays ~1/rank; a flat
  // or cliffed profile signals boilerplate or synthetic text). Counts are
  // pure integers so the oracle is exact; ranking is the SALTED two-phase
  // top-k (local top-512 within (lang, hash-salt) partitions, then the
  // global rank over the <= 64x512 survivors) — at 100 TB a language's
  // vocabulary is ~1e8 types and a bare partitionBy(lang) window would
  // sort it in one task.
  def xZipf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val Ranks = Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L, 512L)
    val counts = docs(s, dir)
      .select(col("lang"), explode(split(normText(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("lang", "tok").agg(count(lit(1)).as("freq"))
    val wLocal = Window
      .partitionBy(col("lang"), pmod(xxhash64(col("tok")), lit(64)))
      .orderBy(desc("freq"), asc("tok"))
    val wGlobal = Window.partitionBy("lang").orderBy(desc("freq"), asc("tok"))
    counts
      .withColumn("_lr", row_number().over(wLocal)).filter(col("_lr") <= 512)
      .withColumn("rank", row_number().over(wGlobal).cast("long"))
      .filter(col("rank").isin(Ranks: _*))
      .select("lang", "rank", "tok", "freq")
      .orderBy("lang", "rank")
  }

  private val xZipfSql =
    s"""WITH c AS (SELECT lang, tok, COUNT(*) AS freq FROM (
      |    SELECT lang, unnest(string_split($normSql, ' ')) AS tok FROM documents)
      |  WHERE tok <> '' GROUP BY 1, 2),
      |r AS (SELECT lang, tok, freq,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY freq DESC, tok) AS BIGINT) AS rank
      |  FROM c)
      |SELECT lang, rank, tok, freq FROM r
      |WHERE rank IN (1, 2, 4, 8, 16, 32, 64, 128, 256, 512)
      |ORDER BY lang, rank""".stripMargin

  // --- x_shingle_curve: cross-document duplication rate as a function of
  // shingle width n = 1..5 — the sensitivity sweep behind CHOOSING the
  // dedup shingle size (1-grams conflate all docs sharing vocabulary;
  // 5-grams only catch verbatim runs; the knee of this curve is where
  // minhash should sit). Per-doc distinct shingles (shingle_hash dedupes
  // in-pass) flow through ONE hash aggregate per width; dup_rate =
  // 1 - global-distinct / sum-of-per-doc-distinct. Hash-vs-string
  // distinctness matches the d_ngram_jaccard precedent (64-bit xxhash
  // collisions are the only divergence risk).
  def xShingleCurve(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val per = (1 to 5).map { n =>
      docs(s, dir).select(lit(n.toLong).as("n"),
        explode(expr(s"shingle_hash(lower(text), $n)")).as("sh"))
    }.reduce(_ unionAll _)
    per.groupBy("n")
      .agg(count(lit(1)).as("n_shingles"), countDistinct("sh").as("n_distinct"))
      .withColumn("dup_rate", round(lit(1.0) -
        col("n_distinct").cast("double") / col("n_shingles").cast("double"), 6))
      .orderBy("n")
  }

  private val xShingleCurveSql = {
    def grams(n: Int): String =
      if (n == 1) "list_transform(range(1, len(w) + 1), i -> w[i])"
      else {
        val cat = (0 until n).map(j => s"w[i+$j]").mkString(" || ' ' || ")
        s"list_transform(range(1, greatest(len(w) - ${n - 2}, 1)), i -> $cat)"
      }
    val arms = (1 to 5).map(n =>
      s"SELECT $n AS n, doc_id, unnest(list_distinct(${grams(n)})) AS sh FROM d")
      .mkString("\n      | UNION ALL ")
    s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
      |g0 AS ($arms),
      |g AS (SELECT * FROM g0 WHERE sh <> '')
      |SELECT CAST(n AS BIGINT) AS n, COUNT(*) AS n_shingles,
      |  CAST(COUNT(DISTINCT sh) AS BIGINT) AS n_distinct,
      |  round(1.0 - CAST(COUNT(DISTINCT sh) AS DOUBLE) / COUNT(*), 6) AS dup_rate
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --- x_sentencize: per-doc sentence segmentation stats (sentence count
  // + total sentence chars) — the unit-of-text primitive under chunking
  // and quality scoring. Pure per-row codegen'd regex split; integer
  // outputs so the oracle compare is exact.
  def xSentencize(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        filter(transform(split(normText(col("text")), "[.!?]+"), t => trim(t)),
          t => t =!= "").as("sents"))
      .select(col("doc_id"), size(col("sents")).cast("long").as("n_sentences"),
        coalesce(aggregate(col("sents"), lit(0L), (acc, x) => acc + length(x)), lit(0L))
          .as("sum_chars"))
      .orderBy("doc_id")

  private val xSentencizeSql =
    """SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sentences,
      |  CAST(COALESCE(list_sum(list_transform(sents, x -> length(x))), 0) AS BIGINT) AS sum_chars
      |FROM (SELECT doc_id, list_filter(list_transform(
      |    string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '[.!?]+'),
      |    x -> trim(x)), x -> x <> '') AS sents
      |  FROM documents) ORDER BY doc_id""".stripMargin

  // --- x_quality_sweep: filter-threshold calibration — for a sweep of
  // alpha-ratio cutoffs, how many docs and what share of corpus tokens
  // survive (the "pick the quality bar" report every curation run needs
  // before committing a filter). The pass test is PURE INTEGER
  // (alpha·100 >= p·n_chars ⟺ alpha_ratio >= p%), so bit-exact across
  // engines. Per-doc metrics are computed ONCE; the 5-row threshold dim is
  // a broadcast cross join (n·5 predicate evals, no extra scan); the
  // corpus-total side is a 1-row broadcast — no driver collect anywhere.
  def xQualitySweep(s: SparkSession, dir: String): DataFrame = {
    val m = docs(s, dir).select(
      length(col("text")).cast("long").as("n_chars_c"),
      alphaCount(col("text")).cast("long").as("alpha"),
      wsTokenCount(col("text")).as("toks"))
      .cache() // feeds both the sweep and the 1-row total
    val thr = m.sparkSession.range(1)
      .select(explode(array(lit(80), lit(81), lit(82), lit(83), lit(84))).as("p"))
    val tot = m.agg(sum(col("toks")).as("tot_toks"))
    m.crossJoin(broadcast(thr))
      .filter(col("alpha") * 100 >= col("p") * col("n_chars_c"))
      .groupBy("p")
      .agg(count(lit(1)).as("n_kept"), sum(col("toks")).as("kept_toks"))
      .crossJoin(broadcast(tot))
      .select(col("p"), col("n_kept"), col("kept_toks"),
        round(col("kept_toks").cast("double") / col("tot_toks").cast("double"), 6)
          .as("token_share"))
      .orderBy("p")
  }

  private val xQualitySweepSql =
    """WITH m AS (SELECT CAST(length(text) AS BIGINT) AS n_chars_c,
      |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha,
      |    CAST(CASE WHEN trim(text) = '' THEN 0
      |      ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS toks
      |  FROM documents),
      |tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS tot_toks FROM m),
      |thr AS (SELECT unnest([80, 81, 82, 83, 84]) AS p)
      |SELECT t.p, COUNT(*) AS n_kept, CAST(SUM(m.toks) AS BIGINT) AS kept_toks,
      |  round(CAST(SUM(m.toks) AS DOUBLE) / (SELECT tot_toks FROM tot), 6) AS token_share
      |FROM m JOIN thr t ON m.alpha * 100 >= t.p * m.n_chars_c
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- x_ngram_novelty: per-document novelty — the fraction of a doc's
  // 3-word shingles whose FIRST corpus appearance (lowest doc_id) is this
  // doc. Scanning the curve in doc order shows how fast a growing corpus
  // stops contributing new content — the redundancy-saturation diagnostic
  // behind "more data or better data". Spark side runs on the native
  // 64-bit shingle_hash stream (8-byte keys; the oracle proves identity
  // on shingle STRINGS, same contract as the dedup family); one hash agg
  // for first-appearance, one key join back, counts only in the shuffles.
  def xNgramNovelty(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val sh = docs(s, dir)
      .select(col("doc_id"), explode(expr("shingle_hash(lower(text), 3)")).as("sh"))
      .cache() // feeds the first-appearance agg AND the per-doc counts
    val firsts = sh.groupBy("sh").agg(min("doc_id").as("first_doc"))
    sh.join(firsts, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles").cast("double"), 6))
      .orderBy("doc_id")
  }

  private val xNgramNoveltySql =
    s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
      |  FROM d WHERE len(w) >= 3),
      |f AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
      |SELECT sh.doc_id, COUNT(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  round(CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS novelty
      |FROM sh JOIN f ON sh.sh = f.sh
      |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin

  // --- x_vocab_growth: Heaps-law curve — BIGRAM-type inventory size after
  // every 50-doc checkpoint (in doc_id ingestion order). Read next to
  // x_ngram_novelty: novelty says how much each DOC adds, this says how
  // fast the type inventory saturates — the "is more data still buying
  // new language" diagnostic. (Bigram types, not unigrams: the synthetic
  // corpus's ~31-word vocabulary saturates inside the first checkpoint,
  // while its pair space keeps growing — on a real corpus both are valid
  // Heaps curves.) Scalably: bigram → min(doc_id) first-seen (one hash
  // agg), new types per checkpoint bucket (another), then a running sum
  // over the BUCKET dim only — the window input is |corpus|/50 aggregate
  // rows, never tokens (a petabyte run widens the bucket, same plan).
  def xVocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val firsts = docs(s, dir)
      .select(col("doc_id"), split(normText(col("text")), " ").as("w"))
      .select(col("doc_id"), explode(when(size(col("w")) >= 2,
        array_distinct(expr(
          "transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1]))")))
        .otherwise(array().cast("array<string>"))).as("tok"))
      .groupBy("tok").agg(min("doc_id").as("first_doc"))
    val perBucket = firsts
      .groupBy(floor(col("first_doc") / 50L).as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket
      .select(((col("bucket") + 1) * 50).cast("long").as("n_docs_processed"),
        col("new_types"), sum("new_types").over(w).as("vocab_size"))
      .orderBy("n_docs_processed")
  }

  private val xVocabGrowthSql =
    s"""WITH f AS (SELECT tok, MIN(doc_id) AS first_doc FROM (
      |    SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)),
      |        i -> w[i] || ' ' || w[i+1]))) AS tok
      |    FROM (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents)
      |    WHERE len(w) >= 2) GROUP BY tok),
      |b AS (SELECT first_doc // 50 AS bucket, COUNT(*) AS new_types FROM f GROUP BY 1)
      |SELECT CAST((bucket + 1) * 50 AS BIGINT) AS n_docs_processed, new_types,
      |  CAST(SUM(new_types) OVER (ORDER BY bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size
      |FROM b ORDER BY n_docs_processed""".stripMargin

  // --- x_length_profile: per-language document-length quartiles over
  // integer character counts (q_percentiles' bit-exact binary-fraction
  // percentile contract) plus min/max — the distribution every length
  // filter and chunk-size choice is calibrated against, per language
  // because length norms differ by script. One hash agg, |langs| rows.
  def xLengthProfile(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("lang"), col("n_chars"))
      .groupBy("lang")
      // one array-percentile buffer per group instead of three scalar ones
      // (same interpolation, bit-identical values — see q_percentiles)
      .agg(count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"),
        percentile(col("n_chars"), array(lit(0.25), lit(0.5), lit(0.75))).as("ps"),
        max("n_chars").as("max_chars"))
      .select(col("lang"), col("n_docs"), col("min_chars"),
        element_at(col("ps"), 1).as("p25_chars"),
        element_at(col("ps"), 2).as("p50_chars"),
        element_at(col("ps"), 3).as("p75_chars"),
        col("max_chars"))
      .orderBy("lang")

  private val xLengthProfileSql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
      |  quantile_cont(n_chars, 0.25) AS p25_chars,
      |  quantile_cont(n_chars, 0.5) AS p50_chars,
      |  quantile_cont(n_chars, 0.75) AS p75_chars,
      |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // --- x_fertility: tokenizer fertility per language — characters per
  // BPE-ish regex token (the standard multilingual tokenizer-efficiency
  // metric: a language whose fertility is 2x English pays 2x the context
  // budget for the same text). Integer sums per language, one shared IEEE
  // division; the regex token rule is x_tokens' BPE-ish class split, so
  // the two ops read on the same token definition.
  def xFertility(s: SparkSession, dir: String): DataFrame = {
    val bpeToks = size(regexp_extract_all(col("text"),
      lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).cast("long")
    docs(s, dir)
      .select(col("lang"), length(col("text")).cast("long").as("chars"), bpeToks.as("toks"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("chars").as("sum_chars"),
        sum("toks").as("sum_tokens"))
      .withColumn("fertility",
        round(col("sum_chars").cast("double") / col("sum_tokens").cast("double"), 6))
      .orderBy("lang")
  }

  private val xFertilitySql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
      |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))) AS BIGINT)
      |    AS sum_tokens,
      |  round(CAST(SUM(length(text)) AS DOUBLE) /
      |    SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))), 6)
      |    AS fertility
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // --- x_boilerplate: repeated-passage detection — the 8-word shingles
  // appearing verbatim in the most documents. This is the header/footer/
  // navigation screen a web-corpus pipeline runs before token counting:
  // high-df passages are template boilerplate, not content. The unit is a
  // fixed-width shingle rather than a punctuation-split sentence because
  // boilerplate need not respect sentence bounds (and a corpus with no
  // sentence punctuation — like this synthetic one — would make a
  // sentence-level check vacuous: the old formulation verified 0 rows).
  // Per-doc distinct happens in-array before the explode, so the shuffle
  // carries one row per (doc, distinct shingle) and the df aggregate
  // combines map-side; top-20 via TakeOrdered.
  def xBoilerplate(s: SparkSession, dir: String): DataFrame =
    docsSpread(s, dir)
      .withColumn("w", split(normText(col("text")), " "))
      .select(col("doc_id"),
        explode(array_distinct(when(size(col("w")) >= 8,
          expr("transform(sequence(0, size(w)-8), i -> concat_ws(' ', " +
            "w[i], w[i+1], w[i+2], w[i+3], w[i+4], w[i+5], w[i+6], w[i+7]))"))
          .otherwise(array().cast("array<string>")))).as("sent"))
      .groupBy("sent").agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .orderBy(desc("df"), asc("sent"))
      .limit(20)

  private val xBoilerplateSql =
    s"""SELECT sent, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |      range(1, greatest(len(w) - 6, 1)),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
      |           w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]))) AS sent
      |  FROM (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents))
      |GROUP BY sent HAVING COUNT(DISTINCT doc_id) >= 2
      |ORDER BY df DESC, sent LIMIT 20""".stripMargin

  // --- x_stopword_profile: per-language stopword frequencies over a fixed
  // function-word list — the language-health fingerprint under x_langid
  // (languages whose top stopwords vanish signal mislabeled or boilerplate
  // corpora). One explode + an isin prune (the filter drops ~everything
  // BEFORE the shuffle, so the exchange carries only stopword hits), then
  // a map-side-combinable (lang, token) aggregate with bounded
  // |langs|·|list| output at any corpus size. Pure integers.
  private val StopwordList = Seq("the", "and", "of", "to", "in", "a")

  def xStopwordProfile(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("lang"), col("doc_id"), explode(split(normText(col("text")), " ")).as("tok"))
      .filter(col("tok").isin(StopwordList: _*))
      .groupBy("lang", "tok")
      .agg(count(lit(1)).as("occurrences"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("lang", "tok")

  private val xStopwordProfileSql =
    s"""SELECT lang, tok, COUNT(*) AS occurrences,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM (SELECT lang, doc_id, unnest(string_split($normSql, ' ')) AS tok FROM documents)
      |WHERE tok IN ('the', 'and', 'of', 'to', 'in', 'a')
      |GROUP BY lang, tok ORDER BY lang, tok""".stripMargin

  // --- x_char_classes: per-doc character-class census (alpha / digit /
  // space / punct-or-other) — the cheapest corpus-health profile, and the
  // input every byte-level quality rule reads. Each count is a LENGTH
  // DIFFERENCE after a class-stripping regexp_replace, so both engines
  // count identical (pure integer) values; per-row codegen, no shuffle
  // before the final ordering.
  def xCharClasses(s: SparkSession, dir: String): DataFrame = {
    def stripped(pat: String) = length(regexp_replace(col("text"), pat, "")).cast("long")
    val n = length(col("text")).cast("long")
    docs(s, dir).select(
      col("doc_id"),
      n.as("n_chars_c"),
      (n - stripped("[A-Za-z]")).as("n_alpha"),
      (n - stripped("[0-9]")).as("n_digit"),
      (n - stripped("\\s")).as("n_space"),
      stripped("[A-Za-z0-9\\s]").as("n_other"))
      .orderBy("doc_id")
  }

  private val xCharClassesSql =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_chars_c,
      |  CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
      |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
      |  CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_space,
      |  CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS BIGINT) AS n_other
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- x_readability: per-doc Flesch-style readability from three integer
  // primitives — words, sentences, and a vowel-group syllable proxy
  // (n_groups = len(after collapsing each [aeiou]+ run to one char) -
  // len(after deleting the runs); both engines compute the identical
  // difference). The score itself is the only float: two exact-integer
  // ratios through one IEEE expression, rounded at 4 places. Denominators
  // are guarded with greatest(1, ·) so empty docs stay deterministic
  // rather than NULL-vs-NaN engine-dependent. Pure per-row codegen.
  def xReadability(s: SparkSession, dir: String): DataFrame = {
    val norm = normText(col("text"))
    val words = when(norm === "", 0L).otherwise(size(split(norm, " ")).cast("long"))
    val sents = size(filter(transform(split(norm, "[.!?]+"), t => trim(t)),
      t => t =!= "")).cast("long")
    val syll = (length(regexp_replace(norm, "[aeiou]+", "V")) -
      length(regexp_replace(norm, "[aeiou]+", ""))).cast("long")
    docsSpread(s, dir).select(
      col("doc_id"), words.as("n_words"), sents.as("n_sentences"), syll.as("n_syllables"),
      round(lit(206.835)
        - lit(1.015) * words.cast("double") / greatest(sents, lit(1L)).cast("double")
        - lit(84.6) * syll.cast("double") / greatest(words, lit(1L)).cast("double"), 4)
        .as("flesch"))
      .orderBy("doc_id")
  }

  private val xReadabilitySql =
    s"""WITH m AS (SELECT doc_id, $normSql AS norm FROM documents),
      |c AS (SELECT doc_id,
      |    CAST(CASE WHEN norm = '' THEN 0
      |      ELSE len(string_split(norm, ' ')) END AS BIGINT) AS n_words,
      |    CAST(len(list_filter(list_transform(
      |      string_split_regex(norm, '[.!?]+'), x -> trim(x)), x -> x <> '')) AS BIGINT)
      |      AS n_sentences,
      |    CAST(length(regexp_replace(norm, '[aeiou]+', 'V', 'g')) -
      |         length(regexp_replace(norm, '[aeiou]+', '', 'g')) AS BIGINT) AS n_syllables
      |  FROM m)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |  round(206.835
      |    - 1.015 * CAST(n_words AS DOUBLE) / greatest(n_sentences, 1)
      |    - 84.6 * CAST(n_syllables AS DOUBLE) / greatest(n_words, 1), 4) AS flesch
      |FROM c ORDER BY doc_id""".stripMargin

  override val all: Seq[QueryDef] = Seq(
    QueryDef("x_tfidf", xTfidf, Some(xTfidfSql)),
    QueryDef("x_quality_sweep", xQualitySweep, Some(xQualitySweepSql)),
    QueryDef("x_ngram_stats", xNgramStats, Some(xNgramStatsSql)),
    QueryDef("x_sentencize", xSentencize, Some(xSentencizeSql)),
    QueryDef("x_chunk", xChunk, Some(xChunkSql)),
    QueryDef("x_bpe_pairs", xBpePairs, Some(xBpePairsSql)),
    QueryDef("x_lm_score", xLmScore, Some(xLmScoreSql)),
    QueryDef("x_decontaminate", xDecontaminate, Some(xDecontaminateSql)),
    QueryDef("x_repetition", xRepetition, Some(xRepetitionSql)),
    QueryDef("x_fingerprint", xFingerprint, Some(xFingerprintSql)),
    QueryDef("x_tokens", xTokens, Some(xTokensSql)),
    QueryDef("x_quality", xQuality, Some(xQualitySql)),
    QueryDef("x_langid", xLangid, Some(xLangidSql)),
    QueryDef("x_domain_route", xDomainRoute, Some(xDomainRouteSql)),
    QueryDef("x_vocab", xVocab, Some(xVocabSql)),
    QueryDef("x_zipf", xZipf, Some(xZipfSql)),
    QueryDef("x_shingle_curve", xShingleCurve, Some(xShingleCurveSql)),
    QueryDef("x_redact", xRedact, Some(xRedactSql)),
    QueryDef("x_sample_mix", xSampleMix, Some(xSampleMixSql)),
    QueryDef("x_pack", xPack, Some(xPackSql)),
    QueryDef("x_source_stats", xSourceStats, Some(xSourceStatsSql)),
    QueryDef("x_source_overlap", xSourceOverlap, Some(xSourceOverlapSql)),
    QueryDef("x_dedup_impact", xDedupImpact, Some(xDedupImpactSql)),
    QueryDef("x_char_classes", xCharClasses, Some(xCharClassesSql)),
    QueryDef("x_readability", xReadability, Some(xReadabilitySql)),
    QueryDef("x_stopword_profile", xStopwordProfile, Some(xStopwordProfileSql)),
    QueryDef("x_ngram_novelty", xNgramNovelty, Some(xNgramNoveltySql)),
    QueryDef("x_vocab_growth", xVocabGrowth, Some(xVocabGrowthSql)),
    QueryDef("x_boilerplate", xBoilerplate, Some(xBoilerplateSql)),
    QueryDef("x_fertility", xFertility, Some(xFertilitySql)),
    QueryDef("x_length_profile", xLengthProfile, Some(xLengthProfileSql)),
    QueryDef("x_gopher", xGopher, Some(xGopherSql)))

  // NB: keep below-`all` definitions as defs — a val here would still be
  // null when `all` is constructed (object init order).

  // --- x_gopher: Gopher-style heuristic quality rules as per-doc 0/1
  // flags — word-count bounds, mean word length in [3,10], symbol-to-word
  // ratio, minimum stopword hits. Every rule is INTEGER arithmetic (mean
  // word length restated as 3·words <= chars <= 10·words), so both engines
  // decide each flag identically; pure per-row codegen, no shuffle.
  def xGopher(s: SparkSession, dir: String): DataFrame = {
    val t0 = trim(col("text"))
    val nTok = wsTokenCount(col("text"))
    val charsw = length(regexp_replace(t0, "\\s+", "")).cast("long")
    val hashes = (length(t0) - length(regexp_replace(t0, "#", ""))).cast("long")
    val stops = size(regexp_extract_all(lower(t0),
      lit("\\b(the|and|of|to|in)\\b"), lit(0))).cast("long")
    val okWords = nTok.between(50L, 100000L)
    val okMwl = nTok > 0L && charsw >= nTok * 3L && charsw <= nTok * 10L
    val okSym = hashes * 10L < nTok
    val okStops = stops >= 2L
    docsSpread(s, dir).select(
      col("doc_id"), nTok.as("n_words"),
      okWords.cast("long").as("ok_words"),
      okMwl.cast("long").as("ok_mean_wlen"),
      okSym.cast("long").as("ok_symbols"),
      okStops.cast("long").as("ok_stops"),
      (okWords && okMwl && okSym && okStops).cast("long").as("keep"))
      .orderBy("doc_id")
  }

  private def xGopherSql =
    """WITH x AS (SELECT doc_id,
      |    CASE WHEN trim(text) = '' THEN 0
      |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_words,
      |    CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS BIGINT) AS charsw,
      |    CAST(length(trim(text)) - length(replace(trim(text), '#', '')) AS BIGINT) AS hashes,
      |    CAST(len(regexp_extract_all(lower(trim(text)), '\b(the|and|of|to|in)\b')) AS BIGINT) AS stops
      |  FROM documents)
      |SELECT doc_id, n_words,
      |  CAST(n_words BETWEEN 50 AND 100000 AS BIGINT) AS ok_words,
      |  CAST(n_words > 0 AND charsw >= n_words * 3 AND charsw <= n_words * 10 AS BIGINT) AS ok_mean_wlen,
      |  CAST(hashes * 10 < n_words AS BIGINT) AS ok_symbols,
      |  CAST(stops >= 2 AS BIGINT) AS ok_stops,
      |  CAST((n_words BETWEEN 50 AND 100000) AND (n_words > 0 AND charsw >= n_words * 3 AND charsw <= n_words * 10)
      |    AND (hashes * 10 < n_words) AND (stops >= 2) AS BIGINT) AS keep
      |FROM x ORDER BY doc_id""".stripMargin

  // --- x_dedup_impact: the dedup AUDIT every production pipeline reports —
  // per source, docs/tokens before vs after corpus-wide exact dedup (keeper
  // = lowest doc_id per normalized-content hash, so cross-source duplicate
  // groups attribute their one survivor to the keeper's source). One hash
  // aggregation + an equi-join on the hash (|keepers| ≈ |docs| — never a
  // forced broadcast; AQE may still broadcast small runs); no pairwise work.
  def xDedupImpact(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      md5(normText(col("text"))).as("h"),
      wsTokenCount(col("text")).as("n_tok"))
    val keepers = d.groupBy("h").agg(min("doc_id").as("keeper"))
    d.join(keepers, Seq("h"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs_before"),
        sum(when(col("doc_id") === col("keeper"), 1L).otherwise(0L)).as("docs_after"),
        sum(col("n_tok")).as("tokens_before"),
        sum(when(col("doc_id") === col("keeper"), col("n_tok")).otherwise(0L)).as("tokens_after"))
      .orderBy("source")
  }

  private def xDedupImpactSql =
    """WITH d AS (SELECT doc_id, source,
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h,
      |    CASE WHEN trim(text) = '' THEN 0
      |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_tok
      |  FROM documents),
      |k AS (SELECT h, MIN(doc_id) AS keeper FROM d GROUP BY h)
      |SELECT source, COUNT(*) AS docs_before,
      |  CAST(SUM(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END) AS BIGINT) AS docs_after,
      |  CAST(SUM(n_tok) AS BIGINT) AS tokens_before,
      |  CAST(SUM(CASE WHEN doc_id = keeper THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_after
      |FROM d JOIN k USING (h)
      |GROUP BY source ORDER BY source""".stripMargin
}
