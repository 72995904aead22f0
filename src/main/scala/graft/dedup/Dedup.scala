package graft.dedup

import graft.{GraftSession, QueryDef, QueryRegistry}
import graft.text.TextOps.normText
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.C — the deduplication family for LLM training-data
  * pipelines, over the `documents` and `embeddings` tables.
  *
  * Scale design: exact dedup is a single hash aggregation (map-side
  * partials, one shuffle). N-gram Jaccard never forms the n² cross product —
  * it joins on shared shingles, so cost is O(sum of shingle-bucket²), and at
  * 100 TB you run d_minhash_lsh first so only LSH-candidate pairs are
  * verified. SimHash bands 64 bits into 4×16-bit chunks (pigeonhole: any
  * pair at hamming distance <=3 shares a chunk), turning near-dup search
  * into an equi-join. Embedding dedup's exact form is quadratic and kept
  * for oracle parity at test scale; its scale path is the same banding idea
  * (s_topk_ivf's centroid buckets / simhash-over-floats).
  */
object Dedup extends QueryRegistry {

  // spread: the whole family's cost is per-row extraction (shingles, md5
  // signatures, normText) fused into the scan stage — a single-file scan
  // would run it all on one core (GraftSession.spread doc; guide §2.5)
  private def docs(s: SparkSession, dir: String): DataFrame =
    GraftSession.spread(GraftSession.table(s, dir, "documents"))

  private def embs(s: SparkSession, dir: String): DataFrame =
    GraftSession.spread(GraftSession.table(s, dir, "embeddings"))

  // --- d_exact: hash-groupBy exact dedup; keep the lowest doc_id per group.
  def dExact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), md5(normText(col("text"))).as("h"))
      .groupBy("h")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")

  private val dExactSql =
    """SELECT min(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
      |      FROM documents)
      |GROUP BY h ORDER BY keep_id""".stripMargin

  /** Distinct 3-word shingles per document, identified by a 64-bit hash:
    * (doc_id, sh: long). Produced by the native one-pass
    * [[graft.functions.ShingleHash]] expression — no regex walk, no word
    * array, no interpreted HOF lambda; shingle strings are never
    * materialized, so dedup joins and minhash work on longs (collision
    * probability across a corpus is ~n²/2^64, negligible). The hash values
    * are bit-identical to the previous
    * `xxhash64(w[i], w[i+1], w[i+2])`-over-split formulation (see the
    * expression's doc), so every downstream contract is unchanged. */
  // NB: the explode stays INLINE over the shingle expression — exploding a
  // separately-projected array column makes Spark carry/recompute the whole
  // array per OUTPUT row (O(shingles²) per doc, measured 35x slower).
  private def shingles(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    docs(s, dir)
      .select(col("doc_id"), explode(expr("shingle_hash(lower(text), 3)")).as("sh"))
  }

  /** Hot-shingle document-frequency cap (standard blocked-join practice,
    * cf. Lee et al. 2022 / CCNet): a shingle shared by k docs contributes a
    * k²-row block to the self-join, so one ubiquitous stopword shingle
    * ("of the and") would dominate the whole join at corpus scale while
    * carrying no dedup signal. Shingles appearing in more than this many
    * docs are dropped BEFORE the join — bounding every block to at most
    * MaxShingleDf² pairs at ANY corpus size — and Jaccard/containment are
    * computed over the retained shingle space (per-doc sizes counted
    * post-filter, so true duplicates still score 1.0). The DuckDB oracles
    * mirror the cap. At test SF the max observed df is 25 (sf0.1), so the
    * cap is semantics-neutral there; at 100 TB it is what makes the
    * blocked join's worst case bounded instead of quadratic. */
  private[dedup] val MaxShingleDf = 100

  /** See [[GraftSession.eager]]: cache and materialize NOW, so concurrent
    * broadcast/AQE jobs of the final query read blocks instead of each
    * recomputing the shared subtree. */
  private def eager(df: DataFrame): DataFrame = GraftSession.eager(df)

  /** The (doc_id, sh) rows of `sh` whose shingle appears in at most
    * [[MaxShingleDf]] docs. The hot set is tiny (only ubiquitous
    * shingles), so AQE broadcasts the anti-join. */
  private def dropHotShingles(sh: DataFrame): DataFrame = {
    val hot = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxShingleDf).select("sh")
    sh.join(hot, Seq("sh"), "left_anti").select("doc_id", "sh")
  }

  /** Exact Jaccard over pairs that share >= 1 shingle, optionally restricted
    * to a candidate pair set (the LSH path — only candidates are verified,
    * so the shingle join never expands beyond LSH buckets). */
  private def jaccardPairs(sh: DataFrame, candidates: Option[DataFrame] = None): DataFrame = {
    val restricted = candidates match {
      case Some(cand) =>
        // Candidate-verify path (LSH): the join is already bounded by the
        // candidate set, and verification must be exact over the FULL
        // shingle sets — no df cap here.
        val docs = cand.select(col("da").as("doc_id"))
          .union(cand.select(col("db").as("doc_id"))).distinct()
        sh.join(broadcast(docs), "doc_id")
      case None => dropHotShingles(sh)
    }
    // using-column joins put the join key FIRST in the output, so pin the
    // (doc_id, sh) order the positional toDF renames below depend on
    val ordered = restricted.select("doc_id", "sh")
    // Post-filter sizes: Jaccard over the retained shingle space. On the
    // candidate path restriction only removes whole docs, so per-doc counts
    // are unchanged for every doc that can appear in a pair.
    val sizes = ordered.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = ordered.toDF("da", "sh")
    val b = ordered.toDF("db", "sh")
    var common = a.join(b, Seq("sh")).filter(col("da") < col("db"))
    candidates.foreach(cand => common = common.join(cand, Seq("da", "db"), "leftsemi"))
    common
      .groupBy("da", "db").agg(count(lit(1)).as("c"))
      .join(sizes.toDF("da", "na"), "da")
      .join(sizes.toDF("db", "nb"), "db")
      .withColumn("jac", col("c").cast("double") / (col("na") + col("nb") - col("c")))
  }

  // --- d_ngram_jaccard: word-shingle Jaccard near-dup pairs (exact, blocked
  // by shared shingles — no cross product).
  def dNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    // cached: feeds the self-join twice plus the per-doc size aggregate —
    // uncached, the shingle extraction (regex + split + hash) runs 3x
    val sh = eager(shingles(s, dir))
    jaccardPairs(sh)
      .filter(col("jac") >= 0.5)
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("jac"))
      .orderBy("doc_a", "doc_b")
  }

  private val dNgramJaccardSql =
    """WITH d AS (SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
      |  FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      |  FROM d),
      |shf AS (SELECT doc_id, s FROM sh WHERE s IN (
      |    SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100)),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY 1),
      |co AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
      |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT da AS doc_a, db AS doc_b,
      |  CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jac
      |FROM co JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
      |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5 ORDER BY 1, 2""".stripMargin

  // --- d_prefix_filter: EXACT set-similarity self-join via prefix
  // filtering — the PPJoin/AllPairs family (Xiao et al., WWW'08; Bayardo
  // et al., WWW'07), the deterministic alternative to MinHash-LSH: zero
  // recall loss at the same candidate-pruning idea. Tokens sort by ONE
  // global order (ascending document frequency, ties by hash); a doc's
  // PREFIX is its first |x| - ceil(t·|x|) + 1 tokens, and the pigeonhole
  // theorem guarantees any pair with Jaccard ≥ t shares a prefix token —
  // so candidates come from equi-joining prefixes only (rare tokens, tiny
  // buckets) instead of all shared tokens, and the exact verify
  // (jaccardPairs' candidate path, full sets) decides membership. The
  // threshold test is integer-exact: J ≥ 7/10 ⟺ 17·|A∩B| ≥ 7·(|A|+|B|).
  // At 100 TB the frequency ordering is what makes this work: hot tokens
  // rank LAST and never enter prefixes, so candidate buckets stay small
  // exactly where the naive shared-token join explodes.
  private val PrefixT10 = 7 // Jaccard threshold in tenths (0.7)

  def dPrefixFilter(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the capped token universe defines BOTH the prefixes and the Jaccard
    val sh = eager(dropHotShingles(shingles(s, dir)))
    val freq = sh.groupBy("sh").agg(count(lit(1)).as("f"))
    val wOrd = Window.partitionBy("doc_id").orderBy("f", "sh")
    val prefix = sh.join(freq, "sh")
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("rn") <= col("n") - expr(s"($PrefixT10 * n + 9) div 10") + 1)
      .select("doc_id", "sh")
    // cand feeds jaccardPairs TWICE (the doc-restrict broadcast and the
    // pair leftsemi) — eager, or both broadcasts recompute the window +
    // prefix self-join
    val cand = eager(prefix.toDF("da", "sh")
      .join(prefix.toDF("db", "sh2"), col("sh") === col("sh2") && col("da") < col("db"))
      .select("da", "db").distinct())
    jaccardPairs(sh, Some(cand))
      .filter(lit(10 + PrefixT10) * col("c") >= lit(PrefixT10) * (col("na") + col("nb")))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("c").as("n_shared"), (col("na") + col("nb") - col("c")).as("n_union"))
      .orderBy("doc_a", "doc_b")
  }

  private val dPrefixFilterSql =
    """WITH d AS (SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
      |  FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      |  FROM d),
      |shf AS (SELECT doc_id, s FROM sh WHERE s IN (
      |    SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100)),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY 1),
      |co AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
      |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT da AS doc_a, db AS doc_b, c AS n_shared, sa.n + sb.n - c AS n_union
      |FROM co JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
      |WHERE 17*c >= 7*(sa.n + sb.n) ORDER BY 1, 2""".stripMargin

  // --- d_seen_filter: incremental EXACT-key dedup against the standing
  // history through a bloom prefilter — the seen-set pattern of crawl
  // ingestion (seen-URL / seen-fingerprint filters): the history's
  // fingerprint set is hashed into a compact bitmap (BloomBuild, ~8
  // bits/key); today's batch probes it inside whole-stage codegen, and
  // ONLY bloom-positive candidates pay the exact semi/anti join against
  // history. No false negatives by construction, so a bloom-negative row
  // is PROVABLY fresh and never shuffles — at 100 TB the join's probe side
  // shrinks from |batch| to |actual dups| + ~2.4% FP mass while the bitmap
  // stays megabytes regardless of corpus size. Exactness is not
  // bloom-dependent (the FP branch resolves to seen=false via the exact
  // anti-join); the oracle states the plain correlated EXISTS. The seen-key
  // is the canonical PREFIX fingerprint (first 40 normalized chars) — the
  // URL-/head-key analogue a crawl filter actually keys on (full-text
  // equality is d_exact's job), and the form whose collisions exist in the
  // corpus at every scale, so both branches stay exercised at the gate.
  def dSeenFilter(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // UNspread loader: this op runs THREE driver actions (bloom sizing
    // count, bitmap build, final probe query) and each would re-pay the
    // spread exchange, while the per-row work is one md5 over a 40-char
    // prefix — the light class the spread A/B showed regressing (isolated
    // warm 0.85 s unspread vs 1.6-2.0 s spread)
    val fp = GraftSession.table(s, dir, "documents")
      .select(col("doc_id"), md5(substring(normText(col("text")), 1, 40)).as("fp"))
    val history = fp.filter(col("doc_id") % 5 =!= 0)
    val batch = fp.filter(col("doc_id") % 5 === 0)
    val hKeys = history.select(xxhash64(col("fp")).as("k"))
    val mLog2 = graft.functions.BloomBuild.sizeLog2(hKeys.count())
    val bitmap = graft.functions.BloomBuild.build(hKeys, col("k"), 4, mLog2)
    val probed = batch.withColumn("maybe_seen",
      call_function("bloom_contains",
        xxhash64(col("fp")), lit(bitmap), lit(4), lit(mLog2)))
    val fresh = probed.filter(!col("maybe_seen"))
      .select(col("doc_id"), lit(false).as("seen"))
    val cand = probed.filter(col("maybe_seen")).select("doc_id", "fp")
    val hDistinct = history.select("fp").distinct()
    val seenTrue = cand.join(hDistinct, Seq("fp"), "left_semi")
      .select(col("doc_id"), lit(true).as("seen"))
    val fpFalse = cand.join(hDistinct, Seq("fp"), "left_anti")
      .select(col("doc_id"), lit(false).as("seen"))
    fresh.unionAll(seenTrue).unionAll(fpFalse).orderBy("doc_id")
  }

  private val dSeenFilterSql =
    """SELECT b.doc_id,
      |  EXISTS (SELECT 1 FROM documents h
      |          WHERE h.doc_id % 5 <> 0
      |            AND substr(lower(trim(regexp_replace(h.text, '\s+', ' ', 'g'))), 1, 40)
      |              = substr(lower(trim(regexp_replace(b.text, '\s+', ' ', 'g'))), 1, 40)) AS seen
      |FROM documents b WHERE b.doc_id % 5 = 0 ORDER BY b.doc_id""".stripMargin

  // --- d_incr_dedup: INCREMENTAL near-dup dedup — the production arrival
  // pattern at 100 TB: today's batch (doc_id odd — a deterministic split)
  // is deduplicated against the standing HISTORY (doc_id even) plus
  // itself, without ever re-pairing history against history. The probe
  // side of the blocked shingle join is BATCH-ONLY, so per arrival the
  // join ships O(batch shingles) probes against the history postings (in
  // production a maintained index, its extraction amortized across
  // arrivals — the record-index pattern applied to shingles); history×
  // history pairs are never formed. Keep rule: a batch doc survives iff
  // no history doc and no LOWER-ID batch doc sits at Jaccard >= 0.5 —
  // the same keep-lowest convention as d_exact, restated incrementally.
  // Every batch doc is reported (kept or not) with its two dup flags.
  def dIncrDedup(s: SparkSession, dir: String): DataFrame = {
    val shf = dropHotShingles(eager(shingles(s, dir)))
    val sizes = shf.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val probe = shf.filter(col("doc_id") % 2 === 1).toDF("b", "sh")
    val post = shf.toDF("o", "sh")
    val near = probe.join(post, Seq("sh")).filter(col("b") =!= col("o"))
      .groupBy("b", "o").agg(count(lit(1)).as("c"))
      .join(sizes.toDF("b", "nb"), "b")
      .join(sizes.toDF("o", "no"), "o")
      .filter(col("c").cast("double") / (col("nb") + col("no") - col("c")) >= 0.5)
    val flags = near.groupBy("b").agg(
      max(when(col("o") % 2 === 0, 1L).otherwise(0L)).as("dup_of_history"),
      max(when(col("o") % 2 === 1 && col("o") < col("b"), 1L).otherwise(0L))
        .as("dup_in_batch"))
    docs(s, dir).select(col("doc_id")).filter(col("doc_id") % 2 === 1)
      .join(flags.withColumnRenamed("b", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_of_history"), lit(0L)).as("dup_of_history"),
        coalesce(col("dup_in_batch"), lit(0L)).as("dup_in_batch"),
        (coalesce(col("dup_of_history"), lit(0L)) === 0 &&
          coalesce(col("dup_in_batch"), lit(0L)) === 0).cast("long").as("kept"))
      .orderBy("doc_id")
  }

  private val dIncrDedupSql =
    """WITH d AS (SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
      |  FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      |  FROM d),
      |shf AS (SELECT doc_id, s FROM sh WHERE s IN (
      |    SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100)),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY 1),
      |co AS (SELECT p.doc_id AS b, o.doc_id AS o, COUNT(*) AS c
      |  FROM shf p JOIN shf o ON p.s = o.s AND p.doc_id % 2 = 1 AND o.doc_id <> p.doc_id
      |  GROUP BY 1, 2),
      |j AS (SELECT b, o FROM co JOIN sz sb ON sb.doc_id = b JOIN sz so ON so.doc_id = o
      |  WHERE CAST(c AS DOUBLE) / (sb.n + so.n - c) >= 0.5),
      |f AS (SELECT b, MAX(CASE WHEN o % 2 = 0 THEN 1 ELSE 0 END) AS doh,
      |         MAX(CASE WHEN o % 2 = 1 AND o < b THEN 1 ELSE 0 END) AS dib
      |  FROM j GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(COALESCE(f.doh, 0) AS BIGINT) AS dup_of_history,
      |  CAST(COALESCE(f.dib, 0) AS BIGINT) AS dup_in_batch,
      |  CAST(COALESCE(f.doh, 0) = 0 AND COALESCE(f.dib, 0) = 0 AS BIGINT) AS kept
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
      |LEFT JOIN f ON f.b = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // --- d_edit_distance: shingle-blocked candidates verified by
  // LEVENSHTEIN similarity — the character-level verify real pipelines run
  // where token Jaccard is blind (small in-place edits, number/date
  // rewrites, OCR noise keep token sets near-identical but matter for
  // training-data provenance). Candidates come from the same df-capped
  // shingle block join as d_ngram_jaccard (never an all-pairs product;
  // pair count is bounded at any corpus size), so the O(len²) edit-DP runs
  // ONLY on pairs already known to share content. Distance is a pure
  // integer; the similarity is one IEEE division — both exact across
  // engines.
  def dEditDistance(s: SparkSession, dir: String): DataFrame = {
    val sh = eager(shingles(s, dir))
    val cand = jaccardPairs(sh).filter(col("jac") >= 0.3).select("da", "db")
    val tn = docs(s, dir).select(col("doc_id"), normText(col("text")).as("tn"))
    val sim = round(lit(1.0) - col("lev").cast("double") /
      greatest(length(col("ta")), length(col("tb"))).cast("double"), 6)
    cand
      .join(tn.toDF("da", "ta"), "da")
      .join(tn.toDF("db", "tb"), "db")
      .withColumn("lev", levenshtein(col("ta"), col("tb")).cast("long"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("lev"),
        sim.as("edit_sim"))
      .orderBy("doc_a", "doc_b")
  }

  private val dEditDistanceSql =
    """WITH d AS (SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w,
      |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS tn
      |  FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      |  FROM d),
      |shf AS (SELECT doc_id, s FROM sh WHERE s IN (
      |    SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100)),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY 1),
      |co AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
      |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |cand AS (SELECT da, db FROM co
      |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
      |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.3)
      |SELECT da AS doc_a, db AS doc_b,
      |  CAST(levenshtein(a.tn, b.tn) AS BIGINT) AS lev,
      |  round(1.0 - CAST(levenshtein(a.tn, b.tn) AS DOUBLE)
      |    / greatest(length(a.tn), length(b.tn)), 6) AS edit_sim
      |FROM cand JOIN d a ON a.doc_id = da JOIN d b ON b.doc_id = db
      |ORDER BY 1, 2""".stripMargin

  // --- d_neardup_clusters: connected components over the NEAR-dup pair
  // graph — transitive closure of the jac >= 0.5 pairs, the clustering
  // step that turns pairwise candidates into dedup groups (A~B and B~C
  // put A,B,C in ONE group even when A~C never surfaced; keeping one doc
  // per component is the actual dedup action). Runs the large-star/
  // small-star contraction ([[ConnectedComponents]]) to the FIXPOINT,
  // which is unique (component-minimum id), so iteration count cannot
  // leak into the output and the DuckDB oracle can state the closure
  // recursively. Rounds are O(log^2 n) regardless of component DIAMETER
  // — a crawl-mirror chain of length d no longer costs d shuffle rounds
  // — and every round touches only the PAIR GRAPH (dup clusters, not
  // the corpus). Empty pair graphs short-circuit to an empty result.
  def dNeardupClusters(s: SparkSession, dir: String): DataFrame =
    neardupClusterLabels(s, dir).orderBy("doc_id")

  /** The unsorted (doc_id, cluster_id) component labels — shared with
    * consumers that feed them into a join/window (c_cluster_keeper),
    * where the public op's final global sort would be dead weight. */
  private[graft] def neardupClusterLabels(s: SparkSession, dir: String): DataFrame = {
    val sh = eager(shingles(s, dir))
    val pairs = jaccardPairs(sh).filter(col("jac") >= 0.5)
      .select(col("da").as("a"), col("db").as("b"))
    // pairs are strict da < db, so the self-loop-free path applies: the
    // labels come straight off the converged star forest and this op's
    // final query (and every consumer's, e.g. c_cluster_keeper's keeper
    // window) is a scan of the pinned labels — not a second run of the
    // shingle-join lineage to enumerate vertices (was 96 Exchange nodes
    // in the final plan; now the pin + sort)
    ConnectedComponents.runNoSelfLoops(pairs)
      .select(col("v").as("doc_id"), col("lab").as("cluster_id"))
  }

  private val dNeardupClustersSql =
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
      |  SELECT r.v, e.b AS u FROM reach r JOIN e ON e.a = r.u)
      |SELECT v AS doc_id, MIN(u) AS cluster_id
      |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin

  // --- d_prefix_dup: duplicate-prefix groups — docs sharing their first
  // 100 normalized chars (the cheap truncation/mirror-dup detector used
  // alongside full dedup in RefinedWeb-style pipelines: a doc cut off
  // mid-crawl hashes differently but prefixes identically). ONE hash
  // aggregation on a 100-char key — no pair join at all, so at 100 TB
  // this is strictly cheaper than any shingle path.
  def dPrefixDup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), substring(normText(col("text")), 1, 100).as("p"))
      .groupBy("p")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .select("keep_id", "n_docs")
      .orderBy("keep_id")

  private val dPrefixDupSql =
    """SELECT min(doc_id) AS keep_id, COUNT(*) AS n_docs
      |FROM (SELECT doc_id,
      |    substring(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), 1, 100) AS p
      |  FROM documents)
      |GROUP BY p HAVING COUNT(*) > 1 ORDER BY keep_id""".stripMargin

  // --- d_threshold_sweep: near-dup pair counts per Jaccard bucket
  // (0.05-wide, >= 0.5) — the tuning report a pipeline owner reads to
  // pick the dedup threshold and the minhash band/row split BEFORE
  // committing to a corpus-wide pass. Reuses the blocked shingle join
  // (no cross product); output is bucket-count-sized. The bucket edge
  // floor(jac*20) is exact cross-engine: jac is the same IEEE division
  // in both, and *20/floor introduce no further rounding differences.
  def dThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val sh = eager(shingles(s, dir))
    jaccardPairs(sh)
      .filter(col("jac") >= 0.5)
      .withColumn("bucket", floor(col("jac") * 20) / 20)
      .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
      .orderBy("bucket")
  }

  private val dThresholdSweepSql =
    """WITH d AS (SELECT doc_id,
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
      |j AS (SELECT CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jac
      |  FROM co JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
      |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5)
      |SELECT floor(jac*20)/20 AS bucket, COUNT(*) AS n_pairs
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // --- d_containment: asymmetric CONTAINMENT near-dup pairs —
  // c / min(|A|, |B|) over the same blocked shingle join as
  // d_ngram_jaccard. Jaccard misses subset-duplicates (a doc embedded in
  // a much larger one scores c/(na+nb-c) ≈ c/nb → small); containment
  // scores it ≈ 1, which is what quote/boilerplate subsumption looks
  // like. Same scale shape: shared-shingle blocking, no cross product,
  // one grouped count per co-shingled pair.
  def dContainment(s: SparkSession, dir: String): DataFrame = {
    val sh = eager(shingles(s, dir))
    jaccardPairs(sh)
      .withColumn("containment",
        col("c").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= 0.8)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("containment"), col("jac"))
      .orderBy("doc_a", "doc_b")
  }

  private val dContainmentSql =
    """WITH d AS (SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
      |  FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      |  FROM d),
      |shf AS (SELECT doc_id, s FROM sh WHERE s IN (
      |    SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100)),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY 1),
      |co AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
      |  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT da AS doc_a, db AS doc_b,
      |  CAST(c AS DOUBLE) / least(sa.n, sb.n) AS containment,
      |  CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jac
      |FROM co JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
      |WHERE CAST(c AS DOUBLE) / least(sa.n, sb.n) >= 0.8 ORDER BY 1, 2""".stripMargin

  // --- d_neardup_impact: per-source NEAR-dup audit — x_dedup_impact
  // answers this for exact dups; this is the same ledger under keep-first
  // near-dup dedup (a doc drops when it has a jac>=0.5 partner with a
  // lower id). Mixture designers read this before trusting source
  // weights: boilerplate-heavy sources shrink, and the exact-dup audit
  // can't see it. Pair discovery is the same shared-shingle blocked join;
  // the drop set and the per-source rollup are aggregate-sized.
  def dNeardupImpact(s: SparkSession, dir: String): DataFrame = {
    val sh = eager(shingles(s, dir))
    val dropSet = jaccardPairs(sh)
      .filter(col("jac") >= 0.5)
      .select(greatest(col("da"), col("db")).as("doc_id"))
      .distinct()
    val flagged = docs(s, dir)
      .join(dropSet.withColumn("dropped", lit(1L)), Seq("doc_id"), "left")
      .select(col("source"), col("n_chars"),
        coalesce(col("dropped"), lit(0L)).as("dropped"))
    flagged.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("dropped").as("n_neardup"),
        sum("n_chars").as("chars_total"),
        sum(col("dropped") * col("n_chars")).as("chars_dropped"))
      .withColumn("drop_share",
        round(col("chars_dropped").cast("double") / col("chars_total"), 6))
      .orderBy("source")
  }

  private val dNeardupImpactSql =
    """WITH d AS (SELECT doc_id,
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
      |drops AS (SELECT DISTINCT greatest(da, db) AS doc_id
      |  FROM co JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
      |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN drops.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
      |  CAST(SUM(CASE WHEN drops.doc_id IS NOT NULL THEN n_chars ELSE 0 END) AS BIGINT) AS chars_dropped,
      |  round(CAST(SUM(CASE WHEN drops.doc_id IS NOT NULL THEN n_chars ELSE 0 END) AS DOUBLE)
      |    / SUM(n_chars), 6) AS drop_share
      |FROM documents LEFT JOIN drops USING (doc_id)
      |GROUP BY source ORDER BY source""".stripMargin

  // --- d_substring: exact SUBSTRING-level dedup (Lee et al. 2022's
  // "Deduplicating Training Data Makes Language Models Better") — flag every
  // doc whose normalized text shares a long verbatim span with an earlier
  // doc. The COUNTED side takes 40-char shingles in ADJACENT PAIRS on a
  // stride-10 grid (offsets ≡ 0,1 mod 10); the PROBE side takes stride-2
  // shingles, so a shared span is detected at ANY relative alignment: a
  // >=50-char common substring contains a full grid PAIR of one doc
  // (offsets p, p+1), the same two shingles sit at adjacent offsets q, q+1
  // in the other doc, and one of any two adjacent offsets is even — i.e.
  // on the stride-2 probe. (Grid-vs-grid would only match spans whose
  // offsets are congruent mod the stride — misaligned copies, the common
  // case for quoted boilerplate, would be missed entirely.) Shuffle
  // economics at 100 TB, per corpus char: the probe stream (the O(total
  // chars) term) ships 8-byte hash + 8-byte doc at stride 2 = 8 B/char —
  // HALF the round-9 stride-1 cost; the grid ships (doc, hash, offset) =
  // 24 B at chars/5 = 4.8 B/char, never 40-char strings (the shingle
  // string is re-derived by a doc_id join for the SPARSE candidate set
  // only). Every hash match is VERIFIED by an `instr` containment check
  // against the probing doc's text, so a 64-bit collision (statistically
  // certain at ~1e14 probe shingles / 100 TB) can never surface a false
  // shared span — the result stays string-exact at any corpus size, like
  // the suffix arrays Lee et al. use. MinHash is the cheaper approximate
  // path. Word-level Jaccard (d_ngram_jaccard) misses verbatim spans
  // embedded in otherwise-different docs; this is the boilerplate/quote
  // detector.
  def dSubstring(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), normText(col("text")).as("tn"))
    // probe: stride-2 shingle hashes, NOT distinct'd — that would shuffle
    // the whole O(chars) stream once more, and duplicate (doc, h) probes
    // cannot change the min(other) aggregate below
    val probe = base.select(col("doc_id").as("other"), col("tn"),
        explode(expr("sequence(0, greatest(length(tn) - 40, 0), 2)")).as("p"))
      .filter(length(col("tn")) - col("p") >= 40)
      .select(xxhash64(expr("substring(tn, p + 1, 40)")).as("h"), col("other"))
    // grid: adjacent-pair shingles every 10 chars, deduped per (doc, h)
    // keeping one representative offset
    val grid = base.select(col("doc_id"), col("tn"),
        explode(expr("flatten(transform(" +
          "sequence(0, greatest(length(tn) - 40, 0), 10), q -> array(q, q + 1)))")).as("p"))
      .filter(length(col("tn")) - col("p") >= 40)
      .select(col("doc_id"), xxhash64(expr("substring(tn, p + 1, 40)")).as("h"), col("p"))
      .groupBy("doc_id", "h").agg(min("p").as("p"))
    val candidates = grid.join(probe, "h")
      .filter(col("other") =!= col("doc_id"))
      .select("doc_id", "h", "p", "other").distinct()
    // collision fence: a hash match only counts if `other` really contains
    // the grid shingle (probe stride 2 + paired grid == "appears at any
    // offset", which is exactly what `instr > 0` tests). Only the sparse
    // candidate set pays the string re-derivation joins + scan, never the
    // O(chars) probe stream.
    candidates
      .join(base, "doc_id")
      .select(col("doc_id"), col("h"), col("other"),
        expr("substring(tn, p + 1, 40)").as("sh"))
      .join(base.select(col("doc_id").as("other"), col("tn").as("tn_other")), "other")
      .filter(instr(col("tn_other"), col("sh")) > 0)
      .groupBy(col("doc_id"), col("h"))
      .agg(min("other").as("min_other"))
      .filter(col("min_other") < col("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_spans")) // (doc_id, h) already distinct
      .orderBy("doc_id")
  }

  private val dSubstringSql =
    """WITH d AS (SELECT doc_id,
      |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS tn
      |  FROM documents),
      |sg AS (SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id, unnest(list_transform(
      |      flatten(list_transform(
      |        range(0, greatest(length(tn) - 40, 0) + 1, 10), q -> [q, q + 1])),
      |      p -> substr(tn, p + 1, 40))) AS sh
      |    FROM d) WHERE length(sh) = 40),
      |sp AS (SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id, unnest(list_transform(
      |      range(0, greatest(length(tn) - 40, 0) + 1, 2),
      |      p -> substr(tn, p + 1, 40))) AS sh
      |    FROM d) WHERE length(sh) = 40),
      |m AS (SELECT g.doc_id, g.sh, MIN(o.doc_id) AS min_other
      |  FROM sg g JOIN sp o ON o.sh = g.sh AND o.doc_id <> g.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_id, COUNT(*) AS n_shared_spans
      |FROM m WHERE min_other < doc_id GROUP BY 1 ORDER BY 1""".stripMargin

  // --- d_minhash_lsh: MinHash signatures + LSH banding; the OUTPUT is the
  // candidate set verified with exact Jaccard — so its oracle is the exact
  // Jaccard pair query itself. The banding can only remove rows the verify
  // would reject anyway, up to band misses: every real pair in this corpus
  // sits at jac >= 0.9, where a 16x4 banding misses with
  // (1 - 0.9^4)^16 ≈ 4e-8 — and the pipeline is deterministic, so the
  // equality is stable, not sampled. (PipelineSpec property-tests the
  // banding itself: every exact-dup pair surfaces as a candidate.)
  private val NumHashes = 64
  private val Bands = 16 // 16 bands x 4 rows

  def dMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val sh = eager(shingles(s, dir))
    // 64 min-aggregates over the exploded shingle stream: a hash aggregate
    // with map-side partials whose xxhash64 evaluations are all CODEGEN'd.
    // (A per-doc array fold via transform/aggregate looks shuffle-free but
    // higher-order functions are CodegenFallback — 64 interpreted, boxed
    // hash evals per shingle measured ~50x slower than this shape.)
    val mhCols = (0 until NumHashes).map(i => min(xxhash64(col("sh"), lit(i))).as(s"mh$i"))
    val mh = sh.groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
    val bandCols = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * 4 until (b + 1) * 4).map(i => col(s"mh$i")): _*).as("sig"))
    }
    // cached: the tiny (doc, band, sig) table feeds BOTH self-join sides —
    // uncached, each side re-plans the signature pipeline and the doubled
    // wide codegen costs seconds of compile time alone
    val buckets = eager(mh.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.sig")))
    val cand = buckets.toDF("da", "band", "sig")
      .join(buckets.toDF("db", "band", "sig"), Seq("band", "sig"))
      .filter(col("da") < col("db"))
      .select("da", "db").distinct()
    // verify ONLY the LSH candidates with exact Jaccard (jaccardPairs
    // broadcast-restricts the cached shingle stream to candidate docs)
    jaccardPairs(sh, Some(cand))
      .filter(col("jac") >= 0.5)
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("jac"))
      .orderBy("doc_a", "doc_b")
  }

  // --- d_minhash_est: MinHash sketch-accuracy audit — for every exact
  // near-dup pair (Jaccard >= 0.3 over the df-capped shingle space), the
  // 16-hash MinHash ESTIMATE next to the exact value and the absolute
  // error. This is s_recall_eval's sibling for the dedup sketches: it
  // answers "how many hashes does MY corpus need" with data instead of
  // the 1/sqrt(k) rule of thumb. Signatures are md5-derived 64-bit values
  // (the d_simhash / m_scene_split recipe) so DuckDB recomputes them
  // bit-identically — unlike d_minhash_lsh's xxhash64 signatures, which
  // exist only engine-side and are therefore verified via exact-Jaccard
  // output, not signature equality. Scale: the pair set is the blocked
  // shingle join (bounded per block by the df cap), the signature build
  // is 16 map-side-combinable min-aggs, and the estimate join touches
  // signatures only — no text moves.
  private val EstHashes = 16

  /** Signed 64-bit hashes from the two md5 halves, little-endian — the
    * exact values DuckDB's `md5_number_lower` / `md5_number_upper` yield
    * after signed casting. Using BOTH halves gives two independent hash
    * functions per md5 evaluation, halving the dominant signature-build
    * cost (the two column expressions share the md5 subtree, which
    * whole-stage codegen's subexpression elimination computes once). */
  private def md5h64(c: Column): Column = md5Half(c, upper = false)
  private def md5h64Upper(c: Column): Column = md5Half(c, upper = true)

  private def md5Half(c: Column, upper: Boolean): Column = {
    val hx = md5(c.cast("binary"))
    def hexByte(i: Int) = substring(hx, i, 2)
    val o = if (upper) -16 else 0 // upper = digest bytes 0..7, lower = 8..15
    val lo = conv(concat(hexByte(23 + o), hexByte(21 + o), hexByte(19 + o), hexByte(17 + o)),
      16, 10).cast("long")
    val hi = conv(concat(hexByte(31 + o), hexByte(29 + o), hexByte(27 + o), hexByte(25 + o)),
      16, 10).cast("long")
    shiftleft(hi, 32).bitwiseOR(lo)
  }

  /** The EstHashes signature min-aggregates: seed j contributes columns
    * mh{2j} (md5 lower half of "j:shingle") and mh{2j+1} (upper half). */
  private def mhAggCols: Seq[Column] =
    (0 until EstHashes / 2).flatMap { j =>
      val keyed = concat(lit(s"$j:"), col("sh"))
      Seq(min(md5h64(keyed)).as(s"mh${2 * j}"),
        min(md5h64Upper(keyed)).as(s"mh${2 * j + 1}"))
    }

  /** DuckDB twin of [[mhAggCols]]. */
  private def mhAggSql: String = {
    def signed(f: String, e: String) =
      s"CAST($f($e)::HUGEINT - CASE WHEN $f($e) >= 9223372036854775808 " +
        "THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT)"
    (0 until EstHashes / 2).flatMap { j =>
      val e = s"'$j:' || sh"
      Seq(s"min(${signed("md5_number_lower", e)}) AS mh${2 * j}",
        s"min(${signed("md5_number_upper", e)}) AS mh${2 * j + 1}")
    }.mkString(", ")
  }

  // --- d_dup_provenance: within-source vs cross-source duplication — for
  // every exact-dup cluster, how many duplicate PAIRS share a source and
  // how many cross sources. Same-source pairs mean re-posts inside one
  // feed (fix the feed); cross-source pairs mean crawl overlap (fix the
  // mixture). Counts are C(n,2) combinatorics over two hash aggregates —
  // pairs are never materialized, so the arithmetic is O(clusters) at any
  // corpus size.
  def dDupProvenance(s: SparkSession, dir: String): DataFrame = {
    val perFpSrc = docs(s, dir)
      .select(md5(normText(col("text"))).as("h"), col("source"))
      .groupBy("h", "source").agg(count(lit(1)).as("ns"))
    val perFp = perFpSrc.groupBy("h")
      .agg(sum("ns").as("n"),
        // sum over sources of C(ns, 2) = within-source pairs
        sum(col("ns") * (col("ns") - 1) / 2).as("within"))
      .filter(col("n") >= 2)
    perFp
      .select(col("n"), col("within"),
        (col("n") * (col("n") - 1) / 2 - col("within")).as("cross"))
      .agg(count(lit(1)).as("n_dup_clusters"),
        coalesce(sum("within"), lit(0L)).cast("long").as("within_source_pairs"),
        coalesce(sum("cross"), lit(0L)).cast("long").as("cross_source_pairs"))
  }

  private val dDupProvenanceSql =
    """WITH fs AS (SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h,
      |    source, COUNT(*) AS ns
      |  FROM documents GROUP BY 1, 2),
      |f AS (SELECT h, SUM(ns) AS n, SUM(ns * (ns - 1) // 2) AS within
      |  FROM fs GROUP BY h HAVING SUM(ns) >= 2)
      |SELECT COUNT(*) AS n_dup_clusters,
      |  CAST(COALESCE(SUM(within), 0) AS BIGINT) AS within_source_pairs,
      |  CAST(COALESCE(SUM(n * (n - 1) // 2 - within), 0) AS BIGINT) AS cross_source_pairs
      |FROM f""".stripMargin

  // --- d_cluster_sizes: duplicate-cluster size histogram — how many
  // exact-dup clusters exist at each multiplicity, with the docs and the
  // REDUNDANT docs (all but one per cluster) each size contributes. The
  // one-glance corpus redundancy profile: a heavy tail here is what makes
  // exact dedup pay for itself before any near-dup pass runs. Two hash
  // aggregations over the fingerprint — O(distinct sizes) output at any
  // corpus size.
  def dClusterSizes(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(md5(normText(col("text"))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("sz"))
      .groupBy("sz")
      .agg(count(lit(1)).as("n_clusters"),
        (count(lit(1)) * col("sz")).as("n_docs"),
        (count(lit(1)) * (col("sz") - 1)).as("n_redundant"))
      .orderBy("sz")

  private val dClusterSizesSql =
    """WITH c AS (SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h,
      |    COUNT(*) AS sz
      |  FROM documents GROUP BY 1)
      |SELECT sz, COUNT(*) AS n_clusters,
      |  CAST(COUNT(*) * sz AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) * (sz - 1) AS BIGINT) AS n_redundant
      |FROM c GROUP BY sz ORDER BY sz""".stripMargin

  /** String 3-shingles with the family's df cap applied (md5-parity ops
    * need the shingle TEXT, unlike the hashed [[shingles]] stream).
    * When `docFilter` is given, BOTH the shingle stream and the df cap are
    * computed over that doc subset (sample-then-cap, the order a sampled
    * calibration run uses). */
  private def cappedStringShingles(s: SparkSession, dir: String,
      docFilter: Option[DataFrame] = None): DataFrame = {
    val base = docFilter match {
      case Some(ids) => docs(s, dir).join(broadcast(ids), Seq("doc_id"), "left_semi")
      case None => docs(s, dir)
    }
    val shStr = base
      .select(col("doc_id"), split(normText(col("text")), " ").as("w"))
      .select(col("doc_id"), explode(when(size(col("w")) >= 3,
        array_distinct(expr(
          "transform(sequence(0, size(w)-3), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))")))
        .otherwise(array().cast("array<string>"))).as("sh"))
    dropHotShingles(shStr)
  }

  def dMinhashEst(s: SparkSession, dir: String): DataFrame = {
    // string shingles (not the native hash): md5 parity needs the text
    val shf = eager(cappedStringShingles(s, dir))
    val sizes = shf.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = shf.select(col("doc_id").as("da"), col("sh"))
    val b = shf.select(col("doc_id").as("db"), col("sh"))
    val pairs = a.join(b, Seq("sh")).filter(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("c"))
      .join(sizes.toDF("da", "na"), "da")
      .join(sizes.toDF("db", "nb"), "db")
      .withColumn("jac", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jac") >= 0.3)
    val mhCols = mhAggCols
    val mh = shf.groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
    val matched = (0 until EstHashes)
      .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val mhA = mh.toDF("da" +: (0 until EstHashes).map(i => s"a_mh$i"): _*)
    val mhB = mh.toDF("db" +: (0 until EstHashes).map(i => s"b_mh$i"): _*)
    pairs.join(mhA, "da").join(mhB, "db")
      .withColumn("est_jac", matched.cast("double") / EstHashes)
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("jac"),
        col("est_jac"), round(abs(col("jac") - col("est_jac")), 6).as("abs_err"))
      .orderBy("doc_a", "doc_b")
  }

  private val dMinhashEstSql = {
    val mhAgg = mhAggSql
    val matchSum = (0 until EstHashes)
      .map(i => s"CASE WHEN ma.mh$i = mb.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH d AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
       |  FROM documents),
       |sh0 AS (SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
       |  FROM d WHERE len(w) >= 3),
       |shf AS (SELECT doc_id, sh FROM sh0 WHERE sh IN (
       |    SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) <= $MaxShingleDf)),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY 1),
       |p AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
       |  FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |jp AS (SELECT da, db, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jac
       |  FROM p JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
       |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.3),
       |mh AS (SELECT doc_id, $mhAgg FROM shf GROUP BY doc_id)
       |SELECT jp.da AS doc_a, jp.db AS doc_b, jp.jac,
       |  CAST($matchSum AS DOUBLE) / $EstHashes AS est_jac,
       |  round(abs(jp.jac - CAST($matchSum AS DOUBLE) / $EstHashes), 6) AS abs_err
       |FROM jp JOIN mh ma ON ma.doc_id = jp.da JOIN mh mb ON mb.doc_id = jp.db
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --- d_lsh_tuning: banding-configuration sweep — for each (bands, rows)
  // split of the same 16-hash MinHash signature, the candidate-pair count
  // and how many candidates verify at Jaccard >= 0.5. This is the LSH
  // S-curve read off the REAL corpus: more bands → more candidates (higher
  // recall, more verify work), fewer bands → tighter precision — and the
  // operator shows the exact trade the production banding buys before
  // anyone commits a config. Signatures are the md5-derived values of
  // d_minhash_est, so the oracle recomputes the whole sweep; band
  // signatures compare as concatenated strings (tuple equality). Scale:
  // the sweep adds |configs| band-explodes over the signature table (one
  // row per doc), never another pass over text.
  private val TuningConfigs = Seq((8, 2), (4, 4), (2, 8)) // bands x rows = 16

  /** Calibration-sample size for the tuning sweep: the S-curve is read off
    * a FIXED deterministic hash-rank sample of docs (the Centroids
    * pattern), so sweep cost is corpus-size-free — production LSH tuning
    * samples for exactly this reason. Below this corpus size the sweep
    * sees every doc and the sample is a no-op. */
  private val TuningSampleDocs = 2000

  def dLshTuning(s: SparkSession, dir: String): DataFrame = {
    val sample = docs(s, dir)
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("_hr"))
      .orderBy(asc_nulls_first("_hr"), asc("doc_id"))
      .limit(TuningSampleDocs)
      .select("doc_id")
    val shf = eager(cappedStringShingles(s, dir, Some(sample)))
    val mhCols = mhAggCols
    val mh = eager(shf.groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*))
    // exact >= 0.5 pairs ONCE, cached, computed on the NATIVE 8-byte
    // shingle-hash stream restricted to the same sample (string keys cost
    // ~3x in the self-join; the retained shingle space is identical modulo
    // negligible 64-bit collisions): every config's verify count probes
    // this tiny pair set instead of re-running a shingle self-join
    val dup = eager(jaccardPairs(
        eager(shingles(s, dir).join(broadcast(sample), Seq("doc_id"), "left_semi")))
      .filter(col("jac") >= 0.5)
      .select(col("da"), col("db"), lit(1L).as("is_dup")))
    val perConfig = TuningConfigs.map { case (bands, rows) =>
      val bandCols = (0 until bands).map { bb =>
        struct(lit(bb).as("band"),
          concat_ws(",", (bb * rows until (bb + 1) * rows).map(i => col(s"mh$i")): _*).as("sig"))
      }
      val buckets = mh.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band"), col("bk.sig"))
      // single pass: candidates left-join the dup flags, one aggregate
      // yields both counts (no second scan of the candidate set)
      buckets.toDF("da", "band", "sig")
        .join(buckets.toDF("db", "band", "sig"), Seq("band", "sig"))
        .filter(col("da") < col("db"))
        .select("da", "db").distinct()
        .join(dup, Seq("da", "db"), "left")
        // outer coalesce: a config with ZERO candidates sums over an empty
        // relation (NULL in Spark, 0 in the oracle's scalar subquery) —
        // both counts must land as 0, not NULL
        .agg(count(lit(1)).as("n_candidates"),
          coalesce(sum(coalesce(col("is_dup"), lit(0L))), lit(0L)).as("n_verified"))
        .select(lit(s"${bands}x$rows").as("config"),
          col("n_candidates"), col("n_verified"))
    }
    perConfig.reduce(_ unionAll _).orderBy("config")
  }

  private val dLshTuningSql = {
    val mhAgg = mhAggSql
    val configSelects = TuningConfigs.map { case (bands, rows) =>
      val bandRows = (0 until bands).map { bb =>
        val sig = (bb * rows until (bb + 1) * rows)
          .map(i => s"mh$i::VARCHAR").mkString(" || ',' || ")
        s"SELECT doc_id, $bb AS band, $sig AS sig FROM mh"
      }.mkString("\n    UNION ALL ")
      s"""SELECT '${bands}x$rows' AS config,
         |  (SELECT COUNT(*) FROM (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |     FROM ($bandRows) x JOIN ($bandRows) y
         |     ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)) AS n_candidates,
         |  (SELECT COUNT(*) FROM (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
         |     FROM ($bandRows) x JOIN ($bandRows) y
         |     ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id) c
         |   WHERE EXISTS (SELECT 1 FROM dup WHERE dup.da = c.da AND dup.db = c.db))
         |    AS n_verified""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH smp AS (SELECT doc_id FROM documents
       |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $TuningSampleDocs),
       |d AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
       |  FROM documents WHERE doc_id IN (SELECT doc_id FROM smp)),
       |sh0 AS (SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
       |  FROM d WHERE len(w) >= 3),
       |shf AS (SELECT doc_id, sh FROM sh0 WHERE sh IN (
       |    SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) <= $MaxShingleDf)),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY 1),
       |p AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
       |  FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |dup AS (SELECT da, db FROM p JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
       |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5),
       |mh AS (SELECT doc_id, $mhAgg FROM shf GROUP BY doc_id)
       |$configSelects
       |ORDER BY config""".stripMargin
  }

  // --- d_simhash: 64-bit SimHash; pairs within hamming distance 3 found by
  // the Manku 6-block / choose-3 pigeonhole ([[HammingBlocks]]: exhaustive
  // for hd<=3 like the naive 4x16 chunking, but the candidate key carries
  // ~32 signature bits instead of 16, so accidental collisions scale as
  // ~20*n^2/2^32 instead of n^2/2^16 — the blocking that survives 10^7+
  // docs). Token hashes are md5-derived 64-bit values
  // (the little-endian upper half, DuckDB's md5_number_lower) instead of
  // xxhash64 so the oracle recomputes the identical signatures — md5 costs
  // ~2x xxhash64 per token, the price of a cross-engine-checkable op. The
  // oracle states the pair semantics via the equivalent-output 4x16
  // banding (cheapest exhaustive form at oracle scale).
  def dSimhash(s: SparkSession, dir: String): DataFrame = {
    val hx = md5(col("tok").cast("binary"))
    def hexByte(i: Int) = substring(hx, i, 2)
    // hex chars 17..32 = digest bytes 8..15, assembled little-endian in two
    // 32-bit halves (conv never overflows a long that way; ANSI-safe)
    val lo = conv(concat(hexByte(23), hexByte(21), hexByte(19), hexByte(17)), 16, 10).cast("long")
    val hi = conv(concat(hexByte(31), hexByte(29), hexByte(27), hexByte(25)), 16, 10).cast("long")
    val toks = docs(s, dir)
      .select(col("doc_id"), explode_outer(array_distinct(split(normText(col("text")), " "))).as("tok"))
      .withColumn("h", shiftleft(hi, 32).bitwiseOR(lo))
    val bitCols = (0 until 64).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b"))
    val bitSums = toks.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
    val simhash = (0 until 64)
      .map(b => when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
      .reduce(_.bitwiseOR(_))
    val sigs = bitSums.select(col("doc_id"), simhash.as("sh"))
    // cached for the same reason as the LSH buckets: two self-join sides of
    // a plan holding 64 aggregate columns would double a very wide codegen
    val chunks = eager(sigs
      .select(col("doc_id"), col("sh"),
        explode(HammingBlocks.comboKeys(col("sh"))).as("ck")))
    val pairs = chunks.select(col("doc_id").as("da"), col("sh").as("sha"), col("ck"))
      .join(chunks.select(col("doc_id").as("db"), col("sh").as("shb"), col("ck")),
        Seq("ck"))
      .filter(col("da") < col("db"))
      .select("da", "db", "sha", "shb").distinct()
      .withColumn("hd", bit_count(col("sha").bitwiseXOR(col("shb"))))
      .filter(col("hd") <= 3)
    pairs.select(col("da").as("doc_a"), col("db").as("doc_b"), col("hd").cast("long").as("hd"))
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash oracle, generated: DuckDB recomputes the identical md5-derived
    * token hashes (`md5_number_lower` = digest bytes 8..15 little-endian,
    * exactly what dSimhash assembles with conv/shiftleft), the 64 per-bit
    * vote sums, the signature (sum of disjoint powers of two == bitwise OR;
    * bit 63 is the literal Long.MinValue since DuckDB refuses 1<<63), the
    * 4x16 chunk self-join, and the hamming filter. Both engines use
    * arithmetic right-shift, so chunk extraction agrees on negative sigs. */
  private val dSimhashSql: String = {
    val h64 = "CAST(md5_number_lower(tok)::HUGEINT - CASE WHEN " +
      "md5_number_lower(tok) >= 9223372036854775808 THEN " +
      "18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT)"
    val bitSums = (0 until 64)
      .map(b => s"SUM(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(", ")
    val sigTerms = (0 until 64).map {
      case 63 => "CASE WHEN b63 > 0 THEN -9223372036854775808 ELSE 0 END"
      case b  => s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH d AS (SELECT doc_id,
       |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS tn
       |  FROM documents),
       |t AS (SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split(tn, ' ')) AS tok FROM d)),
       |h AS (SELECT doc_id, $h64 AS hv FROM t),
       |bs AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
       |s AS (SELECT doc_id, CAST($sigTerms AS BIGINT) AS sh FROM bs),
       |cx AS (SELECT doc_id, sh, unnest([0, 1, 2, 3]) AS ci FROM s),
       |c AS (SELECT doc_id, sh, ci, (sh >> (ci * 16)) & 65535 AS cv FROM cx),
       |p AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.sh AS sha, b.sh AS shb
       |  FROM c a JOIN c b ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id)
       |SELECT da AS doc_a, db AS doc_b, CAST(bit_count(xor(sha, shb)) AS BIGINT) AS hd
       |FROM p WHERE bit_count(xor(sha, shb)) <= 3 ORDER BY 1, 2""".stripMargin
  }

  /** Index-order double fold of a float-vector dot product — bit-identical
    * to the DuckDB `list_sum(list_transform(...))` twin. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm2(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  // --- d_dup_groups: resolve the near-dup PAIR graph into duplicate GROUPS
  // (connected components) — the step a real dedup pipeline needs after pair
  // mining, since near-dup relations are not transitive. The same labels as
  // d_neardup_clusters (the star-contraction fixpoint: each doc's component
  // minimum, whatever the chain length), named `group_id`. Oracle:
  // recursive-CTE transitive closure in DuckDB.
  def dDupGroups(s: SparkSession, dir: String): DataFrame =
    neardupClusterLabels(s, dir)
      .select(col("doc_id"), col("cluster_id").as("group_id"))
      .orderBy("doc_id")

  private val dDupGroupsSql =
    """WITH RECURSIVE
      |d AS (SELECT doc_id,
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
      |pairs AS (SELECT da, db FROM co
      |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
      |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5),
      |edges AS (SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs),
      |reach(u, v) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      |  UNION
      |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u)
      |SELECT u AS doc_id, MIN(v) AS group_id FROM reach GROUP BY u ORDER BY doc_id""".stripMargin

  /** Round like Spark/DuckDB `round(x, 6)` (half-up, away from zero). */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // --- d_embed_cosine: embedding near-dup pairs above cosine 0.45 (exact).
  // Executed as a DISTRIBUTED block nested-loop: vectors are grouped into
  // blocks of ~4096 by key, the tiny (block_a <= block_b) pair table is
  // broadcast, and each task streams ONE block pair with a tight primitive
  // loop — no n²-row join is ever materialized, no embedding ever touches
  // the driver, and per-task memory is bounded by two blocks (~4 MB at
  // dim 64) regardless of corpus size. Shuffle cost is each block
  // replicated to its √pairs — the classic all-pairs trade; candidate
  // pruning via LSH (d_embed_lsh) is the sub-quadratic path. Same
  // index-ordered double fold as the DuckDB oracle, so results are
  // bit-identical.
  def dEmbedCosine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val prepped = embs(s, dir).select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val d = new Array[Double](v.length)
        var i = 0
        var n = 0.0
        while (i < v.length) { d(i) = v(i).toDouble; n += d(i) * d(i); i += 1 }
        (id, d, math.sqrt(n))
      }
    val n = prepped.count()
    val nBlocks = math.max(1L, (n + 4095L) / 4096L).toInt
    val blocks = prepped.groupByKey(r => (r._1 % nBlocks).toInt)
      .mapGroups((g, it) => (g, it.toArray.sortBy(_._1)))
    val blockPairs = s.createDataFrame(
      for { a <- 0 until nBlocks; b <- a until nBlocks } yield (a, b))
      .toDF("ga", "gb")
    val threshold = 0.45
    broadcast(blockPairs) // the PAIR TABLE is broadcast — never the vectors
      .join(blocks.toDF("ga", "ra"), "ga")
      .join(blocks.toDF("gb", "rb"), "gb")
      .select("ga", "gb", "ra", "rb")
      .as[(Int, Int, Array[(Long, Array[Double], Double)], Array[(Long, Array[Double], Double)])]
      .flatMap { case (ga, gb, ra, rb) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        def emit(a: (Long, Array[Double], Double), b: (Long, Array[Double], Double)): Unit = {
          val (ida, va, na) = a
          val (idb, vb, nb) = b
          var dot = 0.0
          var i = 0
          while (i < va.length) { dot += va(i) * vb(i); i += 1 }
          val cos = round6(dot / (na * nb))
          if (cos >= threshold)
            out += (if (ida < idb) (ida, idb, cos) else (idb, ida, cos))
        }
        if (ga == gb) {
          var i = 0
          while (i < ra.length) {
            var j = i + 1
            while (j < ra.length) { emit(ra(i), ra(j)); j += 1 }
            i += 1
          }
        } else {
          var i = 0
          while (i < ra.length) {
            var j = 0
            while (j < rb.length) { emit(ra(i), rb(j)); j += 1 }
            i += 1
          }
        }
        out
      }.toDF("vec_a", "vec_b", "cos_r")
      .orderBy("vec_a", "vec_b")
  }

  private val dEmbedCosineSql =
    """WITH e AS (SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  round(list_sum(list_transform(range(1, len(a.embedding) + 1),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |    / (a.nrm * b.nrm), 6) AS cos_r
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE round(list_sum(list_transform(range(1, len(a.embedding) + 1),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |    / (a.nrm * b.nrm), 6) >= 0.45
      |ORDER BY 1, 2""".stripMargin

  // --- d_embed_lsh: random-hyperplane LSH near-dup detection — the
  // SUB-QUADRATIC scale path for embedding dedup (SURVEY §5). Corpus =
  // embeddings ∪ planted near-dup copies (deterministic perturbation,
  // mirrored in the oracle). 32 bands of w signature bits each from
  // pseudo-random hyperplanes spanning the FULL embedding dimension
  // (hash-derived, no RNG state), banded bucket equi-join for
  // candidates → exact cosine verify ≥ 0.95.
  //
  // Band width SCALES WITH THE CORPUS: w = max(8, ceil(log2 n) + 4).
  // A fixed 8-bit band has only 256 bucket keys, so random
  // (near-orthogonal) pairs collide per band with 2^-8 and the
  // candidate join emits ~32·n²/256 pairs — QUADRATIC, measured ×47.9
  // for 10× data on the round-9 scale sweep before this fix. With
  // w ≈ log2(n)+4, expected random collisions are 32·n²/2^w ≈ 2n —
  // the candidate set and the verify join stay O(n) at any corpus size.
  //
  // Recall math (honest numbers): a sign bit flips between a pair at
  // cosine c with p = acos(c)/π. The planted near-dups sit at
  // c ≈ 0.999 (p ≈ 0.014): at w = 20 (a ~65k-vector corpus) one band
  // matches with (1-p)^20 ≈ 0.75 and the pair misses all 32 bands with
  // (1-0.75)^32 ≈ 1e-19 — the oracle equality is structurally safe. A
  // pair AT the 0.95 threshold (p ≈ 0.101) misses all 32 w=20 bands
  // with (1-0.8989^20)^32 ≈ 2e-2: borderline-threshold recall decays
  // as w grows — the standard LSH precision/recall/cost trade, stated
  // rather than hidden (this corpus grades only the planted ~0.999
  // pairs; a production run wanting recall 1 at exactly 0.95 would
  // raise the band count, paying linearly, not quadratically).
  // Oracle: the exact quadratic pair scan in DuckDB (identical double
  // math), which the LSH path reproduces up to those miss rates.
  def dEmbedLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // corpus = originals ∪ planted near-dups, in double precision; the
    // perturbation is mirrored exactly in the oracle SQL
    val corpus = embs(s, dir).select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        val d = new Array[Double](v.length)
        var i = 0
        while (i < v.length) { d(i) = v(i).toDouble; i += 1 }
        if (id % 10 != 0) Seq((id, d))
        else {
          val p = new Array[Double](v.length)
          var j = 0
          while (j < v.length) { p(j) = d(j) + 0.01 * ((j % 7) - 3); j += 1 }
          Seq((id, d), (id + 100000L, p))
        }
      }.toDF("vec_id", "emb").as[(Long, Array[Double])].cache()

    // 256 pseudo-random hyperplanes over the FULL embedding dimension (read
    // from the data, not assumed) from a splitmix64 stream — deterministic,
    // no RNG state, broadcast once (the hyperplanes are NOT part of the
    // oracle contract; only the verified pairs are)
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val nBands = 32
    val n = corpus.count() // also materializes the cache in one pass
    // ceil(log2 n) + 4 bits per band keeps expected random band
    // collisions at ~2n total (see the header math); floor 8 preserves
    // the original layout on tiny corpora; band values are Long so w can
    // follow the corpus up to 60 bits (an Int cap at 31 would quietly
    // reintroduce the quadratic past ~10^8 vectors)
    val w = math.min(60, math.max(8,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1)) + 4))
    val nBits = nBands * w
    val embDim = corpus.head()._2.length
    val hyper = Array.tabulate(nBits, embDim)((b, j) =>
      (mix(b.toLong * embDim + j) % 1000003L).toDouble / 1000003.0)
    val hyperBc = s.sparkContext.broadcast(hyper)

    // signatures as the 32 band values directly: one tight nBits×dim dot
    // loop per row (a whole-corpus pass — no joins, no per-element
    // interpreted lambdas)
    val sigs = corpus.map { case (id, emb) =>
      val h = hyperBc.value
      val bandVals = new Array[Long](nBands)
      var bit = 0
      while (bit < nBits) {
        val hb = h(bit)
        var dotV = 0.0
        var j = 0
        while (j < emb.length) { dotV += emb(j) * hb(j); j += 1 }
        if (dotV > 0) bandVals(bit / w) |= 1L << (bit % w)
        bit += 1
      }
      (id, bandVals)
    }.toDF("vec_id", "bands")

    val bands = sigs.select(col("vec_id"),
      posexplode(col("bands")).as(Seq("ci", "cv")))
    val cand = bands.toDF("da", "ci", "cv")
      .join(bands.toDF("db", "ci", "cv"), Seq("ci", "cv"))
      .filter(col("da") < col("db"))
      .select("da", "db").distinct()

    // verify candidates DISTRIBUTED: join the (sparse) candidate pair set
    // back to the corpus twice — once per side — and compute the cosine in
    // a codegen'd native expression with the same index-ordered double fold
    // as the oracle (bit-identical). No driver-side corpus copy anywhere:
    // this is the flagship 100 TB path, and embeddings stay on executors
    // end to end. Spark round(_, 6) is the same HALF_UP-on-canonical-
    // decimal as the oracle's round.
    graft.functions.GraftFunctions.register(s)
    val threshold = 0.95
    val c = corpus.toDF("vec_id", "emb")
    cand
      .join(c.select(col("vec_id").as("da"), col("emb").as("ea")), "da")
      .join(c.select(col("vec_id").as("db"), col("emb").as("eb")), "db")
      .select(col("da").as("vec_a"), col("db").as("vec_b"),
        round(expr("cosine_sim_d(ea, eb)"), 6).as("cos_r"))
      .filter(col("cos_r") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  private val dEmbedLshSql =
    """WITH base AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings),
      |planted AS (SELECT vec_id + 100000 AS vec_id,
      |    list_transform(range(1, len(emb) + 1),
      |      i -> emb[i] + 0.01 * (((i - 1) % 7) - 3)) AS emb
      |  FROM base WHERE vec_id % 10 = 0),
      |corpus AS (SELECT vec_id, emb,
      |    sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm
      |  FROM (SELECT * FROM base UNION ALL SELECT * FROM planted))
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  round(list_sum(list_transform(range(1, len(a.emb) + 1),
      |      i -> a.emb[i] * b.emb[i])) / (a.nrm * b.nrm), 6) AS cos_r
      |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      |WHERE round(list_sum(list_transform(range(1, len(a.emb) + 1),
      |      i -> a.emb[i] * b.emb[i])) / (a.nrm * b.nrm), 6) >= 0.95
      |ORDER BY 1, 2""".stripMargin

  // --- d_semdedup: SemDeDup-style semantic dedup — cluster the embedding
  // space (deterministic sampled centroids, nearest-centroid assignment,
  // same contract as s_topk_ivf), then WITHIN each cluster drop every
  // vector that has a lower-id neighbor at cosine >= 0.45; the lowest-id
  // member of each near-dup neighborhood survives. Scale: the centroid set
  // is broadcast (one linear assignment pass) and its count GROWS with the
  // corpus (Centroids.scaledK, k = max(16, ceil √n)) so the in-cluster
  // pair scan is n²/k = Θ(n^1.5), not the quadratic a fixed k degrades to
  // — clustering before pairwise comparison is the whole point at 100 TB,
  // and the cluster count is the knob that keeps it true. Oracle: the
  // identical assignment + in-cluster pair scan in DuckDB (same round6
  // double math, same in-query ceil(sqrt(n)) centroid cut).
  def dSemdedup(s: SparkSession, dir: String): DataFrame = {
    import graft.ann.Centroids
    graft.functions.GraftFunctions.register(s)
    val e = embs(s, dir).select(col("vec_id"), col("embedding"))
    val cents = Centroids.sample(e, Centroids.scaledK(e.count()))
    val assigned = eager(Centroids.rankByCosine(e, cents, "vec_id", "embedding")
      .select(col("vec_id"), col("embedding"), col("c_id").as("bucket")))
      // feeds both sides of the pair join plus the final output
    val left = assigned.select(col("bucket"), col("vec_id").as("da"), col("embedding").as("ea"))
    val right = assigned.select(col("bucket"), col("vec_id").as("db"), col("embedding").as("eb"))
    val dropped = left.join(right, Seq("bucket"))
      .filter(col("da") < col("db"))
      .filter(round(expr("cosine_sim(ea, eb)"), 6) >= 0.45)
      .select(col("db").as("vec_id")).distinct()
      .withColumn("is_dropped", lit(true))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("bucket"),
        col("is_dropped").isNull.cast("long").as("kept"))
      .orderBy("vec_id")
  }

  private val dSemdedupSql =
    s"""WITH e AS (SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |c AS (${graft.ann.Centroids.sqlScaledSample("vec_id AS c_id, embedding AS ce, nrm AS cnrm")}),
      |asg AS (SELECT vec_id, bucket FROM (
      |    SELECT e.vec_id, c.c_id AS bucket,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |        round(list_sum(list_transform(range(1, len(e.embedding) + 1),
      |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
      |          / (e.nrm * c.cnrm), 6) DESC, c.c_id) AS rn
      |    FROM e CROSS JOIN c) WHERE rn = 1),
      |dropped AS (SELECT DISTINCT y.vec_id
      |  FROM asg x JOIN asg y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
      |  JOIN e a ON a.vec_id = x.vec_id JOIN e b ON b.vec_id = y.vec_id
      |  WHERE round(list_sum(list_transform(range(1, len(a.embedding) + 1),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |      / (a.nrm * b.nrm), 6) >= 0.45)
      |SELECT g.vec_id, g.bucket, CAST(d.vec_id IS NULL AS BIGINT) AS kept
      |FROM asg g LEFT JOIN dropped d ON d.vec_id = g.vec_id
      |ORDER BY g.vec_id""".stripMargin

  // --- d_cross_source: priority-source near-dup retention — when the same
  // content arrives from multiple feeds, keep the copy from the
  // highest-priority source (curated feed over bulk crawl) and charge the
  // drop to the losing source. The pair mining is the shared blocked
  // shingle join (no cross product); the retention rule is a per-pair
  // integer comparison (lower source number wins, doc_id tie-break), so the
  // whole report is deterministic. Per-source accounting is one
  // #sources-row aggregate — 100 TB cost is the pair mining it reuses.
  def dCrossSource(s: SparkSession, dir: String): DataFrame = {
    val src = docs(s, dir).select(col("doc_id"), col("source"),
      substring(col("source"), 4, 10).cast("int").as("prio"))
    val sh = eager(shingles(s, dir))
    val pairs = jaccardPairs(sh).filter(col("jac") >= 0.5).select("da", "db")
    val pa = src.select(col("doc_id").as("da"), col("prio").as("prio_a"))
    val pb = src.select(col("doc_id").as("db"), col("prio").as("prio_b"))
    val drops = pairs.join(pa, "da").join(pb, "db")
      .select(
        when(col("prio_a") < col("prio_b"), col("db"))
          .when(col("prio_b") < col("prio_a"), col("da"))
          .when(col("da") < col("db"), col("db")).otherwise(col("da"))
          .as("doc_id"))
      .distinct()
    src.join(drops.withColumn("dropped", lit(1)), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), count(col("dropped")).as("n_dropped"))
      .withColumn("n_kept", col("n_docs") - col("n_dropped"))
      .orderBy("source")
  }

  private val dCrossSourceSql =
    """WITH d AS (SELECT doc_id,
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
      |pairs AS (SELECT da, db FROM co
      |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
      |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5),
      |pr AS (SELECT doc_id, source, CAST(substr(source, 4) AS INT) AS prio FROM documents),
      |drops AS (SELECT DISTINCT
      |    CASE WHEN a.prio < b.prio THEN p.db
      |         WHEN b.prio < a.prio THEN p.da
      |         WHEN p.da < p.db THEN p.db ELSE p.da END AS doc_id
      |  FROM pairs p JOIN pr a ON a.doc_id = p.da JOIN pr b ON b.doc_id = p.db)
      |SELECT pr.source, COUNT(*) AS n_docs, COUNT(dr.doc_id) AS n_dropped,
      |  COUNT(*) - COUNT(dr.doc_id) AS n_kept
      |FROM pr LEFT JOIN drops dr ON pr.doc_id = dr.doc_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  override val all: Seq[QueryDef] = Seq(
    QueryDef("d_exact", dExact, Some(dExactSql)),
    QueryDef("d_cross_source", dCrossSource, Some(dCrossSourceSql)),
    QueryDef("d_ngram_jaccard", dNgramJaccard, Some(dNgramJaccardSql)),
    QueryDef("d_incr_dedup", dIncrDedup, Some(dIncrDedupSql)),
    QueryDef("d_seen_filter", dSeenFilter, Some(dSeenFilterSql)),
    QueryDef("d_prefix_filter", dPrefixFilter, Some(dPrefixFilterSql)),
    QueryDef("d_edit_distance", dEditDistance, Some(dEditDistanceSql)),
    QueryDef("d_neardup_clusters", dNeardupClusters, Some(dNeardupClustersSql)),
    QueryDef("d_containment", dContainment, Some(dContainmentSql)),
    QueryDef("d_threshold_sweep", dThresholdSweep, Some(dThresholdSweepSql)),
    QueryDef("d_prefix_dup", dPrefixDup, Some(dPrefixDupSql)),
    QueryDef("d_neardup_impact", dNeardupImpact, Some(dNeardupImpactSql)),
    QueryDef("d_dup_groups", dDupGroups, Some(dDupGroupsSql)),
    QueryDef("d_substring", dSubstring, Some(dSubstringSql)),
    // minhash's output IS the exact-verified pair set (see dMinhashLsh
    // doc-comment), so the exact Jaccard query is its oracle
    QueryDef("d_minhash_lsh", dMinhashLsh, Some(dNgramJaccardSql)),
    QueryDef("d_minhash_est", dMinhashEst, Some(dMinhashEstSql)),
    QueryDef("d_lsh_tuning", dLshTuning, Some(dLshTuningSql)),
    QueryDef("d_cluster_sizes", dClusterSizes, Some(dClusterSizesSql)),
    QueryDef("d_dup_provenance", dDupProvenance, Some(dDupProvenanceSql)),
    QueryDef("d_simhash", dSimhash, Some(dSimhashSql)),
    QueryDef("d_embed_cosine", dEmbedCosine, Some(dEmbedCosineSql)),
    QueryDef("d_embed_lsh", dEmbedLsh, Some(dEmbedLshSql)),
    QueryDef("d_semdedup", dSemdedup, Some(dSemdedupSql)))
}
