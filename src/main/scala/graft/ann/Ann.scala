package graft.ann

import graft.{GraftSession, QueryDef, QueryRegistry}
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.D — similarity search over the `embeddings` table, built on
  * the native codegen [[graft.functions.CosineSim]] expression.
  *
  * s_topk_bruteforce broadcasts the (small) query set against the corpus —
  * an embarrassingly parallel linear scan, the right baseline at any scale
  * (no shuffle of the corpus; per-partition top-k via the window is bounded
  * by k·|queries|). s_topk_ivf is the scale path: corpus bucketed by nearest
  * centroid once (IVF build), queries probe only `nprobe` buckets, cutting
  * scanned rows by ~|buckets|/nprobe.
  */
object Ann extends QueryRegistry {

  private def embs(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    GraftSession.table(s, dir, "embeddings")
  }

  private val K = 10

  /** Exact top-k per query WITHOUT funneling a query's whole candidate set
    * through one task's sort: rank within (q_id, candidate-hash salt)
    * shards first — 32-way parallel, keeping k per shard, a guaranteed
    * superset of the global top k — then rank the <= 32·k survivors. The
    * total order includes the candidate id, so the output is bit-identical
    * to a direct `partitionBy(q_id)` window while per-task work stays
    * bounded when one query's candidates are the whole corpus. */
  private def rankTopK(df: DataFrame, k: Int,
      order: Seq[Column], rankName: String): DataFrame = {
    val wLocal = Window
      .partitionBy(col("q_id"), pmod(xxhash64(col("vec_id")), lit(32)))
      .orderBy(order: _*)
    val wGlobal = Window.partitionBy("q_id").orderBy(order: _*)
    df.withColumn("_lr", row_number().over(wLocal))
      .filter(col("_lr") <= k)
      .withColumn(rankName, row_number().over(wGlobal))
      .filter(col(rankName) <= k)
      .drop("_lr")
  }

  // --- s_topk_bruteforce: exact cosine top-k for query vectors vec_id < 5.
  def sTopkBruteforce(s: SparkSession, dir: String): DataFrame =
    topkBruteforceUnsorted(s, dir).orderBy("q_id", "rank")

  /** The unsorted brute-force top-k — shared with the recall/sweep ops
    * that JOIN it (s_recall_eval, s_probe_sweep, s_recall_refined), where
    * the public op's final global sort survived into the consumer plan as
    * a dead rangepartitioning exchange + sort (EliminateSorts does not
    * strip it under these join shapes). */
  private def topkBruteforceUnsorted(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 5).toDF("q_id", "qe")
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos_r", round(expr("cosine_sim(embedding, qe)"), 6))
    rankTopK(scored, K, Seq(desc("cos_r"), asc("vec_id")), "rank")
      .withColumn("rank", col("rank").cast("long"))
      .select("q_id", "rank", "vec_id", "cos_r")
  }

  private val sTopkBruteforceSql =
    s"""WITH e AS (SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |p AS (SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
       |    round(list_sum(list_transform(range(1, len(e.embedding) + 1),
       |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))
       |      / (e.nrm * q.nrm), 6) AS cos_r
       |  FROM e JOIN e q ON q.vec_id < 5 AND e.vec_id <> q.vec_id),
       |r AS (SELECT q_id, vec_id, cos_r,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_r DESC, vec_id) AS BIGINT) AS rank
       |  FROM p)
       |SELECT q_id, rank, vec_id, cos_r FROM r WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  // --- s_topk_ivf: IVF-style ANN. Centroids are a FIXED-k deterministic
  // hash-rank sample of corpus vectors (see [[Centroids]] — constant-size
  // broadcast at any corpus size); every vector is assigned to its
  // nearest centroid (the inverted file); queries probe the 2 nearest
  // centroid buckets only. Approximate w.r.t. exact top-k, but every step
  // (assignment, probing, in-bucket ranking) is deterministic round6
  // double math — so the WHOLE pipeline is stated as a DuckDB oracle;
  // PipelineSpec additionally asserts recall vs the brute-force baseline.
  def sTopkIvf(s: SparkSession, dir: String): DataFrame = sTopkIvf(s, dir, None)

  /** IVF top-k with pluggable centroids: the oracle-graded path uses the
    * deterministic hash-rank [[Centroids.sample]] (None); deployments can
    * pass [[Centroids.refine]]d centroids — PipelineSpec property-tests
    * that refinement does not degrade recall. */
  def sTopkIvf(s: SparkSession, dir: String, centroids: Option[DataFrame]): DataFrame =
    topkIvfUnsorted(s, dir, centroids).orderBy("q_id", "rank")

  /** Unsorted IVF top-k — see [[topkBruteforceUnsorted]]: recall ops join
    * this, and the public op's global sort would be dead weight there. */
  private def topkIvfUnsorted(s: SparkSession, dir: String,
      centroids: Option[DataFrame]): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"), col("embedding"))
    val cents = centroids.getOrElse(Centroids.sample(e))
    // IVF build: assign each vector to its nearest centroid (one broadcast pass)
    val assigned = Centroids.rankByCosine(e, cents, "vec_id", "embedding")
      .select(col("vec_id"), col("embedding"), col("c_id").as("bucket"))
    // query side: probe the 2 nearest buckets
    val q = e.filter(col("vec_id") < 5).toDF("q_id", "qe")
    val probes = Centroids.rankByCosine(q, cents, "q_id", "qe", 2)
      .select(col("q_id"), col("qe"), col("c_id").as("bucket"))
    val scored = assigned.join(broadcast(probes.withColumnRenamed("bucket", "bucket_p")),
        col("bucket") === col("bucket_p"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_r", round(expr("cosine_sim(embedding, qe)"), 6))
    rankTopK(scored, K, Seq(desc("cos_r"), asc("vec_id")), "rank")
      .withColumn("rank", col("rank").cast("long"))
      .select("q_id", "rank", "vec_id", "cos_r")
  }

  // --- s_kmeans: deterministic k-means topic clustering over embeddings
  // (k=8, init = the 8 lowest vec_ids, two assignment rounds) — the
  // centroid-build step IVF/topic-bucketing needs. Embeddings are quantized
  // to 1e-6 as BIGINTs so centroid means are exact integer sums —
  // order-independent, hence bit-identical to the DuckDB oracle; distances
  // are index-ordered double folds (same contract as d_embed_cosine).
  // Scale: centroids are broadcast (k rows), assignment is an embarrassingly
  // parallel map, and the recenter is one (k × dim)-sized shuffle.
  def sKmeans(s: SparkSession, dir: String): DataFrame = {
    val q = embs(s, dir).select(col("vec_id"), Centroids.quantized).cache()
    val c0 = q.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"),
        expr("transform(qv, x -> cast(x as double) / 1000000.0)").as("ce"))
    def assign(cents: DataFrame): DataFrame =
      Centroids.nearestL2(q, cents).select("vec_id", "qv", "c_id")
    val a2 = assign(Centroids.recenter(assign(c0)))
    a2.groupBy(col("c_id").as("cluster_id"))
      .agg(count(lit(1)).as("n_vecs"), sum("vec_id").as("id_sum"))
      .orderBy("cluster_id")
  }

  private val sTopkIvfSql =
    s"""WITH e AS (SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |c AS (SELECT vec_id AS c_id, embedding AS ce, nrm AS cnrm FROM e ${Centroids.sqlTail()}),
       |asg AS (SELECT vec_id, embedding, nrm, bucket FROM (
       |    SELECT e.vec_id, e.embedding, e.nrm, c.c_id AS bucket,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        round(list_sum(list_transform(range(1, len(e.embedding) + 1),
       |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
       |          / (e.nrm * c.cnrm), 6) DESC, c.c_id) AS rn
       |    FROM e CROSS JOIN c) WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, embedding AS qe, nrm AS qn FROM e WHERE vec_id < 5),
       |probes AS (SELECT q_id, qe, qn, bucket FROM (
       |    SELECT q.q_id, q.qe, q.qn, c.c_id AS bucket,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
       |        round(list_sum(list_transform(range(1, len(q.qe) + 1),
       |          i -> CAST(q.qe[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
       |          / (q.qn * c.cnrm), 6) DESC, c.c_id) AS prn
       |    FROM q CROSS JOIN c) WHERE prn <= 2),
       |cand AS (SELECT p.q_id, a.vec_id,
       |    round(list_sum(list_transform(range(1, len(a.embedding) + 1),
       |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(p.qe[i] AS DOUBLE)))
       |      / (a.nrm * p.qn), 6) AS cos_r
       |  FROM asg a JOIN probes p ON a.bucket = p.bucket AND a.vec_id <> p.q_id),
       |r AS (SELECT q_id, vec_id, cos_r,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_r DESC, vec_id) AS BIGINT) AS rank
       |  FROM cand)
       |SELECT q_id, rank, vec_id, cos_r FROM r WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  private val sKmeansSql =
    """WITH q AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS c_id, list_transform(qv, x -> CAST(x AS DOUBLE) / 1000000.0) AS ce
      |  FROM q WHERE vec_id < 8),
      |a1 AS (SELECT vec_id, qv, c_id,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS rn
      |  FROM (SELECT q.vec_id, q.qv, c.c_id,
      |      list_sum(list_transform(range(1, len(q.qv) + 1),
      |        i -> (CAST(q.qv[i] AS DOUBLE) / 1000000.0 - c.ce[i])
      |           * (CAST(q.qv[i] AS DOUBLE) / 1000000.0 - c.ce[i]))) AS dist
      |    FROM q CROSS JOIN c0 c)),
      |m0 AS (SELECT c_id, unnest(range(1, len(qv) + 1)) AS i, unnest(qv) AS x
      |  FROM a1 WHERE rn = 1),
      |m1 AS (SELECT c_id, i,
      |    CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS mv
      |  FROM m0 GROUP BY c_id, i),
      |c1 AS (SELECT c_id, list(mv ORDER BY i) AS ce FROM m1 GROUP BY c_id),
      |a2 AS (SELECT vec_id, c_id,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS rn
      |  FROM (SELECT q.vec_id, c.c_id,
      |      list_sum(list_transform(range(1, len(q.qv) + 1),
      |        i -> (CAST(q.qv[i] AS DOUBLE) / 1000000.0 - c.ce[i])
      |           * (CAST(q.qv[i] AS DOUBLE) / 1000000.0 - c.ce[i]))) AS dist
      |    FROM q CROSS JOIN c1 c))
      |SELECT c_id AS cluster_id, COUNT(*) AS n_vecs, CAST(SUM(vec_id) AS BIGINT) AS id_sum
      |FROM a2 WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin

  // --- s_topk_pq: product-quantization ANN with exact re-ranking (the
  // FAISS IVFPQ+refine shape) — completes the ANN trio (brute force / IVF /
  // PQ). The 64-dim space splits into M=4 subspaces of 16; each subspace
  // gets a codebook of deterministically sampled codewords (the FIXED-size
  // hash-rank sample of [[Centroids.PqK]] ids — corpus-size-free, like a
  // trained FAISS codebook's constant 2^b entries);
  // every vector is ENCODED as its 4 nearest codeword ids (4 small ints
  // instead of 64 floats — the compression that lets a 100 TB corpus scan
  // from memory). A query builds a (subspace × codeword) distance table and
  // ADC-scores every vector as the sum of 4 table lookups — no full-vector
  // math in the scan — keeping a SHORTLIST of 50, which exact L2 then
  // re-ranks to the final top-k (full vectors touched for 50 rows, not the
  // corpus). Distances are quantized to 1e-6 BIGINTs, so encode argmins and
  // ADC sums are order-independent integer math: the whole pipeline is
  // stated as a DuckDB oracle (PipelineSpec asserts recall vs exact L2).
  /** Shared PQ machinery: codebook build, encode, ADC scan, shortlist —
    * returns (shortlist with its ADC distance and rank, the full-vector
    * table). sTopkPq re-ranks the shortlist exactly; sPqError audits the
    * ADC approximation against the exact distances on the same shortlist;
    * sPqRefine sweeps the re-rank depth (`depth` caps the ADC rank kept). */
  private def pqAdcShortlist(s: SparkSession, dir: String,
      depth: Int = 50): (DataFrame, DataFrame) = {
    val M = 4; val SUB = 16
    val e = embs(s, dir).select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    // per-subspace views (vec_id, m, sv); slice() is 1-based
    val subs = e.select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${M - 1}), m -> struct(m AS m, slice(v, m * $SUB + 1, $SUB) AS sv))")).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))
      .cache()
    val code = subs.join(broadcast(Centroids.sampleIds(e, Centroids.PqK)), "vec_id")
      .select(col("vec_id").as("c_id"), col("m").as("cm"), col("sv").as("cv"))
    // index-ordered squared-distance fold, quantized to 1e-6 integers —
    // the native codegen expression (an interpreted HOF fold here costs the
    // whole encode cross-join dearly; see [[graft.functions.L2SqQ6]])
    def d2i(a: String, b: String) = s"l2sq_q6($a, $b)"
    // encode: nearest codeword per (vector, subspace) — min_by over an
    // integer (dist, id) pair is a partial-aggregable hash agg, no window
    val encoded = subs.join(broadcast(code), col("m") === col("cm"))
      .withColumn("dist_i", expr(d2i("sv", "cv")))
      .groupBy("vec_id", "m")
      .agg(min_by(col("c_id"), struct(col("dist_i"), col("c_id"))).as("code"))
    // ADC: per-query distance TABLE over (subspace, codeword)…
    val dtable = subs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("m").as("qm"), col("sv").as("qv"))
      .join(broadcast(code), col("qm") === col("cm"))
      .select(col("q_id"), col("qm").as("m"), col("c_id").as("code"),
        expr(d2i("qv", "cv")).as("qd_i"))
    // …every encoded vector scores as M integer lookups → ADC shortlist
    // (two-phase ranked: the ADC scan covers the whole corpus per query)
    val adc = encoded.join(broadcast(dtable), Seq("m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum("qd_i").as("adc_i"))
    val shortlist = rankTopK(adc, depth,
        Seq(asc("adc_i"), asc("vec_id")), "srn")
      .select("q_id", "vec_id", "adc_i", "srn")
    (shortlist, e)
  }

  def sTopkPq(s: SparkSession, dir: String): DataFrame = {
    val (shortlist, e) = pqAdcShortlist(s, dir)
    def d2i(a: String, b: String) = s"l2sq_q6($a, $b)"
    // exact L2 re-rank of the shortlist only
    val qv = e.filter(col("vec_id") < 5).toDF("q_id", "qfull")
    val w = Window.partitionBy("q_id").orderBy(asc("l2_i"), asc("vec_id"))
    shortlist.join(e, "vec_id").join(broadcast(qv), "q_id")
      .withColumn("l2_i", expr(d2i("v", "qfull")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .withColumn("l2_r", col("l2_i").cast("double") / lit(1000000.0))
      .select("q_id", "rank", "vec_id", "l2_r")
      .orderBy("q_id", "rank")
  }

  // --- s_ivf_pq: the FAISS IVFPQ composition — the IVF coarse quantizer
  // restricts the PQ/ADC scan to the probed buckets, so the per-query scan
  // cost drops from O(n) code lookups (s_topk_pq) to O(n · nprobe / k):
  // the index layout that serves billion-vector search in practice. Same
  // deterministic parts as its two parents: cosine bucket assignment with
  // (score, id) tie-breaks, quantized integer ADC sums, exact L2 re-rank
  // of the 50-deep shortlist. The bucket restriction happens BEFORE the
  // distance-table join — the ADC join's left side is the probed slice,
  // never the whole encoded corpus.
  def sIvfPq(s: SparkSession, dir: String): DataFrame = {
    val M = 4; val SUB = 16; val SHORTLIST = 50
    val e = embs(s, dir).select(col("vec_id"), col("embedding"))
    val ev = e.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    val cents = Centroids.sample(e)
    // IVF coarse assignment + probes
    val assigned = Centroids.rankByCosine(e, cents, "vec_id", "embedding")
      .select(col("vec_id"), col("c_id").as("bucket"))
    val q = e.filter(col("vec_id") < 5).toDF("q_id", "qe")
    val probes = Centroids.rankByCosine(q, cents, "q_id", "qe", 2)
      .select(col("q_id"), col("c_id").as("bucket"))
    // PQ codebook + encode (the s_topk_pq shape)
    val subs = ev.select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${M - 1}), m -> struct(m AS m, slice(v, m * $SUB + 1, $SUB) AS sv))")).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))
      .cache()
    val code = subs.join(broadcast(Centroids.sampleIds(ev, Centroids.PqK)), "vec_id")
      .select(col("vec_id").as("c_id"), col("m").as("cm"), col("sv").as("cv"))
    def d2i(a: String, b: String) = s"l2sq_q6($a, $b)"
    val encoded = subs.join(broadcast(code), col("m") === col("cm"))
      .withColumn("dist_i", expr(d2i("sv", "cv")))
      .groupBy("vec_id", "m")
      .agg(min_by(col("c_id"), struct(col("dist_i"), col("c_id"))).as("code"))
    val dtable = subs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("m").as("qm"), col("sv").as("qv"))
      .join(broadcast(code), col("qm") === col("cm"))
      .select(col("q_id"), col("qm").as("m"), col("c_id").as("code"),
        expr(d2i("qv", "cv")).as("qd_i"))
    // ADC restricted to probed buckets: encoded ⨝ bucket ⨝ probes first
    val adc = encoded.join(assigned, "vec_id")
      .join(broadcast(probes), "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(dtable), Seq("q_id", "m", "code"))
      .groupBy("q_id", "vec_id")
      .agg(sum("qd_i").as("adc_i"))
    val shortlist = rankTopK(adc, SHORTLIST,
        Seq(asc("adc_i"), asc("vec_id")), "srn")
      .select("q_id", "vec_id")
    // exact L2 re-rank of the shortlist
    val qv = ev.filter(col("vec_id") < 5).toDF("q_id", "qfull")
    val w = Window.partitionBy("q_id").orderBy(asc("l2_i"), asc("vec_id"))
    shortlist.join(ev, "vec_id").join(broadcast(qv), "q_id")
      .withColumn("l2_i", expr(d2i("v", "qfull")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .withColumn("l2_r", col("l2_i").cast("double") / lit(1000000.0))
      .select("q_id", "rank", "vec_id", "l2_r")
      .orderBy("q_id", "rank")
  }

  private val sIvfPqSql =
    s"""WITH e0 AS (SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |c AS (SELECT vec_id AS c_id, embedding AS ce, nrm AS cnrm FROM e0 ${Centroids.sqlTail()}),
       |asg AS (SELECT vec_id, bucket FROM (
       |    SELECT e0.vec_id, c.c_id AS bucket,
       |      ROW_NUMBER() OVER (PARTITION BY e0.vec_id ORDER BY
       |        round(list_sum(list_transform(range(1, len(e0.embedding) + 1),
       |          i -> CAST(e0.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
       |          / (e0.nrm * c.cnrm), 6) DESC, c.c_id) AS rn
       |    FROM e0 CROSS JOIN c) WHERE rn = 1),
       |probes AS (SELECT q_id, bucket FROM (
       |    SELECT e0.vec_id AS q_id, c.c_id AS bucket,
       |      ROW_NUMBER() OVER (PARTITION BY e0.vec_id ORDER BY
       |        round(list_sum(list_transform(range(1, len(e0.embedding) + 1),
       |          i -> CAST(e0.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
       |          / (e0.nrm * c.cnrm), 6) DESC, c.c_id) AS prn
       |    FROM e0 CROSS JOIN c WHERE e0.vec_id < 5) WHERE prn <= 2),
       |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |subs AS (SELECT vec_id, m, v[m * 16 + 1 : m * 16 + 16] AS sv
       |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS m)),
       |code AS (SELECT vec_id AS c_id, m AS cm, sv AS cv FROM subs
       |  WHERE vec_id IN (SELECT vec_id FROM e ${Centroids.sqlTail(Centroids.PqK)})),
       |enc AS (SELECT vec_id, m, code FROM (
       |    SELECT s.vec_id, s.m, c.c_id AS code,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
       |        CAST(round(list_sum(list_transform(range(1, 17),
       |          i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) * 1000000) AS BIGINT),
       |        c.c_id) AS rn
       |    FROM subs s JOIN code c ON s.m = c.cm) WHERE rn = 1),
       |dt AS (SELECT q.vec_id AS q_id, q.m, c.c_id AS code,
       |    CAST(round(list_sum(list_transform(range(1, 17),
       |      i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i]))) * 1000000) AS BIGINT) AS qd_i
       |  FROM subs q JOIN code c ON q.m = c.cm WHERE q.vec_id < 5),
       |sl AS (SELECT q_id, vec_id FROM (
       |    SELECT d.q_id, a.vec_id, SUM(d.qd_i) AS adc_i,
       |      ROW_NUMBER() OVER (PARTITION BY d.q_id ORDER BY SUM(d.qd_i), a.vec_id) AS srn
       |    FROM enc a JOIN asg g ON a.vec_id = g.vec_id
       |      JOIN probes p ON g.bucket = p.bucket
       |      JOIN dt d ON a.m = d.m AND a.code = d.code AND d.q_id = p.q_id
       |        AND a.vec_id <> d.q_id
       |    GROUP BY 1, 2) WHERE srn <= 50),
       |rr AS (SELECT sl.q_id, sl.vec_id,
       |    CAST(round(list_sum(list_transform(range(1, len(e.v) + 1),
       |      i -> (e.v[i] - q.v[i]) * (e.v[i] - q.v[i]))) * 1000000) AS BIGINT) AS l2_i
       |  FROM sl JOIN e ON e.vec_id = sl.vec_id JOIN e q ON q.vec_id = sl.q_id),
       |r AS (SELECT q_id, vec_id, CAST(l2_i AS DOUBLE) / 1000000.0 AS l2_r,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY l2_i, vec_id) AS BIGINT) AS rank
       |  FROM rr)
       |SELECT q_id, rank, vec_id, l2_r FROM r WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  // --- s_outliers: embedding-space outlier mining — the 20 corpus vectors
  // most isolated from every centroid (lowest best-centroid cosine). The
  // OOD screen an embedding-quality gate runs before ANN indexing or
  // semantic dedup: clusters of junk embeddings (close to each other but
  // far from all content centroids) surface here first. One broadcast
  // centroid pass per vector (the IVF assignment shape) and a bounded
  // global top-k — no corpus shuffle, no pairwise work.
  def sOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"), col("embedding"))
    val cents = Centroids.sample(e)
    e.join(broadcast(cents), lit(true))
      .withColumn("c_cos", round(expr("cosine_sim(embedding, ce)"), 6))
      .groupBy("vec_id")
      .agg(max_by(col("c_id"), struct(col("c_cos"), -col("c_id"))).as("nearest_c"),
        max(col("c_cos")).as("best_cos"))
      .orderBy(asc("best_cos"), asc("vec_id"))
      .limit(20)
  }

  private val sOutliersSql =
    s"""WITH e AS (SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |c AS (SELECT vec_id AS c_id, embedding AS ce, nrm AS cnrm FROM e
       |  WHERE vec_id IN (SELECT vec_id FROM e ${Centroids.sqlTail(Centroids.K)})),
       |a AS (SELECT e.vec_id, c.c_id,
       |    round(list_sum(list_transform(range(1, len(e.embedding) + 1),
       |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
       |      / (e.nrm * c.cnrm), 6) AS c_cos
       |  FROM e CROSS JOIN c),
       |b AS (SELECT vec_id, c_id AS nearest_c, c_cos AS best_cos,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS rn
       |  FROM a)
       |SELECT vec_id, nearest_c, best_cos FROM b WHERE rn = 1
       |ORDER BY best_cos, vec_id LIMIT 20""".stripMargin

  // --- s_centroid_balance: IVF bucket load balance — per centroid, how
  // many vectors its inverted-file bucket holds and the share of the
  // corpus. A skewed histogram here is why an IVF probe misses its
  // latency target (one hot bucket serves most queries) — the index
  // health metric read BEFORE recall is blamed. Same broadcast assignment
  // pass as the IVF build; output is k rows at any corpus size.
  def sCentroidBalance(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"), col("embedding"))
    val per = Centroids.rankByCosine(e, Centroids.sample(e), "vec_id", "embedding")
      .groupBy("c_id").agg(count(lit(1)).as("n_vectors"))
    val tot = per.agg(sum("n_vectors").cast("double").as("total"))
    per.crossJoin(broadcast(tot))
      .select(col("c_id"), col("n_vectors"),
        round(col("n_vectors").cast("double") / col("total"), 6).as("share"))
      .orderBy("c_id")
  }

  private val sCentroidBalanceSql =
    s"""WITH e AS (SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |c AS (SELECT vec_id AS c_id, embedding AS ce, nrm AS cnrm FROM e
       |  WHERE vec_id IN (SELECT vec_id FROM e ${Centroids.sqlTail(Centroids.K)})),
       |a AS (SELECT e.vec_id, c.c_id,
       |    round(list_sum(list_transform(range(1, len(e.embedding) + 1),
       |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
       |      / (e.nrm * c.cnrm), 6) AS c_cos,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY round(list_sum(list_transform(
       |        range(1, len(e.embedding) + 1),
       |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
       |      / (e.nrm * c.cnrm), 6) DESC, c.c_id) AS arn
       |  FROM e CROSS JOIN c),
       |p AS (SELECT c_id, COUNT(*) AS n_vectors FROM a WHERE arn = 1 GROUP BY 1),
       |t AS (SELECT CAST(SUM(n_vectors) AS DOUBLE) AS total FROM p)
       |SELECT c_id, n_vectors, round(CAST(n_vectors AS DOUBLE) / total, 6) AS share
       |FROM p, t ORDER BY c_id""".stripMargin

  // --- s_pq_error: PQ quantization-distortion audit — on each query's
  // ADC shortlist, the mean and max absolute gap between the ADC distance
  // (sum of per-subspace codeword distances) and the exact full-vector
  // distance. This is the codebook-quality dial: distortion says whether
  // M/SUB/PqK fit the corpus BEFORE recall quietly degrades (the FAISS
  // index-factory tuning loop, as s_recall_eval is for IVF and
  // d_minhash_est for MinHash). All distances are the quantized-integer
  // l2sq_q6 values, so errors are exact BIGINTs until one final rounded
  // division; evaluation cost is O(|queries|·shortlist) beyond the PQ
  // pipeline itself.
  def sPqError(s: SparkSession, dir: String): DataFrame = {
    val (shortlist, e) = pqAdcShortlist(s, dir)
    def d2i(a: String, b: String) = s"l2sq_q6($a, $b)"
    val qv = e.filter(col("vec_id") < 5).toDF("q_id", "qfull")
    shortlist.join(e, "vec_id").join(broadcast(qv), "q_id")
      .withColumn("l2_i", expr(d2i("v", "qfull")))
      .withColumn("err", abs(col("adc_i") - col("l2_i")))
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_eval"),
        round(sum("err").cast("double") / (count(lit(1)) * lit(1000000.0)), 6).as("mae"),
        round(max("err").cast("double") / 1000000.0, 6).as("max_err"))
      .orderBy("q_id")
  }

  private val sPqErrorSql =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |subs AS (SELECT vec_id, m, v[m * 16 + 1 : m * 16 + 16] AS sv
       |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS m)),
       |code AS (SELECT vec_id AS c_id, m AS cm, sv AS cv FROM subs
       |  WHERE vec_id IN (SELECT vec_id FROM e ${Centroids.sqlTail(Centroids.PqK)})),
       |enc AS (SELECT vec_id, m, code FROM (
       |    SELECT s.vec_id, s.m, c.c_id AS code,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
       |        CAST(round(list_sum(list_transform(range(1, 17),
       |          i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) * 1000000) AS BIGINT),
       |        c.c_id) AS rn
       |    FROM subs s JOIN code c ON s.m = c.cm) WHERE rn = 1),
       |dt AS (SELECT q.vec_id AS q_id, q.m, c.c_id AS code,
       |    CAST(round(list_sum(list_transform(range(1, 17),
       |      i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i]))) * 1000000) AS BIGINT) AS qd_i
       |  FROM subs q JOIN code c ON q.m = c.cm WHERE q.vec_id < 5),
       |sl AS (SELECT q_id, vec_id, adc_i FROM (
       |    SELECT d.q_id, a.vec_id, SUM(d.qd_i) AS adc_i,
       |      ROW_NUMBER() OVER (PARTITION BY d.q_id ORDER BY SUM(d.qd_i), a.vec_id) AS srn
       |    FROM enc a JOIN dt d ON a.m = d.m AND a.code = d.code AND a.vec_id <> d.q_id
       |    GROUP BY 1, 2) WHERE srn <= 50),
       |rr AS (SELECT sl.q_id,
       |    abs(sl.adc_i - CAST(round(list_sum(list_transform(range(1, len(e.v) + 1),
       |      i -> (e.v[i] - q.v[i]) * (e.v[i] - q.v[i]))) * 1000000) AS BIGINT)) AS err
       |  FROM sl JOIN e ON e.vec_id = sl.vec_id JOIN e q ON q.vec_id = sl.q_id)
       |SELECT q_id, COUNT(*) AS n_eval,
       |  round(CAST(SUM(err) AS DOUBLE) / (COUNT(*) * 1000000.0), 6) AS mae,
       |  round(CAST(MAX(err) AS DOUBLE) / 1000000.0, 6) AS max_err
       |FROM rr GROUP BY q_id ORDER BY q_id""".stripMargin

  private val sTopkPqSql =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |subs AS (SELECT vec_id, m, v[m * 16 + 1 : m * 16 + 16] AS sv
       |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS m)),
       |code AS (SELECT vec_id AS c_id, m AS cm, sv AS cv FROM subs
       |  WHERE vec_id IN (SELECT vec_id FROM e ${Centroids.sqlTail(Centroids.PqK)})),
       |enc AS (SELECT vec_id, m, code FROM (
       |    SELECT s.vec_id, s.m, c.c_id AS code,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
       |        CAST(round(list_sum(list_transform(range(1, 17),
       |          i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) * 1000000) AS BIGINT),
       |        c.c_id) AS rn
       |    FROM subs s JOIN code c ON s.m = c.cm) WHERE rn = 1),
       |dt AS (SELECT q.vec_id AS q_id, q.m, c.c_id AS code,
       |    CAST(round(list_sum(list_transform(range(1, 17),
       |      i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i]))) * 1000000) AS BIGINT) AS qd_i
       |  FROM subs q JOIN code c ON q.m = c.cm WHERE q.vec_id < 5),
       |sl AS (SELECT q_id, vec_id FROM (
       |    SELECT d.q_id, a.vec_id, SUM(d.qd_i) AS adc_i,
       |      ROW_NUMBER() OVER (PARTITION BY d.q_id ORDER BY SUM(d.qd_i), a.vec_id) AS srn
       |    FROM enc a JOIN dt d ON a.m = d.m AND a.code = d.code AND a.vec_id <> d.q_id
       |    GROUP BY 1, 2) WHERE srn <= 50),
       |rr AS (SELECT sl.q_id, sl.vec_id,
       |    CAST(round(list_sum(list_transform(range(1, len(e.v) + 1),
       |      i -> (e.v[i] - q.v[i]) * (e.v[i] - q.v[i]))) * 1000000) AS BIGINT) AS l2_i
       |  FROM sl JOIN e ON e.vec_id = sl.vec_id JOIN e q ON q.vec_id = sl.q_id),
       |r AS (SELECT q_id, vec_id, CAST(l2_i AS DOUBLE) / 1000000.0 AS l2_r,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY l2_i, vec_id) AS BIGINT) AS rank
       |  FROM rr)
       |SELECT q_id, rank, vec_id, l2_r FROM r WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  // --- s_range_search: cosine RANGE search — all corpus vectors within a
  // similarity radius of each query (radius queries are the dedup-adjacent
  // ANN primitive: "everything at least this similar"). Same broadcast
  // linear-scan shape as brute-force top-k; at scale the IVF bucketing
  // bounds the scanned set the same way.
  def sRangeSearch(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 5).toDF("q_id", "qe")
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos_r", round(expr("cosine_sim(embedding, qe)"), 6))
      .filter(col("cos_r") >= 0.2)
      .select("q_id", "vec_id", "cos_r")
      .orderBy("q_id", "vec_id")
  }

  private val sRangeSearchSql =
    """WITH e AS (SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |p AS (SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
      |    round(list_sum(list_transform(range(1, len(e.embedding) + 1),
      |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))
      |      / (e.nrm * q.nrm), 6) AS cos_r
      |  FROM e JOIN e q ON q.vec_id < 5 AND e.vec_id <> q.vec_id)
      |SELECT q_id, vec_id, cos_r FROM p WHERE cos_r >= 0.2 ORDER BY q_id, vec_id""".stripMargin

  // --- s_ivf_incremental: the IVF assignment index maintained as a keyed
  // graft TABLE with incremental upserts — what a growing 100 TB vector
  // corpus actually needs: arriving embeddings update the index in
  // O(batch) (assign the batch against broadcast centroids, keyed upsert
  // touching only the files holding those keys), never a full rebuild.
  // Build: bulk-assign all vectors EXCEPT a holdout batch; the holdout
  // then "arrives" and upserts. The final index state must equal a
  // from-scratch assignment of the whole corpus — which IS the oracle, so
  // the incremental path is verified equivalent to the batch path.
  def sIvfIncremental(s: SparkSession, dir: String): DataFrame = {
    import graft.tables.{GraftTable, GraftTableConfig}
    GraftFunctions.register(s)
    val e = embs(s, dir).select(col("vec_id"), col("embedding"))
    val cents = Centroids.sample(e)
    def assign(batch: DataFrame): DataFrame =
      Centroids.rankByCosine(batch, cents, "vec_id", "embedding")
        .select(col("vec_id"), col("c_id").as("bucket"), col("c_cos").as("cos_c"))
    val tbl = GraftTable(s, GraftTableConfig(
      "/tmp/graft_tables/ivf_idx_" + dir.replaceAll("[^A-Za-z0-9]", "_"),
      "vec_id", "vec_id"))
    tbl.dropIfExists()
    tbl.insert(assign(e.filter(col("vec_id") % 17 =!= 0)), numFiles = 4)
    // the late batch: O(batch) assignment + keyed upsert, no rebuild
    tbl.upsert(assign(e.filter(col("vec_id") % 17 === 0)))
    tbl.read().select("vec_id", "bucket", "cos_c").orderBy("vec_id")
  }

  private val sIvfIncrementalSql =
    s"""WITH e AS (SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |c AS (SELECT vec_id AS c_id, embedding AS ce, nrm AS cnrm FROM e ${Centroids.sqlTail()})
      |SELECT vec_id, bucket, cos_c FROM (
      |    SELECT e.vec_id, c.c_id AS bucket,
      |      round(list_sum(list_transform(range(1, len(e.embedding) + 1),
      |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
      |        / (e.nrm * c.cnrm), 6) AS cos_c,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |        round(list_sum(list_transform(range(1, len(e.embedding) + 1),
      |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
      |          / (e.nrm * c.cnrm), 6) DESC, c.c_id) AS rn
      |    FROM e CROSS JOIN c) WHERE rn = 1
      |ORDER BY vec_id""".stripMargin

  // --- s_mips: max-inner-product top-k — two-tower/recommender retrieval,
  // where vector magnitude IS signal and cosine's normalization would erase
  // it. Same broadcast linear-scan + two-phase ranking shape as
  // s_topk_bruteforce, scored by the native codegen dot_f kernel. (The
  // classic MIPS-to-cosine norm-augmentation reduction makes this servable
  // by the IVF/PQ paths too; the exact scan is the oracle-able baseline.)
  def sMips(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 5).toDF("q_id", "qe")
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("ip_r", round(expr("dot_f(embedding, qe)"), 6))
    rankTopK(scored, K, Seq(desc("ip_r"), asc("vec_id")), "rank")
      .withColumn("rank", col("rank").cast("long"))
      .select("q_id", "rank", "vec_id", "ip_r")
      .orderBy("q_id", "rank")
  }

  private val sMipsSql =
    s"""WITH p AS (SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
       |    round(list_sum(list_transform(range(1, len(e.embedding) + 1),
       |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))), 6) AS ip_r
       |  FROM embeddings e JOIN embeddings q ON q.vec_id < 5 AND e.vec_id <> q.vec_id),
       |r AS (SELECT q_id, vec_id, ip_r,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ip_r DESC, vec_id) AS BIGINT) AS rank
       |  FROM p)
       |SELECT q_id, rank, vec_id, ip_r FROM r WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  // --- s_knn_graph: k-NN GRAPH construction — every vector's 5 nearest
  // neighbors, the primitive under SemDeDup clustering, HNSW building, and
  // graph-based label propagation. All-pairs is quadratic, so candidates
  // are blocked by IVF multi-assignment: each vector joins its 2 nearest
  // centroid buckets, and only same-bucket pairs are scored. The centroid
  // count SCALES with the corpus (Centroids.scaledK, k = max(16, ceil √n)):
  // a fixed k left bucket sizes growing as n/k and the pair scan quadratic
  // (measured ×34 for 10× data on the round-9 sweep before this fix);
  // k ≈ √n is the optimum of the single-level blocked cost n·k + n²/k,
  // giving the standard Θ(n^1.5) blocked-kNN bound — super-linear by
  // nature (the sweep's EXPLAINED entry). [[sNnDescent]] is the LINEAR
  // tier past this bound (deterministic NN-descent, fully oracled); the
  // crossover sits near 10^6 vectors, so both tiers earn their keep.
  // The pair dedupe shuffles only (id, id, score) triples, never
  // embeddings; ranking uses the salted two-phase top-k so no task sorts
  // a whole vector's candidate set.
  def sKnnGraph(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"), col("embedding"))
    val cents = Centroids.sample(e, Centroids.scaledK(e.count()))
    // cached: the assignment (centroid scan + window) feeds both sides of
    // the pair join — uncached it runs twice
    val assigned = Centroids.rankByCosine(e, cents, "vec_id", "embedding", 2)
      .select(col("vec_id"), col("embedding"), col("c_id").as("bucket"))
      .cache()
    val pairs = assigned.toDF("q_id", "qe", "bucket")
      .join(assigned.toDF("n_id", "ne", "bucket"), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos_r", round(expr("cosine_sim(qe, ne)"), 6))
      .select(col("q_id"), col("n_id").as("vec_id"), col("cos_r"))
      .distinct()
    rankTopK(pairs, 5, Seq(desc("cos_r"), asc("vec_id")), "rank")
      .withColumn("rank", col("rank").cast("long"))
      .select("q_id", "rank", "vec_id", "cos_r")
      .orderBy("q_id", "rank")
  }

  private val sKnnGraphSql =
    s"""WITH e AS (SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |c AS (${Centroids.sqlScaledSample("vec_id AS c_id, embedding AS ce, nrm AS cnrm")}),
      |a AS (SELECT vec_id, embedding, nrm, bucket FROM (
      |    SELECT e.vec_id, e.embedding, e.nrm, c.c_id AS bucket,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |        round(list_sum(list_transform(range(1, len(e.embedding) + 1),
      |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
      |          / (e.nrm * c.cnrm), 6) DESC, c.c_id) AS rn
      |    FROM e CROSS JOIN c) WHERE rn <= 2),
      |p AS (SELECT DISTINCT a1.vec_id AS q_id, a2.vec_id AS vec_id,
      |    round(list_sum(list_transform(range(1, len(a1.embedding) + 1),
      |      i -> CAST(a1.embedding[i] AS DOUBLE) * CAST(a2.embedding[i] AS DOUBLE)))
      |      / (a1.nrm * a2.nrm), 6) AS cos_r
      |  FROM a a1 JOIN a a2 ON a1.bucket = a2.bucket AND a1.vec_id <> a2.vec_id),
      |r AS (SELECT q_id, vec_id, cos_r,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_r DESC, vec_id) AS BIGINT) AS rank
      |  FROM p)
      |SELECT q_id, rank, vec_id, cos_r FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  // --- s_cluster_quality: the cluster-audit metric a SemDeDup/IVF
  // pipeline needs before trusting its buckets — per centroid: member
  // count and the mean/min member→centroid cosine. Per-member cosines
  // are quantized to 1e-6 integers BEFORE the sum (an order-free exact
  // aggregate), then one shared double division — so the report is
  // bit-stable while still being a float similarity summary. Broadcast
  // centroids, one assignment pass, one tiny grouped agg: O(n·#centroids)
  // compute, O(#centroids) output at any corpus size.
  def sClusterQuality(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"), col("embedding"))
    val assigned = Centroids.rankByCosine(e, Centroids.sample(e), "vec_id", "embedding")
      .select(col("c_id").as("cluster_id"),
        round(col("c_cos") * 1e6).cast("long").as("q6"))
    assigned.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum("q6").cast("double") / count(lit(1)) / 1e6, 6).as("mean_cos"),
        round(min("q6").cast("double") / 1e6, 6).as("min_cos"))
      .orderBy("cluster_id")
  }

  private val sClusterQualitySql =
    s"""WITH e AS (SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |c AS (SELECT vec_id AS c_id, embedding AS ce, nrm AS cnrm FROM e ${Centroids.sqlTail()}),
      |asg AS (SELECT cluster_id, q6 FROM (
      |    SELECT c.c_id AS cluster_id,
      |      CAST(round(1000000 * round(list_sum(list_transform(range(1, len(e.embedding) + 1),
      |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
      |        / (e.nrm * c.cnrm), 6)) AS BIGINT) AS q6,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |        round(list_sum(list_transform(range(1, len(e.embedding) + 1),
      |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
      |          / (e.nrm * c.cnrm), 6) DESC, c.c_id) AS rn
      |    FROM e CROSS JOIN c) WHERE rn = 1)
      |SELECT cluster_id, COUNT(*) AS n_vecs,
      |  round(CAST(SUM(q6) AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS mean_cos,
      |  round(CAST(MIN(q6) AS DOUBLE) / 1000000.0, 6) AS min_cos
      |FROM asg GROUP BY 1 ORDER BY 1""".stripMargin

  // --- s_recall_eval: recall@k of the IVF index against the exact
  // brute-force ground truth — the evaluation harness every ANN deployment
  // runs before trusting an index (FAISS's recall benchmark shape). Both
  // result sets are themselves deterministic operators of this registry, so
  // the whole evaluation is DuckDB-stateable; per-query hits come from one
  // (q_id, vec_id) equi-join of two k-row-per-query tables — evaluation
  // cost is O(|queries|·k), independent of corpus size.
  def sRecallEval(s: SparkSession, dir: String): DataFrame = {
    val bf = topkBruteforceUnsorted(s, dir).select(col("q_id"), col("vec_id"))
    val iv = topkIvfUnsorted(s, dir, None)
      .select(col("q_id").as("iq_id"), col("vec_id").as("ivec_id"))
    bf.join(iv, col("q_id") === col("iq_id") && col("vec_id") === col("ivec_id"), "left")
      .groupBy("q_id")
      .agg(count(col("ivec_id")).as("n_hits"))
      .withColumn("recall", round(col("n_hits").cast("double") / lit(K).cast("double"), 6))
      .orderBy("q_id")
  }

  private val sRecallEvalSql =
    s"""WITH bf AS (SELECT q_id, vec_id FROM ($sTopkBruteforceSql)),
       |iv AS (SELECT q_id, vec_id FROM ($sTopkIvfSql))
       |SELECT b.q_id, CAST(COUNT(i.vec_id) AS BIGINT) AS n_hits,
       |  round(CAST(COUNT(i.vec_id) AS DOUBLE) / $K.0, 6) AS recall
       |FROM bf b LEFT JOIN iv i ON b.q_id = i.q_id AND b.vec_id = i.vec_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- s_probe_sweep: the IVF nprobe CALIBRATION curve — mean recall@k
  // AND mean scanned-candidate fraction for nprobe ∈ {1, 2, 4}, the
  // recall/cost frontier an ANN deployment reads before fixing its probe
  // count (FAISS's nprobe sweep; the IVF twin of d_lsh_tuning's banding
  // S-curve). One IVF build and one probe ranking are shared across the
  // sweep (cached; each nprobe point filters prn <= np — no rebuild);
  // recall joins against the exact brute-force ground truth; both
  // summary stats are exact integer counts divided ONCE at the end, so
  // every row is bit-deterministic and the whole sweep is one DuckDB
  // oracle. Cost: evaluation O(|queries| · nprobe · n/k) — the very
  // quantity the scanned-fraction column reports.
  def sProbeSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embs(s, dir).select(col("vec_id"), col("embedding"))
    val n = e.count()
    val cents = Centroids.sample(e)
    val nprobes = Seq(1L, 2L, 4L)
    // no .cache() on assigned/probes: the fused sweep below references
    // each exactly once (inside the eager'd `scored` build)
    val assigned = Centroids.rankByCosine(e, cents, "vec_id", "embedding")
      .select(col("vec_id"), col("embedding"), col("c_id").as("bucket"))
    val q = e.filter(col("vec_id") < 5).toDF("q_id", "qe")
    val probes = Centroids.rankByCosine(q, cents, "q_id", "qe", nprobes.max.toInt)
      .select(col("q_id"), col("qe"), col("c_id").as("bucket_p"), col("crn").as("prn"))
    val bf = topkBruteforceUnsorted(s, dir).select(col("q_id"), col("vec_id"))
    // ONE query for the whole sweep: an nprobe-np point's candidate set is
    // exactly the rows whose bucket PROBE RANK (prn) is <= np, so the
    // deepest probe's scored set — cosines computed ONCE — fans out to
    // every point through an explode over the tiny nprobe list. Before,
    // each of the 3 points ran TWO driver actions (recall + scanned count)
    // that each re-scanned its buckets: 6 sequential jobs and ~3.5x the
    // cosine evaluations of the deepest point alone (1+1+2+2+4+4 vs 4
    // bucket-units). eager: `scored` feeds the rank and the scanned-count
    // subtrees, which AQE fires concurrently (GraftSession.eager doc).
    val npDf = broadcast(nprobes.toDF("nprobe"))
    val scored = graft.GraftSession.eager(
      assigned.join(broadcast(probes), col("bucket") === col("bucket_p"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos_r", round(expr("cosine_sim(embedding, qe)"), 6))
        .select(col("q_id"), col("vec_id"), col("cos_r"), col("prn")))
    // per-(q, np) rank: the ordering ends in the unique vec_id, so the
    // point sets are identical to the per-point rankTopK's; a partition
    // holds one probe set's candidates — at most `nprobes.max` buckets,
    // but as many rows as those buckets hold (the cap bounds the bucket
    // count, not the rows per bucket)
    val wRank = Window.partitionBy("q_id", "nprobe")
      .orderBy(desc("cos_r"), asc("vec_id"))
    val ranked = scored.join(npDf, col("prn") <= col("nprobe"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= K)
      .select(col("nprobe").as("rnp"), col("q_id").as("iq_id"), col("vec_id").as("ivec_id"))
    val scanned = scored.join(npDf, col("prn") <= col("nprobe"))
      .groupBy("nprobe").agg(count(lit(1)).as("scanned0"))
    val rec = bf.crossJoin(npDf)
      .join(ranked, col("nprobe") === col("rnp") && col("q_id") === col("iq_id") &&
        col("vec_id") === col("ivec_id"), "left")
      .groupBy("nprobe", "q_id").agg(count(col("ivec_id")).as("h"))
      .groupBy("nprobe").agg(count(lit(1)).as("n_queries"), sum("h").as("th"))
    // the two ratios round via Spark's round (HALF_UP, same as DuckDB's) —
    // a driver-side rint would be HALF_EVEN and can differ by 1e-6.
    // left join + coalesce: an nprobe point whose buckets held no
    // candidates must report scanned = 0, exactly like the old per-point
    // count over an empty relation
    rec.join(scanned, Seq("nprobe"), "left")
      .withColumn("scanned", coalesce(col("scanned0"), lit(0L)))
      .select(col("nprobe"), col("n_queries"), col("scanned"),
        round(col("th").cast("double") /
          (col("n_queries") * lit(K)).cast("double"), 6).as("mean_recall"),
        round(col("scanned").cast("double") /
          (col("n_queries") * lit(n)).cast("double"), 6).as("mean_scanned_frac"))
      .orderBy("nprobe")
  }

  private val sProbeSweepSql = {
    // one sweep point: probe the np nearest buckets, rank in-bucket
    // candidates, count brute-force hits and scanned candidates
    def point(np: Int): String =
      s"""p_$np AS (SELECT q_id, qe, qn, bucket FROM probes WHERE prn <= $np),
         |sc_$np AS (SELECT p.q_id, a.vec_id,
         |    round(list_sum(list_transform(range(1, len(a.embedding) + 1),
         |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(p.qe[i] AS DOUBLE)))
         |      / (a.nrm * p.qn), 6) AS cos_r
         |  FROM asg a JOIN p_$np p ON a.bucket = p.bucket AND a.vec_id <> p.q_id),
         |rk_$np AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_r DESC, vec_id) AS rank
         |  FROM sc_$np) WHERE rank <= $K),
         |hit_$np AS (SELECT b.q_id, COUNT(i.vec_id) AS h FROM bf b
         |  LEFT JOIN rk_$np i ON b.q_id = i.q_id AND b.vec_id = i.vec_id GROUP BY 1),
         |row_$np AS (SELECT CAST($np AS BIGINT) AS nprobe,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM hit_$np) AS n_queries,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM sc_$np) AS scanned,
         |    round((SELECT CAST(SUM(h) AS DOUBLE) FROM hit_$np)
         |      / ((SELECT COUNT(*) FROM hit_$np) * $K.0), 6) AS mean_recall,
         |    round((SELECT CAST(COUNT(*) AS DOUBLE) FROM sc_$np)
         |      / ((SELECT COUNT(*) FROM hit_$np) * (SELECT COUNT(*) FROM e)), 6)
         |      AS mean_scanned_frac)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |c AS (SELECT vec_id AS c_id, embedding AS ce, nrm AS cnrm FROM e ${Centroids.sqlTail()}),
       |asg AS (SELECT vec_id, embedding, nrm, bucket FROM (
       |    SELECT e.vec_id, e.embedding, e.nrm, c.c_id AS bucket,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        round(list_sum(list_transform(range(1, len(e.embedding) + 1),
       |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
       |          / (e.nrm * c.cnrm), 6) DESC, c.c_id) AS rn
       |    FROM e CROSS JOIN c) WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, embedding AS qe, nrm AS qn FROM e WHERE vec_id < 5),
       |probes AS (SELECT q_id, qe, qn, bucket, prn FROM (
       |    SELECT q.q_id, q.qe, q.qn, c.c_id AS bucket,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
       |        round(list_sum(list_transform(range(1, len(q.qe) + 1),
       |          i -> CAST(q.qe[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
       |          / (q.qn * c.cnrm), 6) DESC, c.c_id) AS prn
       |    FROM q CROSS JOIN c)),
       |bf AS (SELECT q_id, vec_id FROM ($sTopkBruteforceSql)),
       |${point(1)},
       |${point(2)},
       |${point(4)}
       |SELECT * FROM row_1 UNION ALL SELECT * FROM row_2 UNION ALL
       |SELECT * FROM row_4 ORDER BY nprobe""".stripMargin
  }

  // --- s_recall_refined: recall@k of the IVF index under the RAW
  // hash-rank centroid sample vs [[Centroids.refine]]d centroids (two
  // deterministic quantized Lloyd steps over a bounded 2048-vector
  // training sample), both against the exact brute-force ground truth —
  // the graded evidence that refinement is worth its cost before a 100 TB
  // index build commits to it. Everything is bit-deterministic (hash-rank
  // sampling, quantized integer recentering, round6 cosine), so the WHOLE
  // comparison — including both Lloyd steps — is stated as a DuckDB
  // oracle (the sKmeans a1/m/c1/a2 CTE pattern, plus the dead-centroid
  // keep rule as a LEFT JOIN coalesce). Mean recall is an exact integer
  // hit-count divided once at the end (no order-sensitive double
  // accumulation). Cost: evaluation is O(|queries|·k); refinement is
  // O(sampleN·k·iters) with constant-size broadcasts — corpus-size-free.
  def sRecallRefined(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"), col("embedding"))
    val bf = topkBruteforceUnsorted(s, dir).select(col("q_id"), col("vec_id"))
    def meanRecall(variant: String, cents: Option[DataFrame]): DataFrame = {
      val iv = topkIvfUnsorted(s, dir, cents)
        .select(col("q_id").as("iq_id"), col("vec_id").as("ivec_id"))
      bf.join(iv, col("q_id") === col("iq_id") &&
          col("vec_id") === col("ivec_id"), "left")
        .groupBy("q_id").agg(count(col("ivec_id")).as("h"))
        .agg(count(lit(1)).as("n_queries"), sum("h").as("th"))
        .select(lit(variant).as("variant"), col("n_queries"),
          round(col("th").cast("double") /
            (col("n_queries") * lit(K)).cast("double"), 6).as("mean_recall"))
    }
    val refined = Centroids.refine(e)
      .select(col("c_id"), expr("transform(ce, x -> cast(x as float))").as("ce"))
    meanRecall("raw_sample", None)
      .unionAll(meanRecall("refined", Some(refined)))
      .orderBy("variant")
  }

  private val sRecallRefinedSql = {
    // one Lloyd step: assign the quantized training sample to `cin`'s
    // nearest centroid (L2, ties by c_id), recenter by exact integer mean,
    // dead centroids keep their position (the refine() coalesce rule)
    def lloyd(cin: String, cout: String): String =
      s"""a_$cout AS (SELECT vec_id, qv, c_id FROM (
         |    SELECT t.vec_id, t.qv, c.c_id,
         |      ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY
         |        list_sum(list_transform(range(1, len(t.qv) + 1),
         |          i -> (CAST(t.qv[i] AS DOUBLE) / 1000000.0 - c.ce[i])
         |             * (CAST(t.qv[i] AS DOUBLE) / 1000000.0 - c.ce[i]))), c.c_id) AS rn
         |    FROM tr t CROSS JOIN $cin c) WHERE rn = 1),
         |m_$cout AS (SELECT c_id, i,
         |    CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS mv
         |  FROM (SELECT c_id, unnest(range(1, len(qv) + 1)) AS i, unnest(qv) AS x
         |    FROM a_$cout) GROUP BY c_id, i),
         |r_$cout AS (SELECT c_id, list(mv ORDER BY i) AS nce FROM m_$cout GROUP BY c_id),
         |$cout AS (SELECT c.c_id, coalesce(r.nce, c.ce) AS ce
         |  FROM $cin c LEFT JOIN r_$cout r ON r.c_id = c.c_id)""".stripMargin
    // one IVF pass over centroid CTE `c` (columns c_id, ce, cnrm) -> top-K
    def ivf(c: String, out: String): String =
      s"""asg_$out AS (SELECT vec_id, embedding, nrm, bucket FROM (
         |    SELECT e.vec_id, e.embedding, e.nrm, c.c_id AS bucket,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        round(list_sum(list_transform(range(1, len(e.embedding) + 1),
         |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
         |          / (e.nrm * c.cnrm), 6) DESC, c.c_id) AS rn
         |    FROM e CROSS JOIN $c c) WHERE rn = 1),
         |pr_$out AS (SELECT q_id, qe, qn, bucket FROM (
         |    SELECT q.q_id, q.qe, q.qn, c.c_id AS bucket,
         |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
         |        round(list_sum(list_transform(range(1, len(q.qe) + 1),
         |          i -> CAST(q.qe[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
         |          / (q.qn * c.cnrm), 6) DESC, c.c_id) AS prn
         |    FROM q CROSS JOIN $c c) WHERE prn <= 2),
         |$out AS (SELECT q_id, vec_id FROM (
         |    SELECT p.q_id, a.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
         |        round(list_sum(list_transform(range(1, len(a.embedding) + 1),
         |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(p.qe[i] AS DOUBLE)))
         |          / (a.nrm * p.qn), 6) DESC, a.vec_id) AS rank
         |    FROM asg_$out a JOIN pr_$out p
         |      ON a.bucket = p.bucket AND a.vec_id <> p.q_id) WHERE rank <= $K)""".stripMargin
    def recall(top: String, variant: String): String =
      s"""SELECT '$variant' AS variant, COUNT(*) AS n_queries,
         |  round(CAST(SUM(h) AS DOUBLE) / (COUNT(*) * $K), 6) AS mean_recall
         |FROM (SELECT b.q_id, COUNT(t.vec_id) AS h FROM bf b
         |  LEFT JOIN $top t ON t.q_id = b.q_id AND t.vec_id = b.vec_id
         |  GROUP BY 1)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS qe, nrm AS qn FROM e WHERE vec_id < 5),
       |bf AS (SELECT q_id, vec_id FROM (
       |    SELECT q.q_id, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
       |        round(list_sum(list_transform(range(1, len(e.embedding) + 1),
       |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
       |          / (e.nrm * q.qn), 6) DESC, e.vec_id) AS rank
       |    FROM e JOIN q ON e.vec_id <> q.q_id) WHERE rank <= $K),
       |craw AS (SELECT vec_id AS c_id, embedding AS ce, nrm AS cnrm FROM e ${Centroids.sqlTail()}),
       |tr AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 2048)),
       |c0 AS (SELECT c_id, list_transform(ce, x -> CAST(x AS DOUBLE)) AS ce FROM craw),
       |${lloyd("c0", "c1")},
       |${lloyd("c1", "c2")},
       |cref AS (SELECT c_id, list_transform(ce, x -> CAST(x AS REAL)) AS cef FROM c2),
       |crefn AS (SELECT c_id, cef AS ce,
       |    sqrt(list_sum(list_transform(cef, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cnrm
       |  FROM cref),
       |${ivf("craw", "top_raw")},
       |${ivf("crefn", "top_ref")}
       |SELECT * FROM (
       |  ${recall("top_raw", "raw_sample").replace("\n", "\n  ")}
       |  UNION ALL
       |  ${recall("top_ref", "refined").replace("\n", "\n  ")}
       |) ORDER BY variant""".stripMargin
  }

  // --- s_filtered_knn: metadata-filtered vector search — exact top-k
  // cosine restricted to vectors whose document is English (documents
  // joined on doc_id = vec_id). PRE-filter semantics (the filter narrows
  // the corpus before any scoring, the way Qdrant/Milvus filtered search
  // and FAISS IDSelector work), so recall over the filtered set is exact
  // by construction — unlike post-filtering a top-k, which can starve.
  // The filter is a key-only LEFT SEMI join (no document payload enters
  // the scan), queries broadcast as in s_topk_bruteforce.
  def sFilteredKnn(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"), col("embedding"))
    val en = GraftSession.table(s, dir, "documents")
      .filter(col("lang") === "en").select(col("doc_id"))
    val corpus = e.join(broadcast(en), col("vec_id") === col("doc_id"), "left_semi")
    val q = e.filter(col("vec_id") < 5).toDF("q_id", "qe")
    val scored = corpus.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos_r", round(expr("cosine_sim(embedding, qe)"), 6))
    rankTopK(scored, K, Seq(desc("cos_r"), asc("vec_id")), "rank")
      .withColumn("rank", col("rank").cast("long"))
      .select("q_id", "rank", "vec_id", "cos_r")
      .orderBy("q_id", "rank")
  }

  private val sFilteredKnnSql =
    s"""WITH e AS (SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |p AS (SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
       |    round(list_sum(list_transform(range(1, len(e.embedding) + 1),
       |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))
       |      / (e.nrm * q.nrm), 6) AS cos_r
       |  FROM e JOIN e q ON q.vec_id < 5 AND e.vec_id <> q.vec_id
       |  WHERE e.vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')),
       |r AS (SELECT q_id, vec_id, cos_r,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_r DESC, vec_id) AS BIGINT) AS rank
       |  FROM p)
       |SELECT q_id, rank, vec_id, cos_r FROM r WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  // --- s_score_dist: per-query cosine-score histogram over the whole
  // corpus (bin = floor(20·cos), i.e. 0.05-wide bins) — the distribution
  // diagnostic that picks s_range_search radii and similarity-dedup
  // thresholds before committing a scan. Scores round to 6 places BEFORE
  // binning so bin membership is bit-identical across engines; the
  // aggregate is map-side-combinable with O(|queries|·41) output rows at
  // any corpus size, and nothing but the broadcast query set moves.
  def sScoreDist(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 5).toDF("q_id", "qe")
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("bin", floor(round(expr("cosine_sim(embedding, qe)"), 6) * 20).cast("long"))
      .groupBy("q_id", "bin").agg(count(lit(1)).as("n"))
      .orderBy("q_id", "bin")
  }

  private val sScoreDistSql =
    """WITH e AS (SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |p AS (SELECT q.vec_id AS q_id,
      |    CAST(floor(round(list_sum(list_transform(range(1, len(e.embedding) + 1),
      |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))
      |      / (e.nrm * q.nrm), 6) * 20) AS BIGINT) AS bin
      |  FROM e JOIN e q ON q.vec_id < 5 AND e.vec_id <> q.vec_id)
      |SELECT q_id, bin, COUNT(*) AS n FROM p
      |GROUP BY q_id, bin ORDER BY q_id, bin""".stripMargin

  // --- s_pq_refine: the PQ refine-DEPTH calibration curve — mean recall@K
  // after exact re-rank of the ADC shortlist, for depth R in {10, 25, 50,
  // 100}: the PQ twin of s_probe_sweep's nprobe curve (FAISS's k_factor
  // sweep). One ADC scan at the DEEPEST depth is shared across the sweep
  // (each point filters srn <= R — no rescan) and the exact distances are
  // computed ONCE on that deepest shortlist; ground truth is exact L2
  // top-K over the corpus (the PQ pipeline's metric — s_topk_bruteforce is
  // the cosine twin, not reusable here). R=K is pure-ADC recall (re-ranking
  // exactly K candidates reorders but cannot change the set), so the first
  // point IS the unrefined baseline and the rise above it is what each
  // extra block of exact distance evaluations per query buys. Hit counts
  // are exact integers divided once at the end, so the whole curve is one
  // DuckDB oracle. Cost: O(|queries| · n) ADC lookups + O(|queries| · R)
  // exact distances — corpus scan once, refine work bounded by R.
  def sPqRefine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val depths = Seq(10, 25, 50, 100)
    val (shortlist, e) = pqAdcShortlist(s, dir, depths.max)
    def d2i(a: String, b: String) = s"l2sq_q6($a, $b)"
    val qv = e.filter(col("vec_id") < 5).toDF("q_id", "qfull")
    val truth = rankTopK(
        e.join(broadcast(qv), lit(true)).filter(col("vec_id") =!= col("q_id"))
          .withColumn("l2_i", expr(d2i("v", "qfull"))),
        K, Seq(asc("l2_i"), asc("vec_id")), "trn")
      .select(col("q_id").as("tq"), col("vec_id").as("tv"))
    // exact distances once, on the deepest shortlist only
    val slx = shortlist.join(e, "vec_id").join(broadcast(qv), "q_id")
      .withColumn("l2_i", expr(d2i("v", "qfull")))
      .select("q_id", "vec_id", "srn", "l2_i")
    // ONE query for the whole sweep: each depth point is the srn <= depth
    // prefix of the SAME shortlist, so the sweep is an explode over the
    // tiny depth list + a (q_id, depth)-partitioned rank — not |depths|
    // sequential driver actions each re-planning/re-scanning the cached
    // shortlist (4 jobs -> 1; per-point tie semantics identical: the
    // ordering ends in the unique vec_id, and a depth partition holds at
    // most `depth` <= 100 rows per query at ANY corpus size, so the plain
    // window is as bounded as rankTopK's two-level form).
    val depthsDf = broadcast(depths.map(_.toLong).toDF("depth"))
    val wRank = Window.partitionBy("q_id", "depth").orderBy(asc("l2_i"), asc("vec_id"))
    val ranked = slx.join(depthsDf, col("srn") <= col("depth"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= K)
      .select(col("depth").as("rd"), col("q_id").as("iq"), col("vec_id").as("iv"))
    // ratios round via Spark's round (HALF_UP, same as DuckDB's)
    truth.crossJoin(depthsDf)
      .join(ranked, col("depth") === col("rd") &&
        col("tq") === col("iq") && col("tv") === col("iv"), "left")
      .groupBy("depth", "tq").agg(count(col("iv")).as("h"))
      .groupBy("depth").agg(count(lit(1)).as("n_queries"), sum("h").as("th"))
      .select(col("depth"), col("n_queries"),
        round(col("th").cast("double") /
          (col("n_queries") * lit(K)).cast("double"), 6).as("mean_recall"))
      .orderBy("depth")
  }

  private val sPqRefineSql: String = {
    // one sweep point: exact-re-rank the depth-R prefix of the ADC
    // shortlist, count ground-truth hits
    def point(r: Int): String =
      s"""rk_$r AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY l2_i, vec_id) AS rank
         |  FROM rr WHERE srn <= $r) WHERE rank <= $K),
         |hit_$r AS (SELECT t.q_id, COUNT(i.vec_id) AS h FROM tr t
         |  LEFT JOIN rk_$r i ON t.q_id = i.q_id AND t.vec_id = i.vec_id GROUP BY 1),
         |row_$r AS (SELECT CAST($r AS BIGINT) AS depth,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM hit_$r) AS n_queries,
         |    round((SELECT CAST(SUM(h) AS DOUBLE) FROM hit_$r)
         |      / ((SELECT COUNT(*) FROM hit_$r) * $K.0), 6) AS mean_recall)""".stripMargin
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |subs AS (SELECT vec_id, m, v[m * 16 + 1 : m * 16 + 16] AS sv
       |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS m)),
       |code AS (SELECT vec_id AS c_id, m AS cm, sv AS cv FROM subs
       |  WHERE vec_id IN (SELECT vec_id FROM e ${Centroids.sqlTail(Centroids.PqK)})),
       |enc AS (SELECT vec_id, m, code FROM (
       |    SELECT s.vec_id, s.m, c.c_id AS code,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
       |        CAST(round(list_sum(list_transform(range(1, 17),
       |          i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) * 1000000) AS BIGINT),
       |        c.c_id) AS rn
       |    FROM subs s JOIN code c ON s.m = c.cm) WHERE rn = 1),
       |dt AS (SELECT q.vec_id AS q_id, q.m, c.c_id AS code,
       |    CAST(round(list_sum(list_transform(range(1, 17),
       |      i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i]))) * 1000000) AS BIGINT) AS qd_i
       |  FROM subs q JOIN code c ON q.m = c.cm WHERE q.vec_id < 5),
       |sl AS (SELECT q_id, vec_id, srn FROM (
       |    SELECT d.q_id, a.vec_id, SUM(d.qd_i) AS adc_i,
       |      ROW_NUMBER() OVER (PARTITION BY d.q_id ORDER BY SUM(d.qd_i), a.vec_id) AS srn
       |    FROM enc a JOIN dt d ON a.m = d.m AND a.code = d.code AND a.vec_id <> d.q_id
       |    GROUP BY 1, 2) WHERE srn <= 100),
       |rr AS (SELECT sl.q_id, sl.vec_id, sl.srn,
       |    CAST(round(list_sum(list_transform(range(1, len(e.v) + 1),
       |      i -> (e.v[i] - q.v[i]) * (e.v[i] - q.v[i]))) * 1000000) AS BIGINT) AS l2_i
       |  FROM sl JOIN e ON e.vec_id = sl.vec_id JOIN e q ON q.vec_id = sl.q_id),
       |tr AS (SELECT q_id, vec_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        CAST(round(list_sum(list_transform(range(1, len(e.v) + 1),
       |          i -> (e.v[i] - q.v[i]) * (e.v[i] - q.v[i]))) * 1000000) AS BIGINT),
       |        e.vec_id) AS rank
       |    FROM e CROSS JOIN e q WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id)
       |  WHERE rank <= $K),
       |${point(10)},
       |${point(25)},
       |${point(50)},
       |${point(100)}
       |SELECT * FROM row_10 UNION ALL SELECT * FROM row_25 UNION ALL
       |SELECT * FROM row_50 UNION ALL SELECT * FROM row_100 ORDER BY depth""".stripMargin
  }

  // --- s_nn_descent: kNN-graph construction by NN-DESCENT (Dong et al.,
  // WWW'11) — the sub-n^1.5 tier §5 names beyond s_knn_graph's blocked
  // construction. Each vector seeds K GLOBAL pseudo-random neighbors
  // (md5-derived rank targets — seeding from disjoint local buckets is a
  // correctness trap: buckets are closed under the 2-hop walk, so descent
  // can never escape them; measured recall stays frozen at the seed's 6%);
  // each round proposes the 2-hop neighborhood of the UNDIRECTED current
  // graph ("a neighbor of my neighbor is probably my neighbor") and keeps
  // the exact-distance top-K — O(n·(2K)²) candidates per round, LINEAR in
  // n for fixed K where the blocked build pays Θ(n^1.5). Measured at
  // sf0.01: recall vs the exact graph climbs 1.5% → 39% → 64% → 75% over
  // the three rounds. Every step is deterministic (md5 seeds, integer
  // l2sq_q6 distances, (d, id) tie-breaks), so the DuckDB oracle restates
  // init + all rounds verbatim; convergence quality is graded separately
  // in PipelineSpec. The init's global row_number is a one-time two-pass
  // rank assignment (the zipWithIndex analogue), not a per-round cost.
  private val NndK = 8
  private val NndIters = 3

  /** Exact-distance top-K edge refresh over a (v, w) candidate set. */
  private def nndTopK(e: DataFrame, cand: DataFrame): DataFrame = {
    val withVec = cand
      .join(e.toDF("v", "ev"), "v")
      .join(e.toDF("w", "ew"), "w")
      .withColumn("d", expr("l2sq_q6(ev, ew)"))
      .select("v", "w", "d")
    val wRank = Window.partitionBy("v").orderBy(asc("d"), asc("w"))
    withVec.withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= NndK)
      .select("v", "w", "d")
  }

  /** The deterministic global seed edges: partner j of v targets rank
    * md5int(v || '#' || j) mod n — uniform over the corpus, reproducible
    * in DuckDB from the same 8 md5 hex chars. The dense 0..n-1 rank is
    * assigned DISTRIBUTED (the x_pack two-pass pattern): ranks within
    * id-range stripes plus collected per-stripe offsets — no global
    * single-task window; the driver holds one row per stripe. */
  private[graft] def nndSeeds(e: DataFrame, n: Long): DataFrame = {
    val s = e.sparkSession
    val stripe = 1L << 20
    val withB = e.select(col("vec_id")).withColumn("bk", floor(col("vec_id") / stripe))
    val counts = withB.groupBy("bk").agg(count(lit(1)).as("cnt"))
      .orderBy("bk").collect() // one row per occupied id-range stripe
    var acc = 0L
    val offRows = counts.map { r =>
      val o = (r.getLong(0), acc); acc += r.getLong(1); o
    }.toSeq
    import s.implicits._
    val offDf = offRows.toDF("bk", "off")
    val rk = withB
      .withColumn("rwn",
        row_number().over(Window.partitionBy("bk").orderBy("vec_id")).cast("long"))
      .join(broadcast(offDf), "bk")
      .select(col("vec_id"), (col("off") + col("rwn") - 1).as("r"))
    val targets = rk.select(col("vec_id").as("v"),
        explode(array((1 to NndK).map(lit): _*)).as("j"))
      .withColumn("tr",
        conv(substring(md5(concat(col("v").cast("string"), lit("#"),
          col("j").cast("string")).cast("binary")), 1, 8), 16, 10)
          .cast("long") % n)
    targets.join(rk.toDF("w", "r"), col("tr") === col("r"))
      .filter(col("v") =!= col("w"))
      .select("v", "w")
  }

  /** One NN-descent refine round: propose the 2-hop neighborhood of the
    * undirected current graph plus the current edges, keep the exact top-K.
    * The union with current edges makes each node's kept distances
    * NON-INCREASING across rounds, and a true top-K member can only ever
    * be displaced by another true top-K member — so graph quality (and
    * recall vs the exact graph) improves monotonically. */
  private def nndRound(e: DataFrame, edges: DataFrame): DataFrame = {
    val und = edges.select("v", "w")
      .unionAll(edges.select(col("w").as("v"), col("v").as("w"))).distinct()
    val twoHop = und.toDF("v", "u")
      .join(und.toDF("u2", "w"), col("u") === col("u2") && col("v") =!= col("w"))
      .select("v", "w")
    val cand = twoHop.unionAll(edges.select("v", "w")).distinct()
    nndTopK(e, cand).localCheckpoint()
  }

  /** Production NN-descent: the same deterministic seeds and refine round
    * as the graded op, but iteration stops the standard way (Dong et al.
    * WWW'11 §2.3) — when a round replaces fewer than `delta`·n·K edges,
    * the graph has converged and further 2-hop rounds are wasted work.
    * An already-good corpus stops after one cheap round; a cold one runs
    * up to `maxIters`. The per-round update count is one anti-join over
    * the O(n·K) edge sets — noise against the round's own candidate
    * generation. Returns the final (v, w, d) edges and the rounds run.
    * The graded sNnDescent keeps FIXED rounds so its DuckDB oracle can
    * restate the computation verbatim; PipelineSpec pins that this
    * variant's recall is equal-or-better than the fixed-3 graph's — a
    * STRUCTURAL guarantee, not a statistical one: the delta-stop is only
    * consulted from round `minIters` (= the graded op's round count) on,
    * and each round's kept top-K takes the best of {current edges ∪ 2-hop
    * candidates}, so per-slot distances are non-increasing in rounds and
    * the converged graph can never land below the fixed-`minIters` one. */
  private[graft] def nnDescentConverged(e: DataFrame, n: Long,
      maxIters: Int = 10, delta: Double = 0.01,
      minIters: Int = NndIters): (DataFrame, Int) = {
    var edges = nndTopK(e, nndSeeds(e, n)).localCheckpoint()
    var iters = 0
    var done = false
    while (iters < maxIters && !done) {
      val next = nndRound(e, edges)
      val updates = next.join(edges.select("v", "w"), Seq("v", "w"), "left_anti").count()
      edges = next
      iters += 1
      if (iters >= minIters && updates < delta * n * NndK) done = true
    }
    (edges, iters)
  }

  def sNnDescent(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("ve"))
      .localCheckpoint() // materialize the double cast once for all rounds
    val n = e.count()
    var edges = nndTopK(e, nndSeeds(e, n)).localCheckpoint()
    (1 to NndIters).foreach(_ => edges = nndRound(e, edges))
    val wRank = Window.partitionBy("v").orderBy(asc("d"), asc("w"))
    edges.withColumn("rank", row_number().over(wRank).cast("long"))
      .select(col("v").as("vec_id"), col("rank"), col("w").as("nbr_id"), col("d").as("l2_q6"))
      .orderBy("vec_id", "rank")
  }

  private val sNnDescentSql = {
    val dist =
      """CAST(round(list_sum(list_transform(range(1, len(ea.ve) + 1),
        |        i -> (ea.ve[i] - eb.ve[i]) * (ea.ve[i] - eb.ve[i]))) * 1000000) AS BIGINT)""".stripMargin
    def topK(cand: String, out: String): String =
      s"""$out AS (SELECT v, w, d FROM (
         |    SELECT c.v, c.w, $dist AS d,
         |      ROW_NUMBER() OVER (PARTITION BY c.v ORDER BY $dist, c.w) AS rn
         |    FROM $cand c JOIN e ea ON ea.vec_id = c.v JOIN e eb ON eb.vec_id = c.w)
         |  WHERE rn <= $NndK)""".stripMargin
    def round(prev: String, undOut: String, candOut: String, out: String): String =
      s"""$undOut AS (SELECT v, w FROM $prev UNION SELECT w, v FROM $prev),
         |$candOut AS (SELECT a.v, b.w FROM $undOut a JOIN $undOut b
         |    ON a.w = b.v AND a.v <> b.w
         |  UNION SELECT v, w FROM $prev),
         |${topK(candOut, out)}""".stripMargin
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
       |nn AS (SELECT COUNT(*) AS n FROM e),
       |rk AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS r FROM e),
       |i0 AS (SELECT a.vec_id AS v, b.vec_id AS w
       |  FROM rk a, range(1, ${NndK + 1}) j(j), rk b, nn
       |  WHERE b.r = CAST(('0x' || substr(md5(CAST(a.vec_id AS VARCHAR) || '#'
       |      || CAST(j.j AS VARCHAR)), 1, 8)) AS BIGINT) % nn.n
       |    AND b.vec_id <> a.vec_id),
       |${topK("i0", "e0")},
       |${round("e0", "u1", "c1", "e1")},
       |${round("e1", "u2", "c2", "e2")},
       |${round("e2", "u3", "c3", "e3")}
       |SELECT v AS vec_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY v ORDER BY d, w) AS BIGINT) AS rank,
       |  w AS nbr_id, d AS l2_q6
       |FROM e3 ORDER BY vec_id, rank""".stripMargin
  }

  override val all: Seq[QueryDef] = Seq(
    QueryDef("s_nn_descent", sNnDescent, Some(sNnDescentSql)),
    QueryDef("s_filtered_knn", sFilteredKnn, Some(sFilteredKnnSql)),
    QueryDef("s_score_dist", sScoreDist, Some(sScoreDistSql)),
    QueryDef("s_cluster_quality", sClusterQuality, Some(sClusterQualitySql)),
    QueryDef("s_recall_eval", sRecallEval, Some(sRecallEvalSql)),
    QueryDef("s_recall_refined", sRecallRefined, Some(sRecallRefinedSql)),
    QueryDef("s_probe_sweep", sProbeSweep, Some(sProbeSweepSql)),
    QueryDef("s_topk_bruteforce", sTopkBruteforce, Some(sTopkBruteforceSql)),
    QueryDef("s_topk_ivf", sTopkIvf, Some(sTopkIvfSql)),
    QueryDef("s_kmeans", sKmeans, Some(sKmeansSql)),
    QueryDef("s_topk_pq", sTopkPq, Some(sTopkPqSql)),
    QueryDef("s_ivf_pq", sIvfPq, Some(sIvfPqSql)),
    QueryDef("s_pq_error", sPqError, Some(sPqErrorSql)),
    QueryDef("s_pq_refine", sPqRefine, Some(sPqRefineSql)),
    QueryDef("s_outliers", sOutliers, Some(sOutliersSql)),
    QueryDef("s_centroid_balance", sCentroidBalance, Some(sCentroidBalanceSql)),
    QueryDef("s_range_search", sRangeSearch, Some(sRangeSearchSql)),
    QueryDef("s_ivf_incremental", sIvfIncremental, Some(sIvfIncrementalSql)),
    QueryDef("s_mips", sMips, Some(sMipsSql)),
    QueryDef("s_knn_graph", sKnnGraph, Some(sKnnGraphSql)))
}
