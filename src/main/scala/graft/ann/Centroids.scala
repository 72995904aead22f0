package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic FIXED-k centroid sampling shared by the IVF-style
  * operators (s_topk_ivf, s_ivf_incremental, s_knn_graph,
  * s_cluster_quality, d_semdedup) and the PQ codebook (s_topk_pq).
  *
  * The centroid set is the k corpus vectors with the smallest
  * `md5(cast(vec_id as string))` (ties by vec_id) — a pseudo-random but
  * bit-deterministic sample whose SIZE DOES NOT GROW WITH THE CORPUS.
  * The earlier `vec_id % 100 == 0` rule made #centroids = n/100, so the
  * broadcast grew linearly and nearest-centroid assignment cost
  * O(n²/100) — the one remaining quadratic in the ANN family. With a
  * constant k the assignment is O(n·k), the centroid table is a
  * fixed-size broadcast at any corpus size, and Spark evaluates the
  * sample as a single TakeOrderedAndProject pass (per-partition k-heap,
  * no global sort shuffle).
  *
  * Both engines agree bit-for-bit: Spark's `md5` and DuckDB's `md5` emit
  * the same lowercase-hex string for the same decimal rendering of the
  * id, and hex-string ordering is plain byte order in both. The DuckDB
  * mirror of [[sample]] is
  * `SELECT ... FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT k`.
  *
  * At a real 100 TB deployment k becomes a tuning knob (IVF practice:
  * k ≈ √n, refreshed by a bounded-sample k-means as the corpus grows);
  * every operator here takes the sample as a parameter so only the
  * constant changes.
  */
object Centroids {

  /** Default centroid count for the IVF-style operators. */
  val K = 16

  /** Codeword count per PQ subspace (FAISS-style codebooks are fixed at
    * 2^b entries — 256 for 8-bit codes; 64 here keeps the oracle's
    * cross-join cheap at test scale while staying corpus-size-free). */
  val PqK = 64

  /** The hash-rank order: smallest md5 of the decimal id, ties by id. */
  private def hashRank(idCol: String) =
    Seq(asc_nulls_first("_hr"), asc(idCol))

  /** k ids sampled by hash rank — one TakeOrderedAndProject pass. */
  def sampleIds(e: DataFrame, k: Int, idCol: String = "vec_id"): DataFrame =
    e.select(col(idCol), md5(col(idCol).cast("string")).as("_hr"))
      .orderBy(hashRank(idCol): _*)
      .limit(k)
      .select(idCol)

  /** k (vec_id, embedding) centroids as (c_id, ce). */
  def sample(e: DataFrame, k: Int = K): DataFrame =
    e.select(col("vec_id"), col("embedding"),
        md5(col("vec_id").cast("string")).as("_hr"))
      .orderBy(hashRank("vec_id"): _*)
      .limit(k)
      .select(col("vec_id").as("c_id"), col("embedding").as("ce"))

  /** The DuckDB mirror of the sampling rule, as a WHERE/ORDER tail to
    * splice into a `FROM e` CTE. */
  def sqlTail(k: Int = K): String =
    s"ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k"

  /** Corpus-scaled centroid count for the PAIR-SCAN operators (s_knn_graph,
    * d_semdedup): k = max(K, ceil(sqrt n)). A FIXED k makes any in-bucket
    * pair scan quadratic (bucket size n/k → pairs n²/k — measured ×34 for
    * 10× data on the round-9 sweep); k ≈ √n is the optimum of the
    * single-level blocked-kNN cost n·k + n²/k, giving Θ(n^1.5) total —
    * the standard bound, stated in each op's EXPLAINED sweep entry.
    * Assignment-only operators (s_topk_ivf etc.) keep the constant K:
    * their cost is O(n·k), where a GROWING k would only hurt. */
  def scaledK(n: Long): Int =
    math.max(K, math.ceil(math.sqrt(math.max(0L, n).toDouble)).toInt)

  /** DuckDB mirror of `sample(e, scaledK(n))`: selects `proj` from a CTE
    * named `e` (which must expose vec_id), ranked by the same hash order,
    * with k recomputed from the corpus count inside the query — both
    * engines evaluate ceil(sqrt(n)) on the same exact integer, so the
    * cut is bit-deterministic. */
  def sqlScaledSample(proj: String): String =
    s"""SELECT $proj FROM (
       |    SELECT *, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS _hr,
       |      COUNT(*) OVER () AS _n FROM e)
       |  WHERE _hr <= GREATEST($K, CAST(ceil(sqrt(_n)) AS BIGINT))""".stripMargin

  /** Ranks every centroid of `cents` (c_id, ce) against each row's vector
    * column `vec`, per row id `id`: `c_cos` = round6 cosine, rank `crn` by
    * (c_cos desc, c_id asc), keeping ranks <= `n`. One broadcast cross
    * join plus one window — the nearest-centroid assignment (n = 1),
    * multi-assignment and probe ranking of every IVF-style operator. The
    * DuckDB oracles restate it as
    * `ROW_NUMBER() OVER (PARTITION BY id ORDER BY round(cos, 6) DESC, c_id)`.
    * Needs `cosine_sim` registered ([[graft.functions.GraftFunctions]]). */
  def rankByCosine(df: DataFrame, cents: DataFrame, id: String, vec: String,
      n: Int = 1): DataFrame = {
    val w = Window.partitionBy(id).orderBy(desc("c_cos"), asc("c_id"))
    df.join(broadcast(cents), lit(true))
      .withColumn("c_cos", round(expr(s"cosine_sim($vec, ce)"), 6))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") <= n)
  }

  /** An `embedding` column quantized to integer micro-units (`qv`), the
    * exact arithmetic of the k-means step below. */
  def quantized: Column =
    expr("transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))")
      .as("qv")

  /** The k-means assignment step: each (vec_id, qv) row's nearest centroid
    * of `cents` (c_id, ce: array<double>) by squared L2 over the quantized
    * vector, distance ties broken by c_id; adds c_id, ce and `dist`. */
  def nearestL2(q: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(asc("dist"), asc("c_id"))
    q.join(broadcast(cents), lit(true))
      .withColumn("dist", expr(
        """aggregate(zip_with(qv, ce, (x, c) ->
          |  (cast(x as double) / 1000000.0 - c) * (cast(x as double) / 1000000.0 - c)),
          |  cast(0.0 as double), (a, v) -> a + v)""".stripMargin))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
  }

  /** The k-means recenter step: each centroid's new position (c_id, ce) is
    * the exact integer sum of its members' `qv` divided by their count —
    * order-independent, so bit-identical across runs and engines. A
    * centroid with no members has no row. */
  def recenter(assigned: DataFrame): DataFrame =
    assigned.select(col("c_id"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy("c_id", "pos")
      .agg((sum("x").cast("double") / count(lit(1)).cast("double") / lit(1000000.0)).as("mv"))
      .groupBy("c_id")
      .agg(expr("transform(array_sort(collect_list(struct(pos, mv))), p -> p.mv)").as("ce"))

  /** Bounded-sample k-means refinement of the hash-rank centroid sample —
    * the "k-means|| on a sample" step SURVEY §5 promises for IVF recall at
    * scale. Hash-rank sampling bounds COST but not QUALITY (a random
    * sample is not a clustering); this runs `iters` Lloyd iterations over
    * a FIXED-SIZE training sample (`sampleN` hash-rank vectors, so the
    * refinement cost is corpus-size-free: O(sampleN·k·iters) with a
    * constant-size broadcast per step), starting from [[sample]]'s k
    * seeds.
    *
    * Every step is the [[nearestL2]] + [[recenter]] pair s_kmeans runs:
    * embeddings quantize to integer micro-units, assignment breaks
    * distance ties by centroid id, and recentering is an exact integer sum
    * divided by the count — bit-reproducible across runs and engines.
    * Standard Lloyd monotonicity holds: the training objective never
    * increases. A centroid that loses every member keeps its previous
    * position (FAISS empty-cluster convention, minus the random re-seed —
    * determinism wins here).
    *
    * The ORACLE-verified operators keep the raw [[sample]] (mirroring
    * `iters` Lloyd steps in every IVF oracle would bloat the SQL beyond
    * review); refinement is opt-in for deployments, property-tested in
    * PipelineSpec (determinism + objective improvement + recall
    * non-degradation). */
  def refine(e: DataFrame, k: Int = K, iters: Int = 2, sampleN: Int = 2048): DataFrame = {
    val train = e.select(col("vec_id"), quantized,
        md5(col("vec_id").cast("string")).as("_hr"))
      .orderBy(hashRank("vec_id"): _*)
      .limit(sampleN)
      .select("vec_id", "qv")
      .cache()
    var cents = sample(e, k)
      .select(col("c_id"),
        expr("transform(ce, x -> cast(x as double))").as("ce"))
    for (_ <- 1 to iters) {
      val moved = recenter(nearestL2(train, cents)).withColumnRenamed("ce", "nce")
      cents = cents.join(moved, Seq("c_id"), "left")
        .select(col("c_id"), coalesce(col("nce"), col("ce")).as("ce"))
      // tiny (k rows): materialize each step so the loop's lineage stays flat
      cents = cents.sparkSession.createDataFrame(
        cents.collectAsList(), cents.schema)
    }
    train.unpersist()
    cents
  }

  /** Mean nearest-centroid squared distance of `e`'s vectors under
    * `cents` — the k-means objective, used to measure centroid quality
    * (lower is better). Same quantized arithmetic as [[refine]]. */
  def objective(e: DataFrame, cents: DataFrame): Double =
    nearestL2(e.select(col("vec_id"), quantized), cents)
      .agg(avg("dist")).head().getDouble(0)
}
