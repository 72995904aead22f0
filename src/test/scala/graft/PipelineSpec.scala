package graft

import graft.ann.Ann
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Properties of the approximate (rows-only-oracle) operators that DuckDB
  * can't check: LSH recall, SimHash banding, IVF recall, multimodal decode
  * plumbing. */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = GraftSession.builder("graft-test", "4").getOrCreate()
  private val sfSmall = "/root/testdata/sf0.001"
  private val sfDup = "/root/testdata/sf0.1" // only sf with exact-dup documents

  override def afterAll(): Unit = spark.stop()

  test("q_sessions agrees with st_sessionize on every user (two independent formulations)") {
    // both split at 30-min gaps with (ts, event_id) ordering; the per-user
    // rollup of the streaming family's per-session report must equal the
    // query battery's direct aggregate exactly
    val fromSessions = graft.streaming.StreamingOps.stSessionize(spark, sfSmall)
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_sessions"),
        org.apache.spark.sql.functions.max("n_events").as("longest_session"),
        org.apache.spark.sql.functions.sum("n_events").as("n_events"))
    val direct = graft.operators.Queries.qSessions(spark, sfSmall)
    assert(fromSessions.exceptAll(direct).isEmpty && direct.exceptAll(fromSessions).isEmpty,
      "sessionization formulations disagree")
  }

  test("minhash-LSH recovers every high-jaccard pair (recall on near-dups)") {
    val exact = Dedup.dNgramJaccard(spark, sfDup)
      .filter(col("jac") >= 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.dMinhashLsh(spark, sfDup)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data has no near-dup pairs — spec is vacuous")
    assert(exact.subsetOf(lsh), s"LSH missed ${exact -- lsh}")
  }

  test("minhash-LSH output is a subset of the exact jaccard pairs (no false positives)") {
    val exact = Dedup.dNgramJaccard(spark, sfDup)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.dMinhashLsh(spark, sfDup)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
  }

  test("embedding LSH finds every planted near-dup with a sub-quadratic candidate set") {
    val out = Dedup.dEmbedLsh(spark, sfSmall).collect()
    val nPlanted = GraftSession.table(spark, sfSmall, "embeddings")
      .filter(col("vec_id") % 10 === 0).count()
    assert(out.length == nPlanted, s"expected $nPlanted planted pairs, got ${out.length}")
    assert(out.forall(_.getDouble(2) >= 0.95))
    // every pair is (original, its planted copy)
    assert(out.forall(r => r.getLong(1) == r.getLong(0) + 100000L))
  }

  test("simhash finds exact-dup documents at hamming distance 0") {
    val dups = Dedup.dExact(spark, sfDup).filter(col("n_copies") > 1)
    assert(dups.count() > 0)
    val sim = Dedup.dSimhash(spark, sfDup).filter(col("hd") === 0).count()
    assert(sim >= dups.count(), s"simhash found $sim hd=0 pairs")
  }

  test("near-dup components: labels are component minima and every pair is intra-cluster") {
    val comps = Dedup.dNeardupClusters(spark, sfSmall).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a label never exceeds its vertex and is itself labeled as a root
    assert(comps.forall { case (v, l) => l <= v && comps.get(l).contains(l) },
      "labels are not component minima")
    // the closure property: both endpoints of every jac >= 0.5 pair share
    // a cluster (dNgramJaccard emits exactly that pair set)
    val pairs = Dedup.dNgramJaccard(spark, sfSmall).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "no near-dup pairs at this SF — test is vacuous")
    assert(pairs.forall { case (a, b) => comps(a) == comps(b) },
      "a candidate pair crosses clusters")
  }

  test("large-star/small-star CC: chain, star, ring, forest, and empty graphs") {
    import spark.implicits._
    def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
      graft.dedup.ConnectedComponents.run(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // chain 0-1-2-...-63: diameter 63, the case plain label propagation
    // needs 63 rounds for; star contraction must still find min 0
    val chain = cc((0L until 63L).map(i => (i, i + 1)))
    assert(chain.size == 64 && chain.values.forall(_ == 0L), s"chain: $chain")
    // star centered at the LARGEST id (worst case for downward edges)
    val star = cc((0L until 20L).map(i => (99L, i)))
    assert(star.size == 21 && star.values.forall(_ == 0L), s"star: $star")
    // ring 10..19 closed: component min 10
    val ring = cc((10L until 19L).map(i => (i, i + 1)) :+ (19L, 10L))
    assert(ring.size == 10 && ring.values.forall(_ == 10L), s"ring: $ring")
    // forest: two components + an isolated self-contained pair, plus
    // duplicate and reversed edges (run() must canonicalize)
    val forest = cc(Seq((5L, 3L), (3L, 5L), (3L, 7L), (100L, 200L), (200L, 100L)))
    assert(forest == Map(3L -> 3L, 5L -> 3L, 7L -> 3L, 100L -> 100L, 200L -> 100L))
    // empty pair graph: must return an empty frame, not NPE on a null
    // aggregate (the round-7 ADVICE crash)
    val empty = graft.dedup.ConnectedComponents.run(
      Seq.empty[(Long, Long)].toDF("a", "b"))
    assert(empty.collect().isEmpty)
    assert(empty.columns.toSeq == Seq("v", "lab"))
    // self-loops: a vertex appearing ONLY in self-loops is labeled (by
    // itself), identically whether or not real edges accompany it — the
    // round-8 ADVICE inconsistency (self-loop-only inputs used to return
    // an empty frame while mixed inputs labeled those vertices)
    assert(cc(Seq((42L, 42L))) == Map(42L -> 42L))
    assert(cc(Seq((1L, 2L), (9L, 9L))) == Map(1L -> 1L, 2L -> 1L, 9L -> 9L))
  }

  test("d_dup_groups labels a 40-document near-dup chain with its minimum doc_id") {
    import spark.implicits._
    // doc i holds words w(2i)..w(2i+9): neighbours share 6 of 8 shingles
    // (Jaccard 0.6), docs two apart 4 of 8 (0.33) — so the jac >= 0.5
    // pair graph is one chain of diameter 39, longer than any fixed
    // propagation round budget a label loop might stop at
    val n = 40
    val dir = java.nio.file.Files.createTempDirectory("graft_dup_chain").toString
    (0 until n).map { i =>
      val text = (2 * i until 2 * i + 10).map(j => s"w$j").mkString(" ")
      (1000L + i, text, "en", "src1", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val groups = Dedup.dDupGroups(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups.keySet == (0 until n).map(1000L + _).toSet, s"docs: ${groups.keySet}")
    val wrong = groups.filter(_._2 != 1000L)
    assert(wrong.isEmpty, s"docs not labeled with the chain minimum: $wrong")
  }

  test("Centroids.rankByCosine ranks by (round6 cosine desc, c_id asc)") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rows = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    // c_id 3 and 7 are identical; c_id 1 has a slightly lower raw cosine to
    // vec 1 that rounds to the same 1.0, so it ranks first on c_id
    val cents = Seq((7L, Seq(1f, 0f)), (3L, Seq(1f, 0f)), (1L, Seq(1f, 0.0001f)),
      (5L, Seq(0.6f, 0.8f)), (2L, Seq(0f, 1f))).toDF("c_id", "ce")
    def ranked(n: Int): Seq[(Long, Long, Int)] =
      graft.ann.Centroids.rankByCosine(rows, cents, "vec_id", "embedding", n)
        .select("vec_id", "c_id", "crn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(ranked(5) == Seq((1L, 1L, 1), (1L, 2L, 5), (1L, 3L, 2), (1L, 5L, 4), (1L, 7L, 3),
      (2L, 1L, 3), (2L, 2L, 1), (2L, 3L, 4), (2L, 5L, 2), (2L, 7L, 5)))
    assert(ranked(2) == Seq((1L, 1L, 1), (1L, 3L, 2), (2L, 2L, 1), (2L, 5L, 2)))
    assert(ranked(1) == Seq((1L, 1L, 1), (2L, 2L, 1)))
  }

  test("star contraction on a 10k-diameter chain: O(log d) rounds where propagation needs d") {
    import spark.implicits._
    // the graph shape the star-contraction trade exists for: component
    // diameter >> log n (a crawl-mirror dup chain). sf0.1 graphs are
    // shallow, so the r8 verdict asked for the win side measured here.
    val d = 10000
    val edges = (0L until d.toLong).map(i => (i, i + 1)).toDF("a", "b")
    val t0 = System.nanoTime()
    val (labels, rounds) = graft.dedup.ConnectedComponents.runCounted(edges)
    val agg = labels.agg(count(lit(1)), max(col("lab"))).head()
    val starMs = (System.nanoTime() - t0) / 1e6
    assert(agg.getLong(0) == d + 1L && agg.getLong(1) == 0L,
      "chain not fully labeled with its minimum")
    // log2(10k) ~ 13.3; observed 15 (14 contraction rounds + the final
    // confirming round where the checksum repeats) — pin well under the
    // O(log^2) envelope and 3 orders below the 10k propagation needs
    assert(rounds <= 20, s"star contraction took $rounds rounds on a $d-chain")
    // min-label propagation, given the SAME round budget: after r rounds a
    // vertex knows only its r-hop neighborhood minimum, so the chain tail
    // is still d - r hops short of converged — full convergence needs
    // DIAMETER rounds (10k shuffles), which is what contraction buys out of
    var lab = edges.select(col("a").as("v"), col("a").as("lab"))
      .unionAll(edges.select(col("b").as("v"), col("b").as("lab")))
      .groupBy("v").agg(min("lab").as("lab")).localCheckpoint()
    val nbrs = edges.select(col("a").as("u"), col("b").as("v"))
      .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint()
    val t1 = System.nanoTime()
    (1 to rounds).foreach { _ =>
      val next = nbrs.join(lab.withColumnRenamed("v", "u"), "u")
        .select(col("v"), col("lab"))
        .unionAll(lab)
        .groupBy("v").agg(min("lab").as("lab")).localCheckpoint()
      lab.unpersist()
      lab = next
    }
    val propMs = (System.nanoTime() - t1) / 1e6
    val tail = lab.filter(col("v") === d.toLong).head().getLong(1)
    assert(tail == (d - rounds).toLong,
      s"propagation tail label $tail after $rounds rounds")
    info(f"10k chain: star contraction converged in $rounds rounds / $starMs%.0f ms; " +
      f"min-label after the same $rounds rounds is ${d - rounds} hops short " +
      f"(needs $d rounds total) at $propMs%.0f ms per $rounds rounds")
  }

  test("Centroids.scaledK grows as ceil(sqrt n) — the fixed-k quadratic guard") {
    import graft.ann.Centroids
    // a FIXED centroid count in front of an in-bucket pair scan is a
    // latent quadratic (round-9 sweep: x34 at 10x data); the pair-scan
    // ops must block on the scaled count
    assert(Centroids.scaledK(0) == 16 && Centroids.scaledK(256) == 16)
    assert(Centroids.scaledK(500) == 23)
    assert(Centroids.scaledK(5000) == 71)
    assert(Centroids.scaledK(50000) == 224)
    // pair work n²/k at the scaled k is Θ(n^1.5): 10x data => ~31.6x
    // pairs, never 100x
    val pairs = (n: Long) => n.toDouble * n / Centroids.scaledK(n)
    assert(pairs(50000) / pairs(5000) < 33.0)
  }

  test("IVF top-k achieves reasonable recall vs brute force and is deterministic") {
    val bf = Ann.sTopkBruteforce(spark, sfSmall)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf1 = Ann.sTopkIvf(spark, sfSmall)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf2 = Ann.sTopkIvf(spark, sfSmall)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf1 == ivf2, "IVF result not deterministic")
    val recall = (bf & ivf1).size.toDouble / bf.size
    assert(recall >= 0.2, s"IVF recall $recall vs brute force")
  }

  test("Centroids.refine: deterministic, improves the k-means objective, recall not degraded") {
    val e = GraftSession.table(spark, sfSmall, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val raw = graft.ann.Centroids.sample(e)
      .select(col("c_id"), expr("transform(ce, x -> cast(x as double))").as("ce"))
    def snapshot(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    val r1 = graft.ann.Centroids.refine(e)
    val r2 = graft.ann.Centroids.refine(e)
    // bit-deterministic across runs (quantized Lloyd, exact integer means)
    assert(snapshot(r1) == snapshot(r2), "refine is not deterministic")
    assert(r1.count() == graft.ann.Centroids.K, "refine changed k")
    // Lloyd monotonicity: the k-means objective never increases vs the raw
    // hash-rank sample (at this SF the bounded training sample covers the
    // whole corpus, so the training guarantee IS the corpus objective)
    val objRaw = graft.ann.Centroids.objective(e, raw)
    val objRef = graft.ann.Centroids.objective(e, r1)
    assert(objRef <= objRaw + 1e-9, s"objective degraded: raw $objRaw -> refined $objRef")
    // recall vs brute force with refined centroids is not below the raw
    // sample's recall (the property SURVEY §5's refinement exists for)
    val bf = Ann.sTopkBruteforce(spark, sfSmall)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(cents: org.apache.spark.sql.DataFrame): Double = {
      val floats = cents.select(col("c_id"),
        expr("transform(ce, x -> cast(x as float))").as("ce"))
      val ivf = Ann.sTopkIvf(spark, sfSmall, Some(floats))
        .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (bf & ivf).size.toDouble / bf.size
    }
    val (rawRecall, refRecall) = (recallOf(raw), recallOf(r1))
    assert(refRecall >= rawRecall - 1e-9,
      s"refined recall $refRecall below raw sample recall $rawRecall")
  }

  test("PQ top-k achieves reasonable recall vs the exact-L2 baseline") {
    // PQ/ADC approximates SQUARED L2 — recall is measured against the exact
    // L2 top-k (the cosine brute force ranks a different metric);
    // determinism is already pinned by the DuckDB oracle
    import org.apache.spark.sql.expressions.Window
    val e = GraftSession.table(spark, sfSmall, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val q = e.filter(col("vec_id") < 5).toDF("q_id", "qv")
    val w = Window.partitionBy("q_id").orderBy(asc("d2"), asc("vec_id"))
    val exact = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("d2", expr(
        """aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)),
          |  cast(0.0 as double), (acc, w) -> acc + w)""".stripMargin))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Ann.sTopkPq(spark, sfSmall)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.3, s"PQ recall $recall vs exact L2")
    // re-ranked L2 distances are non-negative and finite
    assert(Ann.sTopkPq(spark, sfSmall).select("l2_r").collect()
      .forall(r => r.getDouble(0) >= 0.0 && !r.getDouble(0).isNaN))
  }

  test("multimodal decode runs per-partition and yields the typed schema") {
    val media = Multimodal.mediaTable(spark, sfSmall).repartition(3)
    val decoded = Multimodal.decodeMeta(spark, media)
    assert(decoded.columns.toSeq == Seq("doc_id", "width", "height", "channels"))
    assert(decoded.count() == media.count())
    // deterministic fake decode: joinable back to the SQL-checkable variant
    val meta = Multimodal.mBinaryMeta(spark, sfSmall)
    val joined = decoded.join(meta, "doc_id")
      .filter(col("width") =!= col("fake_width") || col("height") =!= col("fake_height"))
    assert(joined.count() == 0)
  }

  test("s_pq_refine: recall is monotone in re-rank depth; depth=K is the ADC baseline") {
    // exact re-rank can only ADD ground-truth items as the shortlist
    // deepens: a truth item inside the candidate set always survives the
    // exact top-K cut (anything beating it is itself global top-K), so
    // hits(R) = |truth ∩ shortlist_R| — monotone nondecreasing in R
    val rows = Ann.sPqRefine(spark, sfSmall)
      .orderBy("depth").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == Seq(10L, 25L, 50L, 100L))
    assert(rows.forall(_._2 == 5L), s"expected 5 queries: ${rows.mkString(",")}")
    assert(rows.forall(r => r._3 >= 0.0 && r._3 <= 1.0))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 <= b._3, s"recall not monotone: $a -> $b")
    }
  }

  test("m_phash_dedup: matches a brute-force all-pairs Hamming check (banding is exhaustive)") {
    // independent formulation: signatures via posexplode + aggregation
    // (the op packs 64 wide columns), then ALL pairs — no banding — so a
    // band-pigeonhole miss would show up as a set difference
    val sigs = GraftSession.table(spark, sfSmall, "documents")
      .select(col("doc_id"), rpad(substring(col("text"), 1, 64), 64, " ").as("head"))
      .select(col("doc_id"), posexplode(split(col("head"), ""))) // (pos 0-based, ch)
      .select(col("doc_id"), col("pos"),
        (ascii(col("col")) * (col("pos") * 2 + 1) % 251).as("luma"))
      .withColumn("tot", sum("luma").over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .withColumn("bit", when(col("luma") * 64 > col("tot"), 1L).otherwise(0L))
      .groupBy("doc_id")
      .agg(sum(when(col("pos") < 16,
            col("bit") * expr("shiftleft(1L, cast(pos as int))")).otherwise(0L)).as("band0"),
        sum(when(col("pos") >= 16 && col("pos") < 32,
            col("bit") * expr("shiftleft(1L, cast(pos - 16 as int))")).otherwise(0L)).as("band1"),
        sum(when(col("pos") >= 32 && col("pos") < 48,
            col("bit") * expr("shiftleft(1L, cast(pos - 32 as int))")).otherwise(0L)).as("band2"),
        sum(when(col("pos") >= 48,
            col("bit") * expr("shiftleft(1L, cast(pos - 48 as int))")).otherwise(0L)).as("band3"))
    val a = sigs.toDF("da", "a0", "a1", "a2", "a3")
    val b = sigs.toDF("db", "b0", "b1", "b2", "b3")
    val brute = a.crossJoin(b).filter(col("da") < col("db"))
      .withColumn("hd",
        (bit_count(col("a0").bitwiseXOR(col("b0"))) +
          bit_count(col("a1").bitwiseXOR(col("b1"))) +
          bit_count(col("a2").bitwiseXOR(col("b2"))) +
          bit_count(col("a3").bitwiseXOR(col("b3")))).cast("long"))
      .filter(col("hd") <= 3)
      .select("da", "db", "hd").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val banded = Multimodal.mPhashDedup(spark, sfSmall)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute,
      s"banded=${banded.size} brute=${brute.size} diff=${(banded -- brute) ++ (brute -- banded)}")
  }

  test("s_nn_descent: descent improves recall over the seed graph vs the exact kNN graph") {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(spark)
    val dirT = "/root/testdata/sf0.01"
    val e = GraftSession.table(spark, dirT, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("ve"))
      .cache()
    val k = 8
    // exact kNN graph (independent brute-force derivation)
    val wR = Window.partitionBy("v").orderBy(asc("d"), asc("w"))
    val exact = e.toDF("v", "ev").join(e.toDF("w", "ew"), col("v") =!= col("w"))
      .withColumn("d", expr("l2sq_q6(ev, ew)"))
      .withColumn("rn", row_number().over(wR)).filter(col("rn") <= k)
      .select("v", "w").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // seed-graph recall: the op's own global pseudo-random seeds, top-k'd
    // by an inline window (independent of the op's internal refresh)
    val n = e.count()
    val seed = graft.ann.Ann.nndSeeds(e, n)
      .join(e.toDF("v", "ev"), "v").join(e.toDF("w", "ew"), "w")
      .withColumn("d", expr("l2sq_q6(ev, ew)"))
      .withColumn("rn", row_number().over(wR)).filter(col("rn") <= k)
      .select("v", "w").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fin = graft.ann.Ann.sNnDescent(spark, dirT)
      .select("vec_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val seedRecall = (seed & exact).size.toDouble / exact.size
    val finRecall = (fin & exact).size.toDouble / exact.size
    // measured convergence at this scale: ~0.015 seed -> ~0.75 after 3 rounds
    assert(finRecall > seedRecall + 0.3,
      s"descent did not improve: seed $seedRecall -> final $finRecall")
    assert(finRecall >= 0.60, s"final recall too low: $finRecall (seed $seedRecall)")
    e.unpersist()
  }

  test("d_prefix_filter: prefix candidates are far fewer than shared-token pairs") {
    // the oracle already proves exhaustiveness (prefix output == full-join
    // output at both scales); this pins the point of the algorithm — the
    // candidate stream is a small fraction of the naive shared-token pair
    // stream, because rare-token prefixes make tiny join buckets
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(spark)
    val sh0 = GraftSession.table(spark, sfSmall, "documents")
      .select(col("doc_id"), explode(expr("shingle_hash(lower(text), 3)")).as("sh"))
    val hot = sh0.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > 100).select("sh")
    val sh = sh0.join(hot, Seq("sh"), "left_anti").select("doc_id", "sh").cache()
    val allPairs = sh.toDF("da", "sh").join(sh.toDF("db", "sh2"),
        col("sh") === col("sh2") && col("da") < col("db"))
      .select("da", "db").distinct().count()
    val freq = sh.groupBy("sh").agg(count(lit(1)).as("f"))
    val wOrd = Window.partitionBy("doc_id").orderBy("f", "sh")
    val prefix = sh.join(freq, "sh")
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("rn") <= col("n") - expr("(7 * n + 9) div 10") + 1)
      .select("doc_id", "sh")
    val prefixPairs = prefix.toDF("da", "sh").join(prefix.toDF("db", "sh2"),
        col("sh") === col("sh2") && col("da") < col("db"))
      .select("da", "db").distinct().count()
    assert(prefixPairs * 4 < allPairs,
      s"prefix filtering pruned too little: $prefixPairs of $allPairs candidate pairs")
    sh.unpersist()
  }

  test("c_dataset_card / x_domain_route: partition the corpus exactly (no doc lost or doubled)") {
    val total = GraftSession.table(spark, sfSmall, "documents").count()
    val card = graft.pipeline.Curation.cDatasetCard(spark, sfSmall).collect()
    assert(card.map(_.getAs[Long]("n_docs")).sum == total)
    card.foreach { r =>
      assert(r.getAs[Long]("dup_docs") >= 0L)
      assert(r.getAs[Long]("top_lang_docs") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_langs") >= 1L)
      assert(r.getAs[Long]("total_tokens") > 0L)
    }
    val route = graft.text.TextOps.xDomainRoute(spark, sfSmall).collect()
    assert(route.map(_.getAs[Long]("n_docs")).sum == total)
    val domains = route.map(_.getAs[String]("domain")).toSet
    assert(domains.subsetOf(Set("relational", "storage", "streaming")), domains.toString)
  }

  test("NN-descent convergence stop: recall equal-or-better than the fixed-3-round graph") {
    graft.functions.GraftFunctions.register(spark)
    val k = 8 // == Ann.NndK
    val e = GraftSession.table(spark, sfSmall, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("ve"))
      .localCheckpoint()
    val n = e.count()
    // exact kNN graph by brute force (500 vectors -> 250k pairs, fine here)
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy("v").orderBy(asc("d"), asc("w"))
    val exact = e.toDF("v", "ev").crossJoin(e.toDF("w", "ew"))
      .filter(col("v") =!= col("w"))
      .withColumn("d", expr("l2sq_q6(ev, ew)"))
      .withColumn("rn", row_number().over(wR)).filter(col("rn") <= k)
      .select("v", "w").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(pairs: Set[(Long, Long)]): Double =
      (pairs & exact).size.toDouble / exact.size
    val fixed3 = Ann.sNnDescent(spark, sfSmall).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id"))).toSet
    val (convEdges, iters) = Ann.nnDescentConverged(e, n)
    val conv = convEdges.select("v", "w").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (rFixed, rConv) = (recallOf(fixed3), recallOf(conv))
    // STRUCTURAL dominance: the delta-stop is only consulted from round
    // minIters (= the graded op's 3) on, and each round's top-K keeps the
    // union's best, so per-slot distances are non-increasing in rounds —
    // the converged graph can never land below the fixed-3 graph
    assert(rConv >= rFixed,
      s"converged recall $rConv < fixed-3 recall $rFixed (iters=$iters)")
    assert(iters >= 3 && iters <= 10, s"implausible iteration count $iters")
    // and the stop actually fires: on 500 vectors the graph converges well
    // before the 10-round cap
    assert(iters < 10, s"convergence stop never fired (iters=$iters)")
  }
}
