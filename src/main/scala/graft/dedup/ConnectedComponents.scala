package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components via alternating large-star /
  * small-star contraction (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC 2014) — converges in O(log^2 n) rounds
  * regardless of component DIAMETER, where plain min-label propagation
  * needs O(diameter) rounds (a crawl-mirror dup chain of length d costs
  * d full shuffles there). Each round is two groupBy-join passes over
  * the EDGE list only (never the corpus); convergence is witnessed by a
  * single collision-resistant checksum row (edge count + sum of
  * xxhash64 over the canonical a>b edges), one tiny driver read per
  * round instead of a set-difference join.
  *
  * The fixpoint is the unique star forest: every vertex points at its
  * component minimum. Iteration count therefore cannot leak into the
  * output, and callers' oracles can state the closure declaratively.
  */
object ConnectedComponents {

  /** Large-star: for every vertex u, attach every strictly LARGER
    * neighbor to the minimum of u's closed neighborhood. All output
    * edges satisfy a > b (they point "downward" toward minima). */
  private def largeStar(edges: DataFrame): DataFrame = {
    val nbrs = edges.select(col("a").as("u"), col("b").as("v"))
      .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
    val mins = nbrs.groupBy("u").agg(min("v").as("mv"))
      .select(col("u"), least(col("mv"), col("u")).as("m"))
    // no intermediate distinct (one shuffle per round saved, guide §2.4):
    // smallStar's groupBy-min is duplicate-insensitive and ITS output is
    // distinct'd, so the round's fixpoint edge set is identical; duplicate
    // (a,b) rows here are bounded per vertex by its degree and collapse
    // map-side in smallStar's partial aggregation before any shuffle
    nbrs.join(mins, "u").filter(col("v") > col("u"))
      .select(col("v").as("a"), col("m").as("b"))
  }

  /** Small-star: on a downward edge set (a > b), attach every vertex's
    * smaller neighbors AND the vertex itself to its minimum neighbor. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val nbrs = edges.select(col("a").as("u"), col("b").as("v")) // u > v
    val mins = nbrs.groupBy("u").agg(min("v").as("m"))
    nbrs.join(mins, "u")
      .select(col("v").as("a"), col("m").as("b"))
      .unionAll(mins.select(col("u").as("a"), col("m").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  private def checksum(edges: DataFrame): (Long, Long, Long) = {
    // XOR-fold, not sum: xxhash64 values span the full 64-bit range, so a
    // sum overflows under ANSI mode; XOR over a DISTINCT edge set is
    // order-independent alongside the count. Two independent 64-bit
    // hashes (the (a,b) and (b,a) foldings differ per edge) push a
    // false-convergence collision to ~2^-128 per round — the fixpoint is
    // probabilistically witnessed, not proven by set difference, and at
    // that probability the trade is taken deliberately.
    val r = edges.agg(
      count(lit(1)),
      coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L)),
      coalesce(bit_xor(xxhash64(col("b"), col("a"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Labels every vertex of the undirected edge list `edgesIn` (columns
    * `a`, `b`, integral ids) with the MINIMUM vertex id of its connected
    * component. Returns (v: long, lab: long), one row per distinct
    * vertex — vertices appearing only in self-loops label themselves. An
    * empty edge list yields an empty (schema-correct) result — no
    * aggregate is ever read off an empty frame. */
  def run(edgesIn: DataFrame): DataFrame = runCounted(edgesIn)._1

  /** [[run]] for inputs the caller GUARANTEES carry no self-loop rows
    * (a != b everywhere — e.g. a strict a < b pair list); a self-loop row
    * fails the first job instead of silently losing its vertex's label
    * (`run` labels such a vertex by itself). Labels are then
    * derived purely from the converged star forest, so the result frame
    * never re-references `edgesIn`: without this, the final labels query
    * re-ran the caller's whole edge-building lineage (shingle join +
    * Jaccard aggregation) once more just to enumerate the vertex set —
    * the fixpoint jobs had already computed those rows (guide §1.2:
    * don't compute things twice). */
  def runNoSelfLoops(edgesIn: DataFrame): DataFrame =
    runCounted(edgesIn, selfLoopFree = true)._1

  /** [[run]] plus the number of contraction rounds the fixpoint took —
    * exposed so scale tests can pin the O(log^2 n) round bound on
    * high-diameter graphs (a chain of length d converges in O(log d)
    * rounds here vs d rounds under min-label propagation). */
  def runCounted(edgesIn: DataFrame, selfLoopFree: Boolean = false): (DataFrame, Int) = {
    val spark = edgesIn.sparkSession
    import spark.implicits._
    // every round references the previous frame several times (the union
    // inside largeStar plus two join sides), so WITHOUT lineage
    // truncation the logical plan grows ~5x per round and the planner
    // itself OOMs after a handful of rounds. Each round's edge set is
    // pinned via GraftSession.pinRows (lazy MEMORY_AND_DISK over the
    // internal rows): the round's CHECKSUM job doubles as the
    // materializer, so a round costs ONE job, not a checkpoint job plus a
    // checksum job — and rdd.unpersist actually frees the previous
    // round's blocks (Dataset.unpersist on a localCheckpoint'd frame is a
    // CacheManager no-op; the blocks lingered until a GC cycle, measured
    // as run-over-run growth in back-to-back CC runs in one JVM)
    val typed = edgesIn.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
    val loopFree =
      if (!selfLoopFree) typed.filter(col("a") =!= col("b"))
      // the caller's guarantee is checked in the projection the first
      // round's pin job evaluates anyway (no extra job). Not in a filter:
      // the optimizer would push it into the caller's plan, below the
      // caller's own a < b filter.
      else typed.filter(col("a").isNotNull && col("b").isNotNull).select(
        when(col("a") === col("b"), raise_error(lit("runNoSelfLoops: self-loop edge in input")))
          .otherwise(col("a")).as("a"), col("b"))
    var (edges, edgesRdd) = graft.GraftSession.pinRows(loopFree.distinct())
    var rounds = 0
    // the star forest: empty edge sets (including self-loop-only inputs)
    // skip the fixpoint — every vertex is its own component and the
    // nodes-derived coalesce below labels it, so self-loop vertices are
    // handled identically whether or not real edges accompany them
    val star = if (edges.isEmpty) edges else {
      var prev = (-1L, 0L, 0L)
      var cs = checksum(edges) // materializes the pinned input edges
      while (cs != prev) {
        val (next, nextRdd) = graft.GraftSession.pinRows(smallStar(largeStar(edges)))
        prev = cs
        cs = checksum(next) // the round's ONE job: materializes `next`
        edgesRdd.unpersist(blocking = false)
        edges = next
        edgesRdd = nextRdd
        rounds += 1
      }
      edges // (v, componentMin); centers appear only on b and self-label
    }
    val labels =
      if (selfLoopFree) {
        // At the fixpoint every non-center vertex has EXACTLY ONE star
        // edge (v -> componentMin) and every center appears only on the b
        // side, so the full label set falls out of the star forest alone:
        // no join back to edgesIn, no recomputation of the caller's edge
        // lineage. (With no self-loops, every input vertex sits in a
        // component of size >= 2 and therefore appears in the star.)
        star.select(col("a").as("v"), col("b").as("lab"))
          .unionAll(star.select(col("b")).distinct()
            .select(col("b").as("v"), col("b").as("lab")))
      } else {
        val nodes = edgesIn.select(col("a").cast("long").as("v"))
          .unionAll(edgesIn.select(col("b").cast("long").as("v")))
          .distinct()
        nodes
          .join(star.select(col("a").as("v"), col("b").as("lab")), Seq("v"), "left")
          .select(col("v"), coalesce(col("lab"), col("v")).as("lab"))
      }
    // Pin and materialize the labels NOW (one job over the star-sized
    // pin), then free the final round's edge pin deterministically — the
    // unreturned pin otherwise leaked one edge-set-sized MEMORY_AND_DISK
    // RDD per call until a GC cycle let the ContextCleaner find it.
    // Consumers (keeper windows, cluster-size rollups) also get a
    // plan that is just the pinned labels instead of the whole transitive
    // lineage. The labels pin itself is the returned result; it is freed
    // by the ContextCleaner once the caller drops the frame.
    val (labFrame, labRdd) = graft.GraftSession.pinRows(labels)
    labRdd.count()
    edgesRdd.unpersist(blocking = false)
    (labFrame, rounds)
  }
}
