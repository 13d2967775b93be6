package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.apache.spark.storage.StorageLevel

/** Iterative graph propagation — the workload class the rest of the
  * catalog doesn't exercise (every other operator is a bounded DAG;
  * here the plan GROWS per iteration and must be actively managed).
  *
  * The Spark iterative idiom used by [[pageRank]]:
  *  - each iteration's ranks are persisted and MATERIALIZED before the
  *    previous iteration is unpersisted (otherwise the unpersist
  *    re-triggers the whole chain);
  *  - `localCheckpoint` cuts the logical lineage every iteration — by
  *    iteration ~10 an uncut plan tree is exponentially re-analyzed by
  *    Catalyst and task binaries bloat (the classic iterative-Spark
  *    failure mode);
  *  - the edge list persists once WITH the out-degree riding on every
  *    edge row (one setup join, so the loop body is exactly one join
  *    + one aggregate per round; at 100 TB: hash-partitioned on src,
  *    so the per-iteration join co-locates without a re-shuffle).
  *
  * Determinism discipline (the dsum rule, applied per iteration):
  * contributions are computed in DOUBLE (IEEE +,*,/ are correctly
  * rounded, hence engine-identical), ROUNDED to 6 dp, then summed as
  * DECIMAL(18,6) — exact, order-independent — and the damping teleport
  * added as an exact decimal. The DuckDB oracle replays the identical
  * arithmetic with unrolled iteration CTEs and hash-matches.
  */
object Graph {

  /** PageRank over an edge list (`src`, `dst` columns), `iters` full
    * power iterations, damping = 0.85, teleport = 0.15, initial rank
    * 1 for every node. Nodes = distinct endpoints; dangling nodes
    * (no out-edges) leak their rank mass — the simple formulation,
    * replicated exactly by the oracle. Returns (node, rank) with rank
    * DECIMAL(18,6). */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    // e is persisted HASH-PARTITIONED ON src: the per-iteration join
    // requires clustering on src, so a pre-partitioned cache satisfies
    // it from the block manager every round — without the repartition
    // the cached edges re-shuffle once per iteration (persist stores
    // whatever partitioning the distinct left, which is on (src, dst),
    // not src). The out-degree rides ON the edge rows (`__d`): one
    // setup join replaces the per-round outdeg join the loop used to
    // pay — the loop body is now exactly one join + one aggregate.
    val base = edges.select(col("src"), col("dst"))
      .distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outdeg = base.groupBy(col("src")).agg(count(lit(1)).as("__d"))
    val e = base.join(outdeg, Seq("src"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = base.select(col("src").as("node"))
      .union(base.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    nodes.count(); e.count() // materialize the loop invariants
    base.unpersist(false)    // only the setup reads it

    var ranks = nodes
      .withColumn("rank", lit("1.000000").cast(DecimalType(18, 6)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    ranks.count()

    for (_ <- 1 to iters) {
      val contrib = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          // Guards.fastRoundDec ≡ round(·, 6).cast(DECIMAL(18,6))
          // bit-for-bit (FastRoundSpec) without the two per-edge
          // Double.toString renderings (round + decimal cast)
          Guards.fastRoundDec(col("rank").cast(DoubleType) * lit(0.85) /
            col("__d").cast(DoubleType), 6, DecimalType(18, 6))
            .as("__c"))
        .groupBy(col("node"))
        .agg(sum(col("__c")).as("__in"))
      // eager localCheckpoint: cuts the lineage AND materializes (the
      // result is held by the block manager), so the old generation
      // can be released immediately without re-triggering its chain
      val next = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit("0.150000").cast(DecimalType(18, 6)) +
            coalesce(col("__in"), lit(0).cast(DecimalType(18, 6))))
            .cast(DecimalType(18, 6)).as("rank"))
        .localCheckpoint()
      ranks.unpersist(false)
      ranks = next
    }
    e.unpersist(false); nodes.unpersist(false)
    ranks
  }

  /** PERSONALIZED PageRank: teleport mass lands only on `seeds`
    * instead of every node — "influence as seen from this trusted
    * set", the variant a curation pipeline uses to score corpus
    * entities by proximity to a vetted whitelist (topic-sensitive
    * PageRank, Haveliwala 2002). Same unnormalized fixed-point
    * discipline as [[pageRank]] — rank₀ = 1 at seeds / 0 elsewhere,
    * per-round rank = 0.15·[seed] + Σ 0.85·rank/outdeg with every
    * contribution 6-dp-rounded and fixed as DECIMAL(18,6), so the
    * run replays bit-identically in the oracle. Non-seed nodes
    * unreachable from any seed finish at exactly 0.
    *
    * Scale shape identical to [[pageRank]]: edges persisted
    * hash-partitioned on src once, one src-clustered join + one
    * dst-keyed aggregate per round, localCheckpoint generation
    * management. `seeds` is one extra node-keyed flag join at init —
    * the loop body never touches it again (the base term rides the
    * flag column). */
  def personalizedPageRank(
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    // same setup as [[pageRank]]: the out-degree rides on the
    // cached edge rows, so each round is one join + one aggregate
    val eRaw = edges.select(col("src"), col("dst"))
      .distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outdeg = eRaw.groupBy(col("src")).agg(count(lit(1)).as("__d"))
    val e = eRaw.join(outdeg, Seq("src"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sd = seeds.select(col("node")).distinct()
    val nodes = eRaw.select(col("src").as("node"))
      .union(eRaw.select(col("dst").as("node")))
      .distinct()
      .join(sd.withColumn("__s", lit(true)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(false)).as("__seed"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    nodes.count(); e.count()
    eRaw.unpersist(false)
    val dec = DecimalType(18, 6)
    val base = when(col("__seed"), lit("0.150000").cast(dec))
      .otherwise(lit(0).cast(dec))
    var ranks = nodes
      .withColumn("rank", when(col("__seed"),
        lit("1.000000").cast(dec)).otherwise(lit(0).cast(dec)))
      .select(col("node"), col("rank"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    ranks.count()
    for (_ <- 1 to iters) {
      val contrib = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          Guards.fastRoundDec(col("rank").cast(DoubleType) * lit(0.85) /
            col("__d").cast(DoubleType), 6, dec).as("__c"))
        .groupBy(col("node"))
        .agg(sum(col("__c")).as("__in"))
      val next = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (base + coalesce(col("__in"), lit(0).cast(dec)))
            .cast(dec).as("rank"))
        .localCheckpoint()
      ranks.unpersist(false)
      ranks = next
    }
    e.unpersist(false); nodes.unpersist(false)
    ranks
  }

  /** Triangle census + global clustering coefficient of an undirected
    * graph given as canonical edges (`a` < `b`, one row per edge).
    *
    * Degree-ordered orientation — each edge points from its lower-
    * (degree, id) endpoint — bounds the per-node wedge fanout by
    * O(√m) on arbitrary graphs (the Chiba–Nishizeki ordering, the
    * standard MapReduce triangle-counting trick), so the candidate
    * wedge set stays near-linear on sparse inputs: this is why the
    * census runs on a k-NN graph at 100 TB where a raw wedge join
    * would square every hub's degree. Every triangle is counted
    * exactly once — from its (deg, id)-least vertex.
    *
    * Shuffle shape: one degree aggregation, two degree-attach joins,
    * one wedge self-join on the oriented source, one closing probe
    * against the canonical edge set. Returns ONE row:
    * (n_nodes, n_edges, n_triangles, n_wedges, global_cc) with
    * n_wedges = Σ d(d−1)/2 (open + closed, exact integers) and
    * global_cc = 3·triangles / wedges rounded to 6 dp (0 when the
    * graph has no wedge). */
  def triangleStats(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Orientation: a < b always, so the (deg, id) tie-break on equal
    // degrees keeps the edge as (a, b).
    val aFirst = col("__da") < col("__db") || (col("__da") === col("__db"))
    val oriented = e
      .join(deg.select(col("node").as("a"), col("deg").as("__da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("__db")), Seq("b"))
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"))
    val wedges = oriented
      .join(oriented.select(col("src"), col("dst").as("__dst2")), Seq("src"))
      .filter(col("dst") < col("__dst2"))
      .select(col("dst").as("a"), col("__dst2").as("b"))
    val closed = wedges.join(e, Seq("a", "b"), "left_semi")
    val out = deg
      .agg(count(lit(1)).as("n_nodes"),
        // sum over an empty degree frame is NULL, not 0
        coalesce(sum(expr("(deg * (deg - 1)) div 2")), lit(0L))
          .as("n_wedges"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("n_wedges"),
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6))
          .otherwise(lit(0.0)).as("global_cc"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize the 1-row result, then release inputs
    e.unpersist(false); deg.unpersist(false)
    out
  }

  /** PER-NODE local clustering coefficient — the node-level companion
    * of [[triangleStats]]'s one global number (Watts & Strogatz
    * 1998): cc(v) = 2·T(v) / (d(v)·(d(v)−1)), the fraction of v's
    * neighbor pairs that are themselves connected. On a k-NN
    * embedding graph this is the LOCAL density gauge — high-cc
    * regions are tight semantic clusters, cc ≈ 0 nodes sit in sparse
    * bridgework — the per-node signal the global coefficient
    * averages away.
    *
    * Scale shape: canonical triangles enumerate ONCE each via the
    * ordered two-hop join (e₁(a,b) ⋈ e₂(b,c) semi-⋈ e(a,c), all keys
    * ascending — Σdeg² wedge work, bounded on a k-NN graph), then
    * explode to the 3 corners and count per node; degrees are one
    * groupBy on the doubled edge list. No driver state.
    *
    * Determinism: cc is the exact integer floor division
    * (2·T·10⁶) div (d·(d−1)) — a pure 64-bit lattice value — emitted
    * as DOUBLE by the one exact /10⁶ division; NULL for d < 2
    * (undefined, not zero: a degree-1 node has no neighbor pair).
    *
    * Returns (node, deg, n_tri, cc). */
  def localClustering(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // canonical a < b < c: each triangle appears exactly once
    val tri = e.select(col("a").as("__x"), col("b").as("__y"))
      .join(e.select(col("a").as("__y"), col("b").as("__z")), Seq("__y"))
      .join(e.select(col("a").as("__x"), col("b").as("__z")),
        Seq("__x", "__z"), "left_semi")
    val triPerNode = tri
      .select(explode(array(col("__x"), col("__y"), col("__z")))
        .as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    // e stays persisted (four lazy consumers: deg + the three tri
    // legs — the knnGraph materialized-multi-consumer precedent);
    // Spark's LRU reclaims it
    deg.join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2L,
          expr("(2 * coalesce(n_tri, 0L) * 1000000) " +
            "div (deg * (deg - 1))").cast(DoubleType) / lit(1e6))
          .otherwise(lit(null).cast(DoubleType)).as("cc"))
  }

  /** Per-edge triangle support over a canonical edge list (`a` < `b`):
    * canonical triangles enumerate once (the [[localClustering]]
    * two-hop join), then each triangle credits its three edges. */
  private def edgeSupport(e: DataFrame): DataFrame = {
    val tri = e.select(col("a").as("__x"), col("b").as("__y"))
      .join(e.select(col("a").as("__y"), col("b").as("__z")), Seq("__y"))
      .join(e.select(col("a").as("__x"), col("b").as("__z")),
        Seq("__x", "__z"), "left_semi")
    tri.select(explode(array(
        struct(col("__x").as("a"), col("__y").as("b")),
        struct(col("__y").as("a"), col("__z").as("b")),
        struct(col("__x").as("a"), col("__z").as("b")))).as("__e"))
      .select(col("__e.a").as("a"), col("__e.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("support"))
  }

  /** Bounded k-truss peeling (Cohen 2008): `iters` synchronous rounds
    * of "drop every edge in fewer than k−2 triangles", the
    * cohesion-core extractor one notch stronger than [[kCore]]
    * (degree counts neighbors; support counts neighbors that KNOW
    * EACH OTHER — a k-truss edge sits inside k−2 mutual
    * acquaintances). On the k-NN embedding graph the surviving truss
    * is the high-confidence cluster skeleton: hub-spoke bridgework
    * dies, tight semantic cliques survive.
    *
    * Scale shape: per round, ONE canonical-triangle enumeration
    * (Σdeg² wedge work, bounded on a k-NN graph — [[localClustering]]'s
    * shape) + one support groupBy + one semi filter, with an eager
    * localCheckpoint cutting lineage per round (the [[pageRank]]
    * iteration discipline). SYNCHRONOUS bounded rounds, not
    * run-to-fixpoint: `iters` peels are the documented contract (the
    * LPA treatment — a fixpoint loop at corpus scale is a driver
    * decision, made by re-invoking with the previous truss).
    *
    * Returns the surviving edges with their FINAL support (recomputed
    * after the last peel — it may sit below k−2 if the peel has not
    * converged in `iters` rounds): (a, b, support). */
  def kTruss(edges: DataFrame, k: Int, iters: Int): DataFrame =
    kTrussWithRounds(edges, k, iters)._1

  /** [[kTruss]] plus the number of peel rounds actually executed —
    * the EARLY EXIT (VERDICT r13 item 5, the k-core zero-peel rule):
    * a round that removes no edge cannot change any later round
    * (support is a pure function of the edge set), so the loop stops
    * there instead of paying `iters` full triangle enumerations on a
    * stable truss. The per-round count() reads the just-
    * localCheckpoint'ed generation — no recompute. Value-identical
    * to the bounded loop by the fixpoint argument (GraphSpec pins
    * it). */
  private[operators] def kTrussWithRounds(
      edges: DataFrame, k: Int, iters: Int): (DataFrame, Int) = {
    require(k >= 3 && k <= 64, s"k out of range: $k")
    require(iters >= 1 && iters <= 20, s"iters out of range: $iters")
    var e = edges.select(col("a"), col("b")).distinct().localCheckpoint()
    var n = e.count()
    var round = 0
    var converged = false
    while (round < iters && !converged) {
      val sup = edgeSupport(e)
      e = e.join(sup, Seq("a", "b"))
        .filter(col("support") >= (k - 2).toLong)
        .select(col("a"), col("b"))
        .localCheckpoint()
      val nn = e.count()
      converged = nn == n // zero-peel round: the truss is stable
      n = nn
      round += 1
    }
    (e.join(edgeSupport(e), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support")), round)
  }

  /** Multi-source BFS hop distances over an undirected canonical edge
    * list (`a` < `b`): `iters` synchronous frontier expansions from
    * `seeds`, returning (node, dist) for every node reached within
    * `iters` hops (unreached nodes are absent; a production caller
    * left-joins the node universe).
    *
    * This is the frontier-iteration idiom — the OTHER iterative graph
    * workload class next to [[pageRank]]'s dense power iteration: per
    * round one co-partitioned join of the current distance frame with
    * the bidirectional edge list (persisted hash-partitioned on the
    * join key once, reused every round), a min-merge, and an eager
    * `localCheckpoint` lineage cut so generation N can be released
    * without re-triggering N−1. Distances are exact integers — no
    * rounding discipline needed, the oracle unrolls the same
    * min-merge levels. */
  def bfsHops(edges: DataFrame, seeds: Seq[Long], iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    val spark = edges.sparkSession
    import spark.implicits._
    val bi = edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("a").as("v")))
      .repartition(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    bi.count()
    var dist = seeds.toDF("node")
      .select(col("node"), lit(0L).as("dist"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val nbr = bi
        .join(dist.withColumnRenamed("node", "u"), Seq("u"))
        .select(col("v").as("node"), (col("dist") + lit(1L)).as("dist"))
      val next = dist.union(nbr)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint()
      dist.unpersist(false)
      dist = next
    }
    bi.unpersist(false)
    dist
  }

  /** Sampled harmonic centrality over an undirected canonical edge
    * list (Marchiori & Latora 2000; Boldi & Vigna 2014 for why
    * harmonic beats closeness on disconnected graphs — an unreached
    * node contributes 0 instead of poisoning the mean): per node,
    * Σ_s 1/d(s, node) over a FIXED seed set within a BFS horizon.
    * Exact centrality is a BFS from every node (O(n·m) — hopeless at
    * corpus scale); the standard estimator samples seeds, here
    * deterministic ones so the gate replays.
    *
    * Scale shape: the [[bfsHops]] frontier fold KEYED BY SEED — one
    * (seed, node, dist) frame (≤ k·n rows, k bounded ≤ 64), one
    * u-clustered join + one min-merge aggregate per round, eager
    * localCheckpoint generation management. Determinism: distances
    * are exact integers; each reciprocal rounds to 6 dp and folds as
    * DECIMAL(18,6) (the pageRank discipline).
    *
    * Returns (node, n_reached, harmonic DOUBLE — the 6-dp lattice
    * value, decimal-folded internally and emitted through the exact
    * scaled-long division) for every node reached by at least one
    * seed (seeds earn no self-term). */
  def harmonicCentrality(
      edges: DataFrame,
      seeds: Seq[Long],
      iters: Int): DataFrame =
    seedHops(edges, seeds, iters, "harmonicCentrality")
      .filter(col("dist") > 0L)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_reached"),
        // 6-dp reciprocal DECIMAL fold internally (order-free
        // exactness — the pageRank discipline), DOUBLE at the
        // boundary via the scaled-long division (catalog emit
        // convention, VERDICT r12)
        Guards.emitDouble(
          sum(Guards.fastRoundDec(lit(1.0) / col("dist").cast(DoubleType),
            6, DecimalType(18, 6))),
          6, "harmonicCentrality").as("harmonic"))

  /** Shared seed-keyed synchronous BFS: (seed, node, dist) for every
    * node reached from each seed within `iters` hops — the
    * [[bfsHops]] frontier fold KEYED BY SEED (one u-clustered join +
    * one min-merge per round, eager localCheckpoint generation
    * management; ≤ seeds·n rows). Backbone of [[harmonicCentrality]]
    * and [[eccentricitySampled]]. */
  private def seedHops(
      edges: DataFrame,
      seeds: Seq[Long],
      iters: Int,
      what: String): DataFrame = {
    require(seeds.nonEmpty && seeds.size <= 64,
      s"$what needs 1..64 seeds, got ${seeds.size}")
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    val spark = edges.sparkSession
    import spark.implicits._
    val bi = edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("a").as("v")))
      .repartition(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    bi.count()
    var dist = seeds.toDF("seed")
      .select(col("seed"), col("seed").as("node"), lit(0L).as("dist"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val nbr = bi
        .join(dist.withColumnRenamed("node", "u"), Seq("u"))
        .select(col("seed"), col("v").as("node"),
          (col("dist") + lit(1L)).as("dist"))
      val next = dist.union(nbr)
        .groupBy(col("seed"), col("node"))
        .agg(min(col("dist")).as("dist"))
        .localCheckpoint()
      dist.unpersist(false)
      dist = next
    }
    bi.unpersist(false)
    dist
  }

  /** Sampled-seed bounded-horizon ECCENTRICITY: per seed, the
    * farthest hop distance reached within `iters` rounds, plus the
    * reach count — max over seeds is the standard sampled LOWER
    * bound on the graph diameter (the double-sweep family of bounds;
    * exact eccentricity is all-pairs BFS, hopeless at corpus scale).
    * A bounded horizon makes the semantics honest by construction:
    * ecc caps at `iters`, and `n_reached` says how much of the graph
    * the bound actually saw. Same [[seedHops]] shape as
    * [[harmonicCentrality]] — integer distances, no rounding
    * discipline needed; the oracle unrolls the identical min-merge
    * levels. */
  def eccentricitySampled(
      edges: DataFrame,
      seeds: Seq[Long],
      iters: Int): DataFrame =
    seedHops(edges, seeds, iters, "eccentricitySampled")
      .groupBy(col("seed"))
      .agg(max(col("dist")).as("ecc"),
        coalesce(sum(when(col("dist") > 0L, 1L).otherwise(0L)),
          lit(0L)).as("n_reached"))

  /** Sampled-seed, bounded-horizon betweenness centrality (Brandes
    * 2001 dependency accumulation; Brandes & Pich 2007 for the seed
    * sampling): from each seed, a synchronous BFS computes level and
    * shortest-path counts σ, then dependencies accumulate backward —
    * δ(u) = Σ_{w ∈ succ(u)} σ(u)/σ(w) · (1 + δ(w)) — and betweenness
    * is Σ_seeds δ(v), v ≠ seed. The "which nodes BROKER the graph"
    * centrality (bridges between clusters, single points of routing
    * failure) that degree/pagerank/harmonic all miss. Exact Brandes
    * is one BFS per NODE (O(nm) — hopeless at corpus scale); the
    * standard estimator samples seeds, and the horizon bounds the
    * frontier exactly like [[harmonicCentrality]] (paths longer than
    * `horizon` contribute 0 — the κ-path flavor).
    *
    * Scale shape: the [[bfsHops]] frontier fold keyed by seed, ONE
    * u-clustered join + one aggregate per round in each direction
    * (forward σ, backward δ), eager localCheckpoint generation
    * management; ≤ seeds·n state rows.
    *
    * Determinism: levels and σ are exact integers; each backward term
    * rounds at 9 dp from the same IEEE expression both engines
    * compute ((σu/σw)·(1+δw), δw a fixed 9-dp decimal cast to the
    * identical double) and folds as DECIMAL — order-free; the emitted
    * centrality rounds once at 6 dp.
    *
    * Returns (node, n_seeds, bc) for every non-seed node reached by
    * at least one seed within the horizon. */
  def betweennessSampled(
      edges: DataFrame,
      seeds: Seq[Long],
      horizon: Int): DataFrame = {
    require(seeds.nonEmpty && seeds.size <= 64,
      s"betweennessSampled needs 1..64 seeds, got ${seeds.size}")
    require(horizon >= 1 && horizon <= 16,
      s"horizon out of range: $horizon")
    val spark = edges.sparkSession
    import spark.implicits._
    val dec = DecimalType(28, 9)
    val bi = edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("a").as("v")))
      .repartition(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    bi.count()
    // FORWARD: (seed, node, dist, sigma) — σ(v) at first reach is the
    // sum of σ over all level-(ℓ−1) parents (complete per synchronous
    // round, so path counts are exact)
    var dist = seeds.toDF("seed")
      .select(col("seed"), col("seed").as("node"), lit(0L).as("dist"),
        lit(1L).as("sigma"))
      .localCheckpoint()
    for (l <- 1 to horizon) {
      val frontier = dist.filter(col("dist") === (l - 1).toLong)
      val cand = bi
        .join(frontier.withColumnRenamed("node", "u"), Seq("u"))
        .groupBy(col("seed"), col("v").as("node"))
        .agg(sum(col("sigma")).as("sigma"))
      val fresh = cand
        .join(dist.select(col("seed"), col("node")),
          Seq("seed", "node"), "left_anti")
        .select(col("seed"), col("node"), lit(l.toLong).as("dist"),
          col("sigma"))
      val next = dist.unionByName(fresh).localCheckpoint()
      dist.unpersist(false)
      dist = next
    }
    // BACKWARD: process levels deepest-first; a node's δ finalizes
    // when its level is reached (its successors' δ are already final)
    var cur = dist.filter(col("dist") === horizon.toLong)
      .select(col("seed"), col("node"), col("sigma"),
        lit(0).cast(dec).as("delta"))
      .localCheckpoint()
    var acc = cur
    for (l <- horizon to 1 by -1) {
      val uSide = dist.filter(col("dist") === (l - 1).toLong)
      val contrib = bi
        .join(uSide.select(col("seed"), col("node").as("u"),
          col("sigma").as("__su")), Seq("u"))
        .join(cur.select(col("seed"), col("node").as("v"),
          col("sigma").as("__sw"), col("delta").as("__dw")),
          Seq("seed", "v"))
        .select(col("seed"), col("u").as("node"),
          Guards.fastRoundDec((col("__su").cast(DoubleType) /
              col("__sw").cast(DoubleType)) *
            (lit(1.0) + col("__dw").cast(DoubleType)), 9, dec)
            .as("__t"))
        .groupBy(col("seed"), col("node"))
        .agg(sum(col("__t")).cast(dec).as("__dsum"))
      val prev = cur
      cur = uSide.join(contrib, Seq("seed", "node"), "left")
        .select(col("seed"), col("node"), col("sigma"),
          coalesce(col("__dsum"), lit(0).cast(dec)).as("delta"))
        .localCheckpoint()
      prev.unpersist(false)
      acc = acc.unionByName(cur)
    }
    bi.unpersist(false)
    acc.filter(col("node") =!= col("seed"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_seeds"),
        round(sum(col("delta")).cast(DoubleType), 6).as("bc"))
  }

  /** Link-prediction features over an undirected canonical edge list
    * (`a` < `b`): for every NON-adjacent pair with at least one common
    * neighbor, the common-neighbor count and the Adamic–Adar score
    * Σ_z 1/ln(deg(z)) over shared neighbors z (Adamic & Adar 2003) —
    * the classic "likely same entity / likely future edge" feature
    * that feeds record-linkage and graph-augmentation pipelines.
    *
    * Wedge fanout is Σ deg(z)² — bounded by ~(2k)·m on a k-NN graph
    * (the intended input); on skewed graphs a hub contributes O(deg²)
    * wedges with near-zero AA weight, so production callers cap the
    * center degree first (standard approximation). A wedge center in
    * any pair has deg ≥ 2, so ln(deg) is never 0.
    *
    * Determinism: per-wedge contributions are computed in double,
    * rounded to 6 dp, summed as DECIMAL(18,6) — exact and
    * order-independent (the pageRank discipline). Shuffles: degree
    * agg, wedge self-join on the center, pair aggregation, one
    * anti-join against the edge set. */
  def commonNeighborScores(edges: DataFrame): DataFrame = {
    val bi = edges.select(col("a").as("z"), col("b").as("n"))
      .union(edges.select(col("b").as("z"), col("a").as("n")))
    val deg = bi.groupBy(col("z")).agg(count(lit(1)).as("__dz"))
    val adj = bi.join(deg, Seq("z"))
    val wedges = adj
      .select(col("z"), col("n").as("u"), col("__dz"))
      .join(adj.select(col("z"), col("n").as("v")), Seq("z"))
      .filter(col("u") < col("v"))
    val scored = wedges
      .groupBy(col("u").as("a"), col("v").as("b"))
      .agg(count(lit(1)).as("n_common"),
        sum(Guards.fastRoundDec(
          lit(1.0) / log(col("__dz").cast(DoubleType)),
          6, DecimalType(18, 6))).as("__aa"))
    scored.join(edges, Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"), col("n_common"),
        round(col("__aa").cast(DoubleType), 6).as("aa"))
  }

  /** Degree statistics of an edge list: per-node out/in degree — the
    * control-plane profile every graph job starts with (skew here
    * decides salting/partitioning downstream). One shuffle per
    * direction on the node key. */
  /** Fixed-round k-core peel: symmetrize the edge list, then `rounds`
    * times drop every node with (undirected) degree < k and the edges
    * touching it. After convergence the survivors are exactly the
    * k-core — the standard "dense interaction core" extraction
    * (spam/bot rings, topic cliques) over the engine's graphs. A FIXED
    * round count keeps the result a pure function of the input, which
    * is what lets the DuckDB oracle replay the peel as `rounds`
    * unrolled CTEs; [[kCore]] is the run-to-fixpoint form, and the
    * spec pins peel(R) = peel(R+1) = kCore on the gate graph (fixpoint
    * within R).
    *
    * Returns (node, deg) over the final induced subgraph.
    *
    * Scale shape (VERDICT r9 item 1): the edge frame is materialized
    * ONCE (dst-partitioned) and never re-shuffled — the peel runs on
    * a node-keyed DEGREE table instead of filtering edges. Per round:
    * peel = nodes with deg < k (no shuffle — inherits the degree
    * table's partitioning); each just-peeled node decrements its
    * still-alive neighbors by the edges it takes with it (one join of
    * the static dst-partitioned edge frame against the small peel
    * frame + one groupBy over ONLY the peeled nodes' adjacency), and
    * survivors carry the updated degree to the next generation
    * (node-scale localCheckpoint). Correctness: an induced edge
    * (u,v) disappears exactly when its first endpoint dies, at which
    * point the other endpoint — if still alive — is decremented
    * exactly once, so the incremental degree equals the induced-
    * subgraph degree every round (the classic distributed k-core
    * maintenance argument; GraphSpec pins the cascade). The old
    * per-round double semi-join re-exchanged the full edge frame
    * every round (107 MB on the gate graph — the catalog's #2
    * shuffle producer); this shuffles O(|peeled adjacency| + |nodes|)
    * per round instead. */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 0, "need k >= 1 and rounds >= 0")
    kCoreByDegrees(edges, k, rounds)
  }

  /** The most peel rounds [[kCore]] runs before it stops short of
    * the fixpoint. */
  private val KCoreMaxRounds = 50

  /** Run the peel to FIXPOINT (early exit when a round removes
    * nothing — one 1-row count per round), at most [[KCoreMaxRounds]]
    * rounds. Equals [[kCorePeel]] for any `rounds` ≥ the fixpoint
    * depth. */
  def kCore(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 1)
    kCoreByDegrees(edges, k, KCoreMaxRounds)
  }

  /** Incremental-degree peel shared by [[kCorePeel]] and [[kCore]].
    * A round with an empty peel set is a no-op (the subgraph is
    * already the fixpoint), so breaking early preserves the
    * fixed-round semantics exactly. */
  private def kCoreByDegrees(
      edges: DataFrame,
      k: Int,
      rounds: Int): DataFrame = {
    // the ONLY edge materialization: dst-partitioned so every
    // round's peel join co-locates from the block manager
    val eD = symmetrized(edges).repartition(col("dst"))
      .localCheckpoint(true)
    var deg = eD.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .localCheckpoint(true) // node-scale generations
    var r = 0
    var stable = false
    while (r < rounds && !stable) {
      val peel = deg.filter(col("deg") < k).select(col("node"))
      if (peel.count() == 0L) {
        stable = true
      } else {
        // edges whose dst just died, grouped to per-src decrements:
        // the shuffle is the peeled nodes' adjacency, not the graph
        val dec = eD
          .join(peel.select(col("node").as("dst")), Seq("dst"))
          .groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("__dec"))
        deg = deg.filter(col("deg") >= k)
          .join(dec, Seq("node"), "left")
          .select(col("node"),
            (col("deg") - coalesce(col("__dec"), lit(0L))).as("deg"))
          .localCheckpoint(true)
      }
      r += 1
    }
    // a survivor whose degree hit 0 has no induced edges left — it is
    // not a node of the induced subgraph (matches the edge-filtering
    // formulation, where it simply vanishes from the frame)
    deg.filter(col("deg") >= 1L)
  }

  /** Synchronous label-propagation communities (Raghavan, Albert &
    * Kumara 2007): labels start as node ids; each round, EVERY node
    * simultaneously adopts the most frequent label among its
    * neighbors' previous-round labels (count desc, label asc — fully
    * deterministic, unlike the published randomized sweep). A fixed
    * round count keeps the oracle an unrolled CTE chain; communities
    * are the label groups after the last round.
    *
    * Scale shape per round: one (node, label) count shuffle over the
    * edge list + one per-node window argmax on the count frame —
    * linear in |E|; the label state localCheckpoints per round (the
    * iterative-lineage idiom every loop here uses). Input edges are
    * canonical (a, b) pairs; both directions are derived.
    *
    * Returns (id, label) for every endpoint. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 10, s"rounds out of range: $rounds")
    val nbr = edges.select(col("a"), col("b"))
      .unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    nbr.count()
    var labels = nbr.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val counts = nbr
        .join(labels.select(col("id").as("b"), col("label")), Seq("b"))
        .groupBy(col("a"), col("label"))
        .agg(count(lit(1)).as("__c"))
      val w = Window.partitionBy(col("a"))
        .orderBy(col("__c").desc, col("label").asc)
      val next = counts.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("a").as("id"), col("label"))
        .localCheckpoint()
      labels.unpersist(false)
      labels = next
    }
    nbr.unpersist(false)
    labels
  }

  /** Undirected edge set: both directions, distinct. */
  private def symmetrized(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

  def degreeStats(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** HITS hubs & authorities over a DIRECTED edge list (`src`, `dst`),
    * `iters` full mutual-reinforcement rounds: auth(i) = Σ_{j→i} hub(j)
    * then hub(i) = Σ_{i→j} auth(j), each vector L1-normalized per
    * round — the second classic link-analysis fixpoint next to
    * [[pageRank]], and the one that separates "points at good pages"
    * (hub) from "is pointed at by good hubs" (authority); on a
    * bipartite interaction graph the two sides get scored by the
    * roles they actually play instead of one blended rank.
    *
    * Iterative idiom as in [[pageRank]]: TWO persisted copies of the
    * edge list — hash-partitioned on `src` for the auth step's join
    * and on `dst` for the hub step's — so both per-round joins
    * co-locate from the block manager (the space-for-shuffle trade;
    * one copy would re-shuffle every round), `localCheckpoint` cuts
    * lineage per generation, old generations release only after the
    * next materializes. Determinism: scores live as DECIMAL(18,6)
    * (sums exact and order-independent); normalization is one double
    * division + 6-dp round per node against the exact decimal L1
    * total (L2 would need a √ inside the per-round arithmetic).
    *
    * Returns (node, hub, auth) as DECIMAL(18,6) for every node. */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters out of range: $iters")
    val dec = DecimalType(18, 6)
    val zero = lit("0.000000").cast(dec)
    val eSrc = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    eSrc.count() // materialize before deriving, so the upstream edge
    // build (often a join) runs ONCE — the dst copy re-partitions the
    // cached frame instead of recomputing distinct from scratch
    val eDst = eSrc
      .repartition(col("dst")).persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = eSrc.select(col("src").as("node"))
      .union(eSrc.select(col("dst").as("node")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    nodes.count(); eDst.count() // materialize the loop invariants

    // normalize a raw decimal score vector: coalesce the no-edge
    // nodes to 0, divide by the exact L1 total in double, round 6.
    // The raw join+aggregate is checkpointed FIRST: the L1-total and
    // the node join are two consumers, and without the
    // materialization each round evaluated the edge⋈score aggregate
    // twice (the multi-consumer rule, guide §2.4). Round 17 (VERDICT
    // item 1, "fuse the half-round checkpoints"): the checkpoint is
    // LAZY and materializes UNDER the 1-row total collect — one job
    // instead of round 16's eager-checkpoint job + broadcast-exchange
    // build + consumer job per half-round; the collected total is the
    // identical exact-decimal-sum-cast-to-double the broadcast
    // carried, now a literal in the normalize projection
    // (a control-plane 1-row collect).
    def normalized(raw0: DataFrame, outCol: String): DataFrame = {
      val raw = raw0.localCheckpoint(false) // |nodes| rows
      val totRow = raw
        .agg(sum(col("__raw")).cast(DoubleType).as("__tot")).collect()(0)
      val tot =
        if (totRow.isNullAt(0)) lit(null).cast(DoubleType)
        else lit(totRow.getDouble(0))
      nodes.join(raw, Seq("node"), "left")
        .select(col("node"),
          when(tot > 0,
            Guards.fastRoundDec(
              coalesce(col("__raw"), zero).cast(DoubleType) / tot,
              6, dec))
            .otherwise(lit(0.0).cast(dec)).as(outCol))
    }

    var hub = nodes.withColumn("h", lit("1.000000").cast(dec))
      .persist(StorageLevel.MEMORY_AND_DISK)
    hub.count()
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      val authRaw = eSrc
        .join(hub.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("h")).cast(dec).as("__raw"))
      val nextAuth = normalized(authRaw, "a").localCheckpoint()
      val prevAuth = auth
      auth = nextAuth
      val hubRaw = eDst
        .join(auth.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(sum(col("a")).cast(dec).as("__raw"))
      val nextHub = normalized(hubRaw, "h").localCheckpoint()
      if (prevAuth != null) prevAuth.unpersist(false)
      hub.unpersist(false)
      hub = nextHub
    }
    val out = hub.join(auth, Seq("node"))
      .select(col("node"), col("h").as("hub"), col("a").as("auth"))
    eSrc.unpersist(false); eDst.unpersist(false); nodes.unpersist(false)
    out
  }

  /** Degree assortativity (Newman 2002, Phys. Rev. Lett. 89.208701):
    * the Pearson correlation of (out-deg(src), in-deg(dst)) over the
    * DIRECTED edge list — Newman's directed form (ADVICE r11: the dst
    * endpoint takes its IN-degree, which every node appearing as a
    * dst has by construction, so the degree joins are lossless on any
    * directed input). Positive means hubs link to hubs (a
    * social-network shape), negative means hubs fan out to leaves
    * (the hub-dominated k-NN pathology reciprocity also probes, read
    * as one number). On a symmetrized edge list in-degree equals
    * out-degree and the coefficient is the standard undirected form.
    *
    * Scale shape: two degree aggregates (map-side combined), two
    * broadcast-sized joins of edges against the degree table (at web
    * scale: the degree frame is |nodes| — shuffle-join on the
    * endpoint; Spark picks by size), ONE 1-row aggregate. Exactness:
    * degrees and their per-edge products are integers summed as
    * DECIMAL(38,0) — order-free at any scale; the Pearson assembly is
    * closed-form double arithmetic in a literal op order the oracle
    * mirrors, one IEEE sqrt, round 6.
    *
    * Returns one row: (n_edges, assortativity — NULL when either
    * variance is zero, e.g. a regular graph). */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("__d"))
    val inDeg = edges.groupBy(col("dst")).agg(count(lit(1)).as("__d"))
    val p = edges
      .join(outDeg.select(col("src"), col("__d").as("__dx")), Seq("src"))
      .join(inDeg.select(col("dst"), col("__d").as("__dy")), Seq("dst"))
    val dec = DecimalType(38, 0)
    val agg = p.agg(
      count(lit(1)).as("n_edges"),
      sum(col("__dx").cast(dec)).as("__sx"),
      sum(col("__dy").cast(dec)).as("__sy"),
      sum((col("__dx") * col("__dy")).cast(dec)).as("__sxy"),
      sum((col("__dx") * col("__dx")).cast(dec)).as("__sxx"),
      sum((col("__dy") * col("__dy")).cast(dec)).as("__syy"))
    def d(c: String) = col(c).cast(DoubleType)
    val n = col("n_edges").cast(DoubleType)
    val num = n * d("__sxy") - d("__sx") * d("__sy")
    val vx = n * d("__sxx") - d("__sx") * d("__sx")
    val vy = n * d("__syy") - d("__sy") * d("__sy")
    agg.select(col("n_edges"),
      when(vx > 0.0 && vy > 0.0,
        round(num / sqrt(vx * vy), 6))
        .otherwise(lit(null).cast(DoubleType)).as("assortativity"))
  }

  /** Rich-club coefficient curve (Zhou & Mondragón 2004): for each
    * degree cut k, φ(k) = 2·E_k / (N_k·(N_k − 1)) where N_k counts
    * nodes of degree > k and E_k the UNDIRECTED edges between two
    * such nodes — do the hubs form their own densely-wired club?
    * Rising φ(k) with k is the rich-club effect; on a k-NN graph it
    * reads as "the most-listed vectors also list each other", the
    * third face of the hubness triad next to reciprocity and
    * assortativity (and the one that localizes WHERE in the degree
    * spectrum the crowding lives).
    *
    * Input: distinct undirected pairs (`a`, `b`). Scale shape: one
    * degree aggregate, two joins of the edge list against it, one
    * bounded explode over the k cuts (maxK rows per edge/node), two
    * k-keyed count aggregates. Integer counts end to end; φ is one
    * double division, round 6 — NULL when fewer than two nodes clear
    * the cut.
    *
    * Returns one row per k in [1, maxK] with N_k > 0:
    * (k, n_k, e_k, phi). */
  def richClub(edges: DataFrame, maxK: Int = 8): DataFrame = {
    require(maxK >= 1 && maxK <= 1024, s"maxK out of range: $maxK")
    val directed = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
    val deg = directed.groupBy(col("src")).agg(count(lit(1)).as("__d"))
    val p = edges
      .join(deg.select(col("src").as("a"), col("__d").as("__da")),
        Seq("a"))
      .join(deg.select(col("src").as("b"), col("__d").as("__db")),
        Seq("b"))
    val ek = p
      .select(col("__da"), col("__db"),
        explode(sequence(lit(1), lit(maxK))).as("k"))
      .filter(col("__da") > col("k") && col("__db") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("e_k"))
    val nk = deg
      .select(col("__d"), explode(sequence(lit(1), lit(maxK))).as("k"))
      .filter(col("__d") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_k"))
    val nkD = col("n_k").cast(DoubleType)
    nk.join(ek, Seq("k"), "left")
      .select(col("k").cast(org.apache.spark.sql.types.LongType).as("k"),
        col("n_k"), coalesce(col("e_k"), lit(0L)).as("e_k"))
      .withColumn("phi",
        when(col("n_k") > 1,
          round(lit(2.0) * col("e_k").cast(DoubleType) /
            (nkD * (nkD - 1.0)), 6))
          .otherwise(lit(null).cast(DoubleType)))
  }
}
