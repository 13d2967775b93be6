package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class GraphSpec extends SparkSpecBase {
  import spark.implicits._

  test("pageRank: a directed cycle is a fixed point at rank 1") {
    // A→B→C→A, out-degree 1 everywhere: rank = 0.15 + 0.85·1 = 1.0
    // at every iteration — any drift is an arithmetic bug
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val got = Graph.pageRank(edges, iters = 7)
      .collect().map(r => (r.getLong(0), r.getDecimal(1).toPlainString))
      .toSet
    assert(got == Set(1L, 2L, 3L).map(_ -> "1.000000"))
  }

  test("pageRank: star graph matches hand-computed two-step values") {
    // leaves 1,2,3 → center 9; leaves are dangling-free sources,
    // center is a sink (its mass leaks — the documented formulation).
    // iter1: center = 0.15 + 3·round(0.85·1.0, 6) = 2.70; leaves 0.15
    // iter2: center = 0.15 + 3·round(0.85·0.15, 6) = 0.5325
    val edges = Seq((1L, 9L), (2L, 9L), (3L, 9L)).toDF("src", "dst")
    val r1 = Graph.pageRank(edges, iters = 1)
      .collect().map(r => (r.getLong(0), r.getDecimal(1).toPlainString)).toMap
    assert(r1(9L) == "2.700000" && r1(1L) == "0.150000")
    val r2 = Graph.pageRank(edges, iters = 2)
      .collect().map(r => (r.getLong(0), r.getDecimal(1).toPlainString)).toMap
    assert(r2(9L) == "0.532500" && r2(2L) == "0.150000")
  }

  test("pageRank: out-degree splits contribution") {
    // 1 → {2, 3}: each gets round(0.85/2, 6) = 0.425
    val edges = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val r1 = Graph.pageRank(edges, iters = 1)
      .collect().map(r => (r.getLong(0), r.getDecimal(1).toPlainString)).toMap
    assert(r1(2L) == "0.575000" && r1(3L) == "0.575000" &&
      r1(1L) == "0.150000")
  }

  test("pageRank: self-loop is a fixed point; isolated dst decays") {
    // 1→1 (self-loop, out-deg 1): rank stays 1.0 forever.
    // 2→3: 3 receives from 2 only; by iter2, 2's rank is 0.15 so
    // 3 = 0.15 + round(0.85·0.15) = 0.2775.
    val edges = Seq((1L, 1L), (2L, 3L)).toDF("src", "dst")
    val r = Graph.pageRank(edges, iters = 2)
      .collect().map(r => (r.getLong(0), r.getDecimal(1).toPlainString)).toMap
    assert(r(1L) == "1.000000" && r(2L) == "0.150000" && r(3L) == "0.277500")
  }

  test("triangleStats: K4 is fully clustered") {
    // complete graph on 4 nodes: 4 triangles, every wedge closed
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("a", "b")
    val r = Graph.triangleStats(e).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4)) == ((4L, 6L, 4L, 12L, 1.0)))
  }

  test("triangleStats: a path has wedges but no triangle") {
    val e = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val r = Graph.triangleStats(e).collect()(0)
    assert((r.getLong(2), r.getLong(3), r.getDouble(4)) == ((0L, 1L, 0.0)))
  }

  test("triangleStats: triangle with a pendant edge") {
    // degrees 2,2,3,1 → wedges 1+1+3+0 = 5; one triangle; cc = 3/5
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val r = Graph.triangleStats(e).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4)) == ((4L, 4L, 1L, 5L, 0.6)))
  }

  test("triangleStats: edgeless wedge-free graph reports cc 0") {
    val e = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    val r = Graph.triangleStats(e).collect()(0)
    assert((r.getLong(2), r.getLong(3), r.getDouble(4)) == ((0L, 0L, 0.0)))
  }

  test("bfsHops: path distances, horizon cut, unreached absent") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L))
      .toDF("a", "b")
    val got = Graph.bfsHops(e, Seq(1L), iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // 5 is 4 hops away (beyond iters=3); 7/8 are a different component
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("bfsHops: multi-source takes the minimum over seeds") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val got = Graph.bfsHops(e, Seq(1L, 5L), iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
  }

  test("harmonicCentrality: per-seed reciprocal sums on a path, " +
      "horizon cut, disconnected component contributes nothing") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L))
      .toDF("a", "b")
    val got = Graph.harmonicCentrality(e, Seq(1L, 5L), iters = 3)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getDouble(2)))).toMap
    // node 2: d(1,2)=1, d(5,2)=3 → 1 + .333333; node 3: 1/2 + 1/2;
    // node 4 mirrors node 2. The seeds themselves sit 4 hops apart —
    // beyond the horizon — and self-terms are excluded, so neither
    // seed appears; 7/8 are a different component and never appear
    assert(got(2L) == ((2L, 1.333333)))
    assert(got(3L) == ((2L, 1.0)))
    assert(got(4L) == ((2L, 1.333333)))
    assert(!got.contains(1L) && !got.contains(5L))
    assert(!got.contains(7L) && !got.contains(8L))
  }

  test("triangleStats matches brute force on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val n = 24
    val edges = for {
      a <- 0 until n; b <- (a + 1) until n if rnd.nextDouble() < 0.18
    } yield (a.toLong, b.toLong)
    val adj = edges.toSet
    val ids = (0 until n).map(_.toLong)
    val triBrute = (for {
      a <- ids; b <- ids if a < b && adj((a, b))
      c <- ids if b < c && adj((b, c)) && adj((a, c))
    } yield 1).size.toLong
    val deg = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (_, v) => v.size.toLong }
    val wedges = deg.map(d => d * (d - 1) / 2).sum
    val r = Graph.triangleStats(edges.toDF("a", "b")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((deg.size.toLong, edges.size.toLong, triBrute, wedges)))
  }

  test("bfsHops matches a local BFS on a seeded random graph") {
    val rnd = new scala.util.Random(7)
    val n = 24
    val edges = for {
      a <- 0 until n; b <- (a + 1) until n if rnd.nextDouble() < 0.12
    } yield (a.toLong, b.toLong)
    val nbrs = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val seeds = Seq(0L, 1L)
    var dist = seeds.map(_ -> 0L).toMap
    for (d <- 1L to 3L) {
      val frontier = dist.collect { case (v, dd) if dd == d - 1 => v }
      val nxt = frontier.flatMap(v => nbrs.getOrElse(v, Set.empty))
        .filterNot(dist.contains)
      dist = dist ++ nxt.map(_ -> d)
    }
    val got = Graph.bfsHops(edges.toDF("a", "b"), seeds, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == dist)
  }

  test("commonNeighborScores: square graph scores its two diagonals") {
    // 1-2-3-4-1: diagonals (1,3) and (2,4) share two degree-2
    // neighbors → aa = 2·round(1/ln 2, 6); adjacent pairs are absent
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    val got = Graph.commonNeighborScores(e).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2),
        r.getDouble(3)))).toMap
    val aa = 2 * BigDecimal(1.0 / math.log(2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map((1L, 3L) -> ((2L, aa)), (2L, 4L) -> ((2L, aa))))
  }

  test("triangleStats: empty edge set yields an all-zero census") {
    val e = Seq.empty[(Long, Long)].toDF("a", "b")
    val r = Graph.triangleStats(e).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4)) == ((0L, 0L, 0L, 0L, 0.0)))
  }

  test("bfsHops: seeds outside the graph stay at distance 0") {
    val e = Seq((1L, 2L)).toDF("a", "b")
    val got = Graph.bfsHops(e, Seq(9L), iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(9L -> 0L))
  }

  test("commonNeighborScores: triangle graph has no candidate pair") {
    // every two-hop pair is already adjacent → empty result
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b")
    assert(Graph.commonNeighborScores(e).count() == 0)
  }

  test("degreeStats: full-outer degrees with zero fill") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val got = Graph.degreeStats(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 0L), (2L, 1L, 1L), (3L, 0L, 2L)))
  }

  test("kCorePeel: 2-core of a triangle with a pendant chain is the " +
    "triangle; peeling cascades down the chain") {
    // 1-2-3 triangle, pendant chain 3-4-5: round 1 drops 5 (deg 1),
    // round 2 drops 4 -- the cascade a single-pass degree filter
    // would miss
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val one = Graph.kCorePeel(edges, k = 2, rounds = 1)
      .collect().map(r => r.getLong(0)).toSet
    assert(one == Set(1L, 2L, 3L, 4L), "round 1 should only drop node 5")
    val core = Graph.kCorePeel(edges, k = 2, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"got $core")
    // fixpoint variant agrees
    val fx = Graph.kCore(edges, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fx == core)
  }

  test("kCorePeel reaches fixpoint within the gate's 8 rounds on the " +
    "supplier-customer graph (peel 8 = peel 9 = kCore)") {
    val dir = "/root/testdata/sf0.001"
    val li = graft.core.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
    val o = graft.core.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("src"),
        (col("o_custkey") + lit(1000000L)).as("dst"))
      .distinct()
    def peel(r: Int): Map[Long, Long] =
      Graph.kCorePeel(edges, k = 5, rounds = r)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    val p8 = peel(8)
    assert(p8 == peel(9), "not a fixpoint within 8 rounds")
    assert(p8 == Graph.kCore(edges, k = 5)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap)
    assert(p8.nonEmpty, "empty core is a degenerate gate")
  }

  test("labelPropagation: two triangles joined by one bridge converge " +
      "to two communities labeled by their min ids") {
    import spark.implicits._
    // triangle {1,2,3}, triangle {10,11,12}, bridge 3–10. Round 1:
    // every triangle node adopts its own triangle's min neighbor
    // label; rounds 2–3 settle each triangle on its min id (1 / 10),
    // the bridge notwithstanding (one cross vote loses to two local).
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L)).toDF("a", "b")
    val got = Graph.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet.size == 2, s"got $got")
    assert(got(1L) == got(2L) && got(2L) == got(3L), s"got $got")
    assert(got(10L) == got(11L) && got(11L) == got(12L), s"got $got")
    assert(got(1L) != got(10L), s"got $got")
  }

  test("hits: hand-computed two-round fixpoint on a 4-node bipartite " +
      "graph; roleless sides score 0") {
    import spark.implicits._
    // edges 1→3, 2→3, 2→4. Round 1: auth = {3: 2/3, 4: 1/3};
    // hub = {1: .4, 2: .6}. Round 2: auth raw {3: 1.0, 4: .6},
    // tot 1.6 → {3: .625, 4: .375}; hub raw {1: .625, 2: 1.0},
    // tot 1.625 → {1: .384615, 2: .615385}.
    val edges = Seq((1L, 3L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val got = Graph.hits(edges, iters = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getDecimal(1).doubleValue, r.getDecimal(2).doubleValue))
      .toMap
    assert(got(1L) == ((0.384615, 0.0)))
    assert(got(2L) == ((0.615385, 0.0)))
    assert(got(3L) == ((0.0, 0.625)))
    assert(got(4L) == ((0.0, 0.375)))
  }

  test("personalizedPageRank: mass flows only from the seed — " +
      "hand-computed chain values, unreachable component stays 0") {
    // 1→2→3 with seed {1}, plus a disjoint 4→5: after 3 rounds
    // r1 = 0.15, r2 = 0.85·0.15 = 0.1275, r3 = 0.85·0.1275 =
    // 0.108375; 4 and 5 never see teleport or seed mass → exactly 0
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = Graph.personalizedPageRank(edges, seeds, iters = 3)
      .collect().map(r => (r.getLong(0), r.getDecimal(1).toPlainString))
      .toMap
    assert(got(1L) == "0.150000", s"got $got")
    assert(got(2L) == "0.127500", s"got $got")
    assert(got(3L) == "0.108375", s"got $got")
    assert(got(4L) == "0.000000" && got(5L) == "0.000000",
      s"unreachable nodes must stay exactly 0: $got")
  }

  test("degreeAssortativity: a star is exactly -1, a regular graph " +
    "abstains (zero degree variance)") {
    // K_{1,3} symmetrized: hub degree 3, leaves 1 — every edge pairs
    // (3,1): the textbook perfectly DISassortative graph, r = -1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val s = Graph.degreeAssortativity(star).collect()(0)
    assert(s.getAs[Long]("n_edges") == 6L)
    assert(s.getAs[Double]("assortativity") == -1.0, s"got $s")
    // a 4-cycle is 2-regular: zero variance on both endpoints — the
    // coefficient must abstain with NULL, not divide by zero
    val cycle = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val c = Graph.degreeAssortativity(cycle).collect()(0)
    assert(c.getAs[Long]("n_edges") == 8L)
    assert(c.isNullAt(c.fieldIndex("assortativity")), s"got $c")
  }

  test("degreeAssortativity on a genuinely DIRECTED edge list: dst " +
    "takes its IN-degree (Newman's directed form) and no edge is " +
    "dropped for a dst without outgoing edges (ADVICE r11)") {
    // 0→1, 0→2, 1→2, 2→0: out-degrees (0:2, 1:1, 2:1), in-degrees
    // (1:1, 2:2, 0:1) → per-edge (out(src), in(dst)) pairs
    // (2,1),(2,2),(1,2),(1,1): n=4, sx=sy=6, sxy=9, sxx=syy=10 →
    // num = 4·9 − 36 = 0 → r = 0 exactly. The old out-degree-only
    // join gave sy=5, syy=7 (and a directed star dropped ALL edges).
    val directed = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L))
      .toDF("src", "dst")
    val r = Graph.degreeAssortativity(directed).collect()(0)
    assert(r.getAs[Long]("n_edges") == 4L, s"got $r")
    assert(r.getAs[Double]("assortativity") == 0.0, s"got $r")
    // directed star: every dst is a sink — the in-degree join keeps
    // all 3 edges (the out-degree join found none)
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val s = Graph.degreeAssortativity(star).collect()(0)
    assert(s.getAs[Long]("n_edges") == 3L, s"got $s")
    assert(s.isNullAt(s.fieldIndex("assortativity")), s"got $s")
  }

  test("richClub: two wired hubs give phi = 1 at every cut they " +
    "clear; a lone hub abstains") {
    // hubs 0, 1 (degree 3 each) connected to each other + leaves:
    // at k = 1 and 2 the club is exactly {0, 1} with their one edge
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 4L), (1L, 5L))
      .toDF("a", "b")
    val got = Graph.richClub(edges, maxK = 4).collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[Long]("n_k"), r.getAs[Long]("e_k"),
          Option(r.getAs[java.lang.Double]("phi")))).toMap
    assert(got.keySet == Set(1L, 2L), s"got $got")
    assert(got(1L) == ((2L, 1L, Some(1.0))), s"got ${got(1L)}")
    assert(got(2L) == ((2L, 1L, Some(1.0))), s"got ${got(2L)}")
    // a single node above the cut: no pair exists — NULL phi
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val lone = Graph.richClub(star, maxK = 2).collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[Long]("n_k"), r.getAs[Long]("e_k"),
          Option(r.getAs[java.lang.Double]("phi")))).toMap
    assert(lone(1L) == ((1L, 0L, None)), s"got $lone")
    assert(lone(2L) == ((1L, 0L, None)), s"got $lone")
  }

  test("localClustering: triangle corners score 1, the bridging " +
      "node 1/3, a pendant abstains") {
    // triangle 1-2-3 plus pendant 3-4: nodes 1,2 have d=2 and their
    // one neighbor pair connected (cc=1); node 3 has d=3, one of
    // three pairs connected (2·1·10⁶ div 6 = 333333); node 4 d=1 → NULL
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val got = Graph.localClustering(e).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        Option(r.getAs[java.lang.Double]("cc")))).toMap
    assert(got(1L) == ((2L, 1L, Some(1.0))), s"got $got")
    assert(got(2L) == ((2L, 1L, Some(1.0))), s"got $got")
    assert(got(3L) == ((3L, 1L, Some(0.333333))), s"got $got")
    assert(got(4L) == ((1L, 0L, None)), s"got $got")
    // triangle-free graph: every cc with d ≥ 2 is exactly 0
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val p = Graph.localClustering(path).collect()
      .map(r => r.getLong(0) ->
        Option(r.getAs[java.lang.Double]("cc"))).toMap
    assert(p(2L) == Some(0.0) && p(1L).isEmpty && p(3L).isEmpty,
      s"got $p")
  }

  test("kTruss: a 4-clique survives k=4 while a pendant triangle " +
      "and a bridge peel away; k=3 keeps both triangles") {
    // 4-clique on 1..4 (every edge in 2 triangles), pendant triangle
    // 4-5-6 (support 1), bridge 6-7 (support 0)
    val clique = for {
      x <- 1L to 4L; y <- (x + 1) to 4L
    } yield (x, y)
    val e = (clique ++ Seq((4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)))
      .toDF("a", "b")
    val t4 = Graph.kTruss(e, k = 4, iters = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(t4.keySet == clique.toSet, s"got $t4")
    assert(t4.values.forall(_ == 2L), s"got $t4")
    val t3 = Graph.kTruss(e, k = 3, iters = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t3 == clique.toSet ++ Set((4L, 5L), (4L, 6L), (5L, 6L)),
      s"got $t3")
  }

  test("betweennessSampled: path-graph dependencies accumulate " +
      "1+delta down the chain; a diamond splits sigma and halves the " +
      "dependency") {
    // path 0−1−2−3−4 from seed 0: σ = 1 everywhere, δ(v) counts the
    // nodes strictly beyond v: bc = 3, 2, 1, 0 for nodes 1..4
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val p = Graph.betweennessSampled(path, Seq(0L), horizon = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(p == Map(1L -> 3.0, 2L -> 2.0, 3L -> 1.0, 4L -> 0.0),
      s"got $p")
    // diamond 0−{1,2}−3: two shortest paths to 3 (σ = 2), so each
    // middle node brokers half a dependency
    val dia = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b")
    val d = Graph.betweennessSampled(dia, Seq(0L), horizon = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(d == Map(1L -> 0.5, 2L -> 0.5, 3L -> 0.0), s"got $d")
    // two seeds sum: every interior node brokers 4 in total
    // (3 + 1, 2 + 2, 1 + 3); the path ENDS broker nothing from
    // either seed
    val p2 = Graph.betweennessSampled(path, Seq(0L, 4L), horizon = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(p2 == Map(0L -> 0.0, 1L -> 4.0, 2L -> 4.0, 3L -> 4.0,
      4L -> 0.0), s"got $p2")
  }

  test("kTruss early exit: the peel stops at the zero-peel round and " +
      "the result is identical to the full bounded loop") {
    // same fixture as above: k=4 peels the pendant triangle and the
    // bridge in round 1, round 2 removes nothing → the loop must stop
    // at round 2 even with a 20-round budget
    val clique = for {
      x <- 1L to 4L; y <- (x + 1) to 4L
    } yield (x, y)
    val e = (clique ++ Seq((4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)))
      .toDF("a", "b")
    val (truss, rounds) = Graph.kTrussWithRounds(e, k = 4, iters = 20)
    assert(rounds == 2, s"expected early exit at round 2, ran $rounds")
    val got = truss.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val full = Graph.kTruss(e, k = 4, iters = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == full, s"early-exit result diverged: $got vs $full")
    // an already-stable input exits after ONE (no-op) round
    val stable = clique.toDF("a", "b")
    val (_, r1) = Graph.kTrussWithRounds(stable, k = 4, iters = 20)
    assert(r1 == 1, s"stable truss should exit after 1 round, ran $r1")
  }

  test("eccentricitySampled: path-graph hops cap at the horizon and " +
      "the reach count says how much each seed saw") {
    import spark.implicits._
    // path 0-1-2-3-4-5 plus an isolated edge 10-11: from seed 0 the
    // true ecc is 5 but the 3-hop horizon caps it at 3 (reach 3);
    // from seed 2 everything on the path is within 3 hops (ecc 3,
    // reach 5); seed 10 sees only 11 (ecc 1, reach 1)
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L)).toDF("a", "b")
    val got = Graph.eccentricitySampled(e, Seq(0L, 2L, 10L), iters = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(0L -> ((3L, 3L)), 2L -> ((3L, 5L)),
      10L -> ((1L, 1L))), s"got $got")
  }
}
