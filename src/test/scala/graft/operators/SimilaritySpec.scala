package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.Tables

/** ANN quality sanity on the real testdata: the approximate paths must
  * recover a meaningful share of the exact top-k, and the IVF cell
  * assignment must cover the corpus exactly once. */
class SimilaritySpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("twoNNDimension: real testdata yields a positive estimate " +
      "well under the ambient dimension; a duplicated corpus abstains") {
    import spark.implicits._
    val r = Similarity.twoNNDimension(Tables.embeddings(spark, dir),
      "vec_id", "embedding").collect()(0)
    val nv = r.getAs[Long]("n_vectors")
    assert(nv > 0 && r.getAs[Long]("n_used") <= nv)
    val id = r.getAs[Double]("id_hat")
    // a real 64-d cloud occupies more than 1 effective dimension and
    // the estimator can't exceed ambient by an order of magnitude
    assert(id > 1.0 && id < 640.0, s"id_hat $id")
    // all-duplicates cloud: every d1 = 0 → every vector excluded →
    // abstention (id_hat NULL, n_used 0)
    val dup = (1L to 12L).map(i => (i, Array.fill(8)(0.5f)))
      .toDF("vec_id", "embedding")
    val d = Similarity.twoNNDimension(dup, "vec_id", "embedding")
      .collect()(0)
    assert(d.getAs[Long]("n_used") == 0L &&
      d.isNullAt(d.fieldIndex("id_hat")), s"got $d")
  }

  test("s9/s12 scaled-long rounds agree with decimal HALF_UP on every " +
      "fixture value and self-product (ADVICE r7 boundary-caveat gate)") {
    // The operators' ±floor(|p|·10^s + 0.5) shortcut is only
    // DATA-DEPENDENTLY identical to round(p, s) decimal HALF_UP (a
    // double multiply can cross a .5 boundary for values whose s-dp
    // expansion sits near a tie) — this is the value-level agreement
    // gate that must re-run on every data regeneration. It checks
    // every distinct embedding component (s9, the centroid form) and
    // every self-product (s12, the dot-product form) in the fixture.
    import org.apache.spark.sql.types._
    val vs = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("v").cast(DoubleType).as("v")).distinct()
    def scaled(p: org.apache.spark.sql.Column, s: Long) =
      when(p >= 0, floor(p * lit(s.toDouble) + lit(0.5)))
        .otherwise(-floor(-p * lit(s.toDouble) + lit(0.5)))
        .cast(LongType)
    def decimalScaled(p: org.apache.spark.sql.Column, dp: Int, s: Long) =
      (p.cast(DecimalType(38, dp)) * lit(s)).cast(LongType)
    val bad9 = vs.filter(
      scaled(col("v"), 1000000000L) =!=
        decimalScaled(col("v"), 9, 1000000000L)).count()
    assert(bad9 == 0L, s"$bad9 embedding components round differently " +
      "at 9 dp — regenerate-proof failed, switch s9 to decimal Round")
    val bad12 = vs.select((col("v") * col("v")).as("p")).filter(
      scaled(col("p"), 1000000000000L) =!=
        decimalScaled(col("p"), 12, 1000000000000L)).count()
    assert(bad12 == 0L, s"$bad12 self-products round differently at " +
      "12 dp — regenerate-proof failed, switch s12 to decimal Round")
  }

  test("bruteForceTopK (literal query vector, the new-document entry " +
      "point) agrees with topKPerQuery on the fixture") {
    val emb = Tables.embeddings(spark, dir)
    val qvec = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    def canon(rows: Array[(Long, Long)]) =
      rows.sortBy { case (id, c) => (-c, id) }.toSeq
    val viaLit = canon(Similarity
      .bruteForceTopK(emb, "vec_id", "embedding", qvec, k = 10)
      .collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6))))
    val viaJoin = canon(Similarity
      .topKPerQuery(emb, emb.filter(col("vec_id") === 0L),
        "vec_id", "embedding", k = 10)
      .select(col("corpus_id"), col("cos"))
      .collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6))))
    assert(viaLit == viaJoin)
  }

  test("topPrincipalComponent converges onto the planted dominant axis") {
    import spark.implicits._
    // variance overwhelmingly along axis 0: the component's max-
    // normalized weight must be 1.0 there and ~0 on axis 1
    val rows = Seq(
      (0L, Seq(3f, 0f)), (1L, Seq(2f, 0f)), (2L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val w = Similarity.topPrincipalComponent(rows, "vec_id", "embedding",
        iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w(0L) == 1.0)
    assert(math.abs(w(1L)) < 0.01, s"off-axis weight too big: ${w(1L)}")
  }

  test("topPrincipalComponents: component 1 matches the dominant " +
    "operator bit-for-bit; component 2 finds the deflated second axis") {
    import spark.implicits._
    // two planted orthogonal axes with distinct variance: axis 0
    // dominates, axis 1 is the runner-up, axis 2 carries nothing
    val rows = Seq(
      (0L, Seq(3f, 0f, 0f)), (1L, Seq(2f, 0f, 0f)),
      (2L, Seq(0f, 2f, 0f)), (3L, Seq(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val both = Similarity
      .topPrincipalComponents(rows, "vec_id", "embedding", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val one = Similarity
      .topPrincipalComponent(rows, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0L to 2L).foreach { d =>
      assert(both((1L, d)) == one(d), s"component 1 drifted at d=$d")
    }
    assert(both((2L, 1L)) == 1.0,
      s"component 2 must peak on axis 1: $both")
    // component 1 is only 3-iteration-approximate, so deflation
    // leaves a small axis-0 residue in component 2 — the peak moves
    // to axis 1 regardless
    assert(math.abs(both((2L, 0L))) < 0.2 &&
      math.abs(both((2L, 2L))) < 0.05, s"component 2 off-axis: $both")
  }

  test("topPrincipalComponent refuses an embedding wider than the " +
    "Gram-collect dimension bound") {
    import spark.implicits._
    val wide = Seq((0L, (0 until Similarity.MaxPcaDim + 1)
      .map(_.toFloat).toSeq)).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.topPrincipalComponent(wide, "vec_id", "embedding")
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("Gram-collect bound")),
      s"got: ${messages(e).mkString(" | ")}")
  }

  test("centroidDrift: identical halves score 1, orthogonal halves " +
    "0, a single-half label is absent") {
    import spark.implicits._
    // x: same vector in both halves (even ids early, odd late);
    // y: early on axis 0, late on axis 1; z: early only
    val emb = Seq(
      (0L, "x", Seq(1f, 0f)), (1L, "x", Seq(1f, 0f)),
      (2L, "y", Seq(1f, 0f)), (3L, "y", Seq(0f, 1f)),
      (4L, "z", Seq(1f, 1f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.centroidDrift(emb, "label", "embedding",
        lateFlag = col("vec_id") % 2 === 1)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == Set("x", "y"), s"got $got")
    assert(got("x") == ((1L, 1L, 1.0)), s"got ${got("x")}")
    assert(got("y") == ((1L, 1L, 0.0)), s"got ${got("y")}")
  }

  test("componentEnergy: on-axis energy vs total, hand-computed") {
    import spark.implicits._
    // v = e0: removed = (x·v)² / 1 → 9 for [3,0], 0 for [0,4];
    // totals 9 + 16 = 25
    val emb = Seq((0, Seq(3f, 0f)), (0, Seq(0f, 4f)))
      .toDF("label", "embedding")
    val r = Similarity.componentEnergy(emb, "label", "embedding",
      Array(1.0, 0.0)).collect()
    assert(r.length == 1)
    assert((r(0).getLong(1), r(0).getDouble(2), r(0).getDouble(3)) ==
      ((2L, 9.0, 25.0)))
  }

  test("kmeansRefine pulls centroids onto planted cluster means") {
    import spark.implicits._
    // two well-separated planted clusters in 4-d; seeds = the two
    // lowest-id vectors (one from each cluster by construction)
    val rows = (0 until 40).map { i =>
      val c = i % 2
      val base = if (c == 0) Seq(10f, 0f, 0f, 0f) else Seq(0f, 10f, 0f, 0f)
      val jit = (i / 2) * 0.01f
      (i.toLong, base.map(_ + jit))
    }
    val df = rows.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansRefine(df, "vec_id", "embedding",
        nCells = 2, iters = 2)
      .orderBy(org.apache.spark.sql.functions.col("cid"))
      .collect()
    assert(cents.length == 2)
    val c0 = cents(0).getSeq[Double](1)
    val c1 = cents(1).getSeq[Double](1)
    // cluster 0 mean ≈ (10.095, 0.095, ...), cluster 1 ≈ (0.095, 10.095)
    assert(math.abs(c0(0) - 10.095) < 1e-6 && math.abs(c0(1) - 0.095) < 1e-6)
    assert(math.abs(c1(1) - 10.095) < 1e-6 && math.abs(c1(0) - 0.095) < 1e-6)
    // refinement is idempotent once converged: one more iter, same cells
    val again = Similarity.kmeansRefine(df, "vec_id", "embedding",
        nCells = 2, iters = 3)
      .orderBy(org.apache.spark.sql.functions.col("cid")).collect()
    assert(again.map(_.getSeq[Double](1)).toSeq ==
      cents.map(_.getSeq[Double](1)).toSeq)
  }

  test("int8 quantization: round-trip error bounded, zero vector safe") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.125f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = df.select(col("vec_id"),
      Similarity.int8Scale(col("embedding")).as("s"))
      .join(df, "vec_id")
      .select(col("vec_id"),
        Similarity.quantizeInt8(col("embedding"), col("s")).as("q"),
        Similarity.quantizeError(col("embedding"), col("s")).as("e"))
      .orderBy("vec_id").collect()
    // scale = 1/127; x=1.0 -> 127, -0.5 -> -64 (round .5 away), etc.
    assert(r(0).getSeq[Int](1) == Seq(127, -64, 32, 16))
    // max error bounded by half a cell (scale/2)
    assert(r(0).getDouble(2) <= (1.0 / 127) / 2 + 1e-12)
    assert(r(1).getSeq[Int](1) == Seq(0, 0, 0, 0))
    assert(r(1).getDouble(2) == 0.0)
  }

  test("IVF top-k recalls a substantial share of exact top-k") {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 5)
    val exact = pairsOf(
      Similarity.topKPerQuery(emb, q, "vec_id", "embedding", k = 10))
    val ivf = pairsOf(
      Similarity.ivfTopKPerQuery(emb, q, "vec_id", "embedding",
        k = 10, nCells = 16, nProbe = 4))
    assert(ivf.size == exact.size) // k rows per query either way
    val recall = (ivf & exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall $recall too low")
  }

  test("every corpus vector is assigned to exactly one IVF cell") {
    val emb = Tables.embeddings(spark, dir)
    // nProbe = nCells ⇒ probing everything ⇒ IVF degenerates to exact
    val all = Similarity.ivfTopKPerQuery(emb,
      emb.filter(col("vec_id") < 3), "vec_id", "embedding",
      k = 10, nCells = 8, nProbe = 8)
    val exact = Similarity.topKPerQuery(emb,
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10)
    assert(pairsOf(all) == pairsOf(exact),
      "full probing must equal the exact search")
  }

  test("knnGraph: canonical distinct edges; identical vectors connect") {
    import spark.implicits._
    // two identical groups — identical vectors share every LSH bucket
    // and sit at cosine 1, so within-group edges MUST appear
    val rows =
      Seq(10L, 11L, 12L, 13L).map(id => (id, Array(1f, 0f, 2f))) ++
        Seq(20L, 21L).map(id => (id, Array(-1f, 3f, 0f)))
    val emb = rows.toDF("vec_id", "embedding")
    val e = Similarity.knnGraph(emb, "vec_id", "embedding", k = 5)
    val got = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.forall { case (a, b) => a < b }, "edges must be canonical")
    assert(got.size == e.count(), "edges must be distinct")
    val withinA = Set((10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L),
      (11L, 13L), (12L, 13L))
    assert(withinA.subsetOf(got) && got.contains((20L, 21L)))
  }

  test("lshTopKPerQuery scale-adaptive banding: a corpus past the " +
    "width threshold runs WIDER band keys, planted duplicates still " +
    "collide (identical signatures at any width), and results below " +
    "the threshold are bit-identical to the fixed geometry " +
    "(VERDICT r11 item 2)") {
    import spark.implicits._
    // 6000 vectors > targetCohort·2^(bits/bands) = 16·256 = 4096 →
    // bandBits widens past the 8-bit floor. Deterministic pseudo-
    // random directions plus 10 planted duplicate pairs (ids
    // 100000+i duplicates id i·37) — identical vectors share every
    // band at ANY width, so each query id must report its twin first.
    def vec(i: Long): Array[Float] = {
      def h(a: Long, m: Int) = (((i * a + m * 2654435761L) %
        1000003L + 1000003L) % 1000003L).toFloat / 1000003f - 0.5f
      Array(h(48271, 1), h(69621, 2), h(40692, 3), h(16807, 4))
    }
    val base = (0L until 6000L).map(i => (i, vec(i)))
    val twins = (0 until 10).map(j => (100000L + j, vec(j * 37L)))
    val corpus = (base ++ twins).toDF("vec_id", "embedding")
    val queries = twins.toDF("vec_id", "embedding")
    val got = Similarity.lshTopKPerQuery(corpus, queries,
      "vec_id", "embedding", k = 1, excludeSelf = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 10).foreach { j =>
      assert(got(100000L + j) == j * 37L,
        s"twin of ${100000L + j} not found: $got")
    }
    // below the threshold the adaptive width floors at bits/bands:
    // identical output to an explicitly small corpus run
    val small = (0L until 100L).map(i => (i, vec(i))).toDF(
      "vec_id", "embedding")
    val a = Similarity.lshTopKPerQuery(small, small, "vec_id",
      "embedding", k = 3, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Similarity.lshTopKPerQuery(small, small, "vec_id",
      "embedding", k = 3, excludeSelf = true,
      targetCohort = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b, "below-threshold geometry must be unchanged")
  }

  test("assignClusters: separable groups land on their own centroid") {
    import spark.implicits._
    // seeds = two lowest ids (0 → [1,0], 1 → [0,1]); identical members
    // keep the centroids fixed through the Lloyd round
    val rows = Seq(0L, 2L, 4L).map(id => (id, Array(1f, 0f))) ++
      Seq(1L, 3L, 5L).map(id => (id, Array(0f, 1f)))
    val asg = Similarity.assignClusters(rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", nCells = 2, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(asg.length == 6, "every vector assigned exactly once")
    assert(asg.forall { case (id, cid, cos) =>
      cid == (id % 2) && cos == 1.0 })
  }

  test("kCenterGreedy picks maximally-novel exemplars in order") {
    import spark.implicits._
    // seed = id 0 ([1,0]); id 2 ([0,1], cos 0) is the most novel,
    // then id 3 ([.7,.7], max-cos ≈ .707); id 1 is nearly parallel
    // to the seed and is never picked at k = 3
    val rows = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0.01f)),
      (2L, Array(0f, 1f)), (3L, Array(0.7f, 0.7f)))
    val got = Similarity.kCenterGreedy(rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(_._1)
    assert(got.map(t => (t._1, t._2)).toSeq ==
      Seq((0L, 0L), (1L, 2L), (2L, 3L)))
    assert(got(1)._3 == Some(0.0), "id 2 is orthogonal to the seed")
    assert(got(2)._3.exists(v => v > 0.70 && v < 0.72))
  }

  test("mmrSelect diversifies: a redundant high-relevance candidate " +
      "loses to a diverse lower-relevance one") {
    import spark.implicits._
    // query [1,0]; id 2 picked first (rel ≈ .904, the argmax). id 1
    // is nearly parallel to it (red ≈ 1 → score ≈ −.05); id 3 mirrors
    // id 1 across the query axis (red ≈ .63 → score ≈ +.14), so MMR
    // picks 3 second. Pure relevance (λ = 1) picks 1 second instead:
    // rel₁ = rel₃ exactly (mirrored vectors), id tie-break.
    val q = Seq((0L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(0.9f, 0.436f)), (2L, Array(0.91f, 0.43f)),
      (3L, Array(0.9f, -0.436f))).toDF("vec_id", "embedding")
    val got = Similarity.mmrSelect(corpus, q, "vec_id", "embedding",
        k = 2, lambda = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq == Seq((0L, 2L), (1L, 3L)), s"got ${got.toSeq}")
    // λ = 1 is pure relevance: the redundant id 1 comes back
    val pure = Similarity.mmrSelect(corpus, q, "vec_id", "embedding",
        k = 2, lambda = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(pure.toSeq == Seq((0L, 2L), (1L, 1L)), s"got ${pure.toSeq}")
  }

  test("semanticDedupKeep: keeps the lowest id per duplicate group") {
    import spark.implicits._
    val rows = Seq(0L, 2L, 4L).map(id => (id, Array(1f, 0f))) ++
      Seq(1L, 3L, 5L).map(id => (id, Array(0f, 1f)))
    val kept = Similarity.semanticDedupKeep(
        rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
        nCells = 2, iters = 1, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept == Set((0L, 0L), (1L, 1L)))
  }

  test("dimensionBudgetRecall: full-width budget is the identity row; " +
      "every recall is a valid ratio over the same denominator") {
    val emb = Tables.embeddings(spark, dir)
    val rows = Similarity.dimensionBudgetRecall(emb,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, budgets = Seq(8, 16, 64))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows.keySet == Set("dim8", "dim16", "dim64"))
    // dim64 IS the full width of the fixture embeddings: truncation is
    // the identity, so its top-k equals the truth exactly
    assert(rows("dim64") == ((50L, 50L, 1.0)), s"got ${rows("dim64")}")
    rows.values.foreach { case (hits, total, recall) =>
      assert(total == 50L && hits >= 0L && hits <= total)
      assert(recall >= 0.0 && recall <= 1.0)
      assert(math.abs(recall - hits.toDouble / total) < 1e-9)
    }
  }

  test("pqTopKPerQuery: exact k per query, self-match survives " +
      "coarse 8-byte codes, and recall against brute force is sane") {
    val emb = Tables.embeddings(spark, dir)
    val probes = emb.filter(col("vec_id") < 5)
    val pq = Similarity.pqTopKPerQuery(emb, probes, "vec_id",
      "embedding", k = 10)
    val rows = pq.collect()
    assert(rows.length == 50, "5 queries x k=10")
    // a query vector's OWN codes give it ADC distance = sum of its
    // per-subspace quantization errors — small; it must stay in its
    // own top-10 even under 16-codeword-per-subspace quantization
    val self = rows.filter(r => r.getLong(0) == r.getLong(1))
    assert(self.length == 5, "every probe must retrieve itself")
    val recall = Similarity.recallAtK(
      Similarity.topKPerQuery(emb, probes, "vec_id", "embedding", 10)
        .select(col("query_id"), col("corpus_id")),
      pq.select(col("query_id"), col("corpus_id")), "pq")
      .collect().head.getAs[Double]("recall")
    // seeded (unrefined) codebooks on a tiny corpus: a loose floor —
    // the gate is the value-exact oracle; this pins "not garbage"
    assert(recall >= 0.1, s"pq recall degenerate: $recall")
  }

  test("ivfPqTopKPerQuery: candidates only from probed cells, every " +
      "probe retrieves itself, ranks agree with full PQ on shared pairs") {
    val emb = Tables.embeddings(spark, dir)
    val probes = emb.filter(col("vec_id") < 5)
    val ivfpq = Similarity.ivfPqTopKPerQuery(emb, probes, "vec_id",
      "embedding", k = 10)
    val rows = ivfpq.collect()
    val perQuery = rows.groupBy(_.getLong(0))
    assert(perQuery.keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(perQuery.values.forall(g => g.length <= 10 && g.nonEmpty))
    // the query's own cell is always its first probe, so the query
    // itself is a candidate and its tiny self-quantization ADC must
    // keep it in the result
    assert(rows.count(r => r.getLong(0) == r.getLong(1)) == 5)
    // on pairs BOTH methods return, the ADC value is identical (same
    // codes, same distance table — IVF only restricts candidates)
    val pq = Similarity.pqTopKPerQuery(emb, probes, "vec_id",
        "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    rows.foreach { r =>
      pq.get((r.getLong(0), r.getLong(1))).foreach { adc =>
        assert(adc == r.getDouble(2),
          s"ADC diverges on ${(r.getLong(0), r.getLong(1))}")
      }
    }
  }

  test("recallAtK: hand-computed hit ratio; truth vs itself is 1.0") {
    import spark.implicits._
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L))
      .toDF("query_id", "corpus_id")
    // 3 of the 4 truth pairs + one miss → recall 0.75
    val approx = Seq((1L, 10L), (1L, 99L), (2L, 10L), (2L, 12L))
      .toDF("query_id", "corpus_id")
    val got = Similarity.recallAtK(truth, approx, "m").collect()(0)
    assert((got.getString(0), got.getLong(1), got.getLong(2),
      got.getDouble(3)) == ("m", 3L, 4L, 0.75))
    val self = Similarity.recallAtK(truth, truth, "self").collect()(0)
    assert(self.getLong(1) == 4L && self.getDouble(3) == 1.0)
  }

  test("labelAffinity: parallel label centroids score 1, orthogonal " +
      "score 0, antiparallel score -1") {
    import spark.implicits._
    // label 0 along +x (two vectors), label 1 also +x, label 2 along
    // +y, label 3 along -x
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(1.0f, 0.0f), 0),
      (3L, Seq(0.5f, 0.0f), 1),
      (4L, Seq(0.0f, 2.0f), 2),
      (5L, Seq(-1.0f, 0.0f), 3)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelAffinity(emb, "label", "embedding")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got((0, 1)) == 1.0)
    assert(got((0, 2)) == 0.0)
    assert(got((0, 3)) == -1.0)
    assert(got((2, 3)) == 0.0)
    assert(got.size == 6) // full upper triangle of 4 labels
  }

  test("kmeansConvergence: two separated clusters converge — the " +
      "objective rises, moves stop, both cells stay live") {
    import spark.implicits._
    // both seeds (lowest ids 1, 2) start inside cluster A; Lloyd must
    // pull one centroid over to cluster B and then stop moving
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(1.0f, 0.1f)), (4L, Seq(0.95f, 0.0f)),
      (5L, Seq(0.0f, 1.0f)), (6L, Seq(0.1f, 0.9f)),
      (7L, Seq(0.0f, 0.9f)), (8L, Seq(0.05f, 1.0f))
    ).toDF("vec_id", "embedding")
    val rows = Similarity.kmeansConvergence(emb, "vec_id", "embedding",
        nCells = 2, iters = 3)
      .collect().sortBy(_.getAs[Int]("iter"))
    assert(rows.length == 4)
    assert(rows.forall(_.getAs[Long]("n") == 8L))
    assert(rows.forall(_.getAs[Long]("cells_used") == 2L))
    assert(rows.head.isNullAt(rows.head.fieldIndex("n_moved")))
    val cos = rows.map(_.getAs[Double]("mean_cos"))
    assert(cos.last > cos.head,
      s"objective must improve on this fixture: ${cos.toSeq}")
    assert(rows.last.getAs[Long]("n_moved") == 0L,
      s"converged run must stop moving: ${rows.toSeq}")
  }

  test("mipsTopKPerQuery ranks by INNER PRODUCT, not cosine — " +
      "magnitude wins; self excluded; ties break on corpus id") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)),   // the query
      (2L, Seq(10.0f, 0.0f)),  // ip 10, cos 1
      (3L, Seq(0.9f, 0.1f)),   // ip 0.9, cos ≈ .994 — cosine would
                               // rank it right behind 2; MIPS won't
      (4L, Seq(2.0f, 9.0f)),   // ip 2.0
      (5L, Seq(2.0f, -9.0f)),  // ip 2.0 — ties with 4, id order
      (6L, Seq(-5.0f, 0.0f))   // ip −5
    ).toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 1L)
    val got = Similarity.mipsTopKPerQuery(emb, q, "vec_id",
        "embedding", k = 4)
      .orderBy(col("rank")).collect()
      .map(r => (r.getInt(2), r.getLong(1), r.getDouble(3)))
    assert(got.toSeq == Seq((1, 2L, 10.0), (2, 4L, 2.0), (3, 5L, 2.0),
      (4, 3L, 0.9)), s"got ${got.toSeq}")
  }

  test("mipsLshTopKPerQuery: candidates are a subset of the corpus " +
      "ranked by true inner product, and on the real testdata the " +
      "index recalls a positive share of the exact top-10") {
    import spark.implicits._
    // every returned (query, corpus, ip) must carry the TRUE inner
    // product (the augmentation must not leak into the score), and
    // ranks must be contiguous from 1 per query
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 3)
    val idx = Similarity.mipsLshTopKPerQuery(emb, q, "vec_id",
      "embedding", k = 10, bits = 36, bands = 6)
    val exact = Similarity.mipsTopKPerQuery(emb, q, "vec_id",
      "embedding", k = 10)
    val idxRows = idx.collect()
    assert(idxRows.nonEmpty, "index returned no candidates")
    // scores match the exact operator's for overlapping pairs
    val exactIp = exact.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    idxRows.foreach { r =>
      val k2 = (r.getLong(0), r.getLong(1))
      exactIp.get(k2).foreach(ip =>
        assert(math.abs(ip - r.getDouble(3)) == 0.0,
          s"ip mismatch at $k2: exact $ip vs index ${r.getDouble(3)}"))
    }
    // per-query ranks contiguous from 1
    idxRows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val ranks = rs.map(_.getInt(2)).sorted.toSeq
      assert(ranks == (1 to ranks.size), s"ranks for $qid: $ranks")
    }
    // recall is positive (gate-measured 0.30 at this geometry)
    val rec = Similarity.recallAtK(exact, idx, "mips_lsh").collect()(0)
    assert(rec.getAs[Long]("n_hits") > 0, s"zero recall: $rec")
  }

  test("mipsLshTopKPerQuery: the max-norm vector (augmented " +
      "coordinate 0) always collides with an aligned query and wins " +
      "rank 1 on magnitude") {
    import spark.implicits._
    // The norm-augmentation guarantee that IS testable pointwise: the
    // max-norm corpus vector keeps its own direction (aug = 0), so an
    // aligned query shares all its buckets, and raw-ip ranking puts it
    // first regardless of the near-parallel low-norm competitor
    // (cosine would rank 3 right behind 2; its augmented direction
    // diverges into the extra coordinate — that's the transform
    // working, not a recall bug).
    val emb = Seq(
      (1L, Seq(1.0f, 0.01f)),
      (2L, Seq(9.0f, 0.0f)),   // max norm: aug 0, ip 9.0
      (3L, Seq(0.99f, 0.0f)),  // ip 0.99, cosine ~1
      (4L, Seq(5.0f, 0.1f))    // ip 5.001
    ).toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 1L)
    val got = Similarity.mipsLshTopKPerQuery(emb, q, "vec_id",
        "embedding", k = 3)
      .orderBy(col("rank")).collect()
      .map(r => (r.getInt(2), r.getLong(1), r.getDouble(3)))
    assert(got.nonEmpty && got.head == ((1, 2L, 9.0)),
      s"got ${got.toSeq}")
    // whatever else collided must be in strict ip-descending order
    assert(got.map(_._3).toSeq == got.map(_._3).sortBy(-_).toSeq,
      s"ip order broken: ${got.toSeq}")
  }

  test("mipsLshTopKPerQuery multi-probe: Hamming-1 probing recalls at " +
      "least as much as exact-key banding and scores stay exact") {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 3)
    val exact = Similarity.mipsTopKPerQuery(emb, q, "vec_id",
      "embedding", k = 10)
    def hits(probes: Int): Long =
      Similarity.recallAtK(exact,
        Similarity.mipsLshTopKPerQuery(emb, q, "vec_id", "embedding",
          k = 10, bits = 36, bands = 6, probes = probes),
        "x").collect()(0).getAs[Long]("n_hits")
    val (h0, h1) = (hits(0), hits(1))
    assert(h1 >= h0, s"multi-probe lost recall: $h0 -> $h1")
    assert(h1 > 0, "multi-probe recalled nothing")
    // multi-probe scores are still the TRUE inner product
    val exactIp = exact.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    Similarity.mipsLshTopKPerQuery(emb, q, "vec_id", "embedding",
        k = 10, bits = 36, bands = 6, probes = 1)
      .collect().foreach { r =>
        exactIp.get((r.getLong(0), r.getLong(1))).foreach(ip =>
          assert(ip == r.getDouble(3),
            s"ip mismatch: $ip vs ${r.getDouble(3)}"))
      }
  }

  test("mipsIvfTopKPerQuery: inner-product ranking over probed cells " +
      "— magnitude wins pointwise, and recall on the real testdata " +
      "beats the SRP index on this clustered corpus") {
    import spark.implicits._
    // pointwise: max-norm vector keeps its direction (aug 0) and must
    // land in a probed cell of an aligned query, winning on raw ip
    val toy = Seq(
      (1L, Seq(1.0f, 0.01f)),
      (2L, Seq(9.0f, 0.0f)),
      (3L, Seq(0.99f, 0.0f)),
      (4L, Seq(5.0f, 0.1f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.mipsIvfTopKPerQuery(toy,
        toy.filter(col("vec_id") === 1L), "vec_id", "embedding",
        k = 3, nCells = 4, nProbe = 4)
      .orderBy(col("rank")).collect()
      .map(r => (r.getInt(2), r.getLong(1), r.getDouble(3)))
    assert(got.head == ((1, 2L, 9.0)), s"got ${got.toSeq}")
    // real testdata: ip scores exact, ranks contiguous, recall high
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 3)
    val exact = Similarity.mipsTopKPerQuery(emb, q, "vec_id",
      "embedding", k = 10)
    val idx = Similarity.mipsIvfTopKPerQuery(emb, q, "vec_id",
      "embedding", k = 10, nCells = 16, nProbe = 4)
    val rec = Similarity.recallAtK(exact, idx, "mips_ivf").collect()(0)
    assert(rec.getAs[Long]("n_hits") * 2 >
        rec.getAs[Long]("n_total"),
      s"IVF-MIPS should recall >half on this corpus: $rec")
    val exactIp = exact.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    idx.collect().groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val ranks = rs.map(_.getInt(2)).sorted.toSeq
      assert(ranks == (1 to ranks.size), s"ranks for $qid: $ranks")
      rs.foreach(r => exactIp.get((r.getLong(0), r.getLong(1)))
        .foreach(ip => assert(ip == r.getDouble(3),
          s"ip mismatch: $ip vs ${r.getDouble(3)}")))
    }
  }

  test("ivfCellsFor: the shared sqrt-n sizing rule") {
    // floor at tiny corpora (the gate regime), sqrt(n*nProbe) growth,
    // hard cap, monotone in n
    assert(Similarity.ivfCellsFor(0) == 16)
    assert(Similarity.ivfCellsFor(64, nProbe = 1) == 16)
    assert(Similarity.ivfCellsFor(10000, nProbe = 1) == 100)
    assert(Similarity.ivfCellsFor(10000, nProbe = 4) == 200)
    assert(Similarity.ivfCellsFor(Long.MaxValue / 8) == (1 << 20))
    val ns = Seq(1L, 100L, 10000L, 1000000L, 100000000L)
    val cells = ns.map(Similarity.ivfCellsFor(_))
    assert(cells == cells.sorted, s"non-monotone: $cells")
    // the probed corpus fraction nProbe/nCells vanishes with n
    val fr = ns.map(n => 4.0 / Similarity.ivfCellsFor(n))
    assert(fr == fr.sorted.reverse, s"fraction not shrinking: $fr")
    intercept[IllegalArgumentException] {
      Similarity.ivfCellsFor(-1)
    }
  }
}
