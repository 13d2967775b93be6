package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpecBase

class StatsSpec extends SparkSpecBase {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(sys.error("generator failed"))

  test("histogram quantiles are exact when bins have width 1") {
    import spark.implicits._
    // values 0..99 once each, bins [0,100) width 1: the q-quantile
    // interpolates to exactly q*100 (cumBefore = bin, c = 1)
    val df = spark.range(100).select(lit("g").as("g"),
      col("id").cast("double").as("v"))
    val r = Stats.histogramQuantiles(df, "v", Seq("g"),
      Seq("p50" -> 0.5, "p90" -> 0.9), lo = 0.0, hi = 100.0, nBins = 100)
      .collect()(0)
    assert(r.getAs[Long]("n") == 100L)
    assert(r.getAs[Double]("q_p50") == 50.0)
    assert(r.getAs[Double]("q_p90") == 90.0)
  }

  test("groupedTrend: exact-fit slope/intercept; zero-variance x is NULL") {
    import spark.implicits._
    val df = Seq(
      ("a", 0L, 1.0), ("a", 1L, 3.0), ("a", 2L, 5.0), // y = 2x + 1
      ("b", 4L, 9.0), ("b", 4L, 1.0) // all x equal: undefined slope
    ).toDF("g", "x", "y")
    val out = Stats.groupedTrend(df, Seq("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), Option(r.getAs[Any]("slope")),
          Option(r.getAs[Any]("intercept")),
          Option(r.getAs[Any]("r2")))).toMap
    assert(out("a") == ((3L, Some(2.0), Some(1.0), Some(1.0))))
    assert(out("b") == ((2L, None, None, None)))
  }

  test("trimmedMean cuts k rows from each tail by rank; " +
      "trim 0 is the plain mean") {
    import spark.implicits._
    // group g: values 0..9 plus outliers -1000 and 1000; 12 rows,
    // k = 12*100 div 1000 = 1 from each side -> outliers gone
    val rows = ((-1000.0 +: (0 until 10).map(_.toDouble) :+ 1000.0)
      .zipWithIndex.map { case (v, i) => ("g", i.toLong, v) })
    val out = Stats.trimmedMean(rows.toDF("g", "id", "v"), Seq("g"),
      col("v"), col("id"), trimPermille = 100).collect()(0)
    assert(out.getLong(1) == 10L)
    assert(out.getDouble(2) == 4.5) // mean of 0..9
    val plain = Stats.trimmedMean(rows.toDF("g", "id", "v"), Seq("g"),
      col("v"), col("id"), trimPermille = 0).collect()(0)
    assert(plain.getLong(1) == 12L)
  }

  test("winsorizedMean clamps k rows per tail to the rank fences; " +
      "winsor 0 is the plain mean") {
    import spark.implicits._
    // 12 rows: outliers -1000/1000 around 0..9; k = 12*50 div 1000
    // ... that's 0 — use permille 100 for k = 1: fences are the
    // values at ranks 2 and 11 (0.0 and 9.0), outliers vote there
    val rows = ((-1000.0 +: (0 until 10).map(_.toDouble) :+ 1000.0)
      .zipWithIndex.map { case (v, i) => ("g", i.toLong, v) })
    val out = Stats.winsorizedMean(rows.toDF("g", "id", "v"), Seq("g"),
      col("v"), col("id"), winsorPermille = 100).collect()(0)
    assert(out.getLong(1) == 12L) // n stays constant — nothing cut
    assert(out.getDouble(2) == 0.0 && out.getDouble(3) == 9.0)
    // sum = 0 + (0..9) + 9 = 54; mean = 54/12
    assert(out.getDouble(4) == 4.5)
    val plain = Stats.winsorizedMean(rows.toDF("g", "id", "v"), Seq("g"),
      col("v"), col("id"), winsorPermille = 0).collect()(0)
    assert(plain.getLong(1) == 12L)
    assert(plain.getDouble(4) ==
      math.rint((0 until 10).sum / 12.0 * 1e6) / 1e6)
  }

  test("madOutliers flags |v - median| > c*MAD and survives the " +
      "outlier dragging the mean; zscore would not") {
    import spark.implicits._
    // 9 values near 10 plus one at 1000: median 10, MAD 1 — the
    // outlier is > 3 MAD out. A 3-sigma fence on the same data
    // (sd ~ 297) would NOT flag 1000 as confidently.
    val vs = Seq(8.0, 9.0, 9.0, 10.0, 10.0, 10.0, 11.0, 11.0, 12.0,
      1000.0)
    val df = vs.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
      .toDF("g", "id", "v")
    val out = Stats.madOutliers(df, Seq("g"), col("v"), col("id"), c = 3)
      .collect()(0)
    assert(out.getLong(1) == 1L) // only the 1000
    assert(out.getDouble(2) == 1000.0 && out.getDouble(3) == 1000.0)
    assert(out.getDouble(4) == 10.0) // median
    assert(out.getDouble(5) == 1.0) // MAD
  }

  test("madOutliers: symmetric data with zero MAD flags every " +
      "off-median row; all-equal group flags none") {
    import spark.implicits._
    // g1: more than half the rows at 5 -> median 5, MAD 0; any v != 5
    // has |v-5| > 0 = 3*MAD. g2: all equal -> no outliers.
    val df = Seq(("g1", 1L, 5.0), ("g1", 2L, 5.0), ("g1", 3L, 5.0),
      ("g1", 4L, 7.0), ("g2", 5L, 2.0), ("g2", 6L, 2.0))
      .toDF("g", "id", "v")
    val got = Stats.madOutliers(df, Seq("g"), col("v"), col("id"), c = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("g1") == 1L)
    assert(!got.contains("g2"))
  }

  test("transitionMatrix: per-key consecutive pairs, ppm rows sum " +
      "near 1e6, first events excluded, keys never interleave") {
    import spark.implicits._
    // user 1: a->b->a->b (a->b 2x, b->a 1x; the ts collision at 20
    // resolves by the id tiebreak); user 2: b->c. From a: always b.
    // From b: a once, c once — 50/50.
    val df = Seq(
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (1L, 20L, 3L, "a"),
      (1L, 30L, 4L, "b"), (2L, 10L, 5L, "b"), (2L, 20L, 6L, "c")
    ).toDF("u", "o", "id", "s")
    val got = Stats.transitionMatrix(df, col("u"), col("o"), col("id"),
      col("s")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_trans"), r.getAs[Long]("p_ppm"))).toMap
    assert(got(("a", "b")) == ((2L, 1000000L)))
    assert(got(("b", "a")) == ((1L, 500000L)))
    assert(got(("b", "c")) == ((1L, 500000L)))
    assert(got.size == 3) // no cross-user transitions
  }

  test("madOutliers and winsorizedMean agree with independent " +
      "brute-force recomputation on pseudo-random groups") {
    import spark.implicits._
    // deterministic LCG: 400 rows over 4 groups, values are exact
    // binary quarters in [0, 128) — bit-identical through the
    // operator's DECIMAL(18,4) cast — plus a planted far outlier
    var seed = 12345L
    def next(): Long = { seed = (seed * 1103515245L + 12345L) & 0x7fffffffL; seed }
    val rows = (0 until 400).map { i =>
      (s"g${i % 4}", i.toLong, (next() % 512).toDouble / 4.0)
    } ++ (0 until 4).map(g => (s"g$g", 1000L + g, 5000.0))
    val df = rows.toDF("g", "id", "v")
    // brute force in plain Scala, mirroring the rank definitions
    def med2(sorted: Seq[BigDecimal]): BigDecimal = {
      val n = sorted.size
      sorted((n + 1) / 2 - 1) + sorted((n + 2) / 2 - 1)
    }
    val byG = rows.groupBy(_._1)
    val expectMad = byG.map { case (g, rs) =>
      val vs = rs.sortBy(r => (r._3, r._2)).map(r => BigDecimal(r._3))
      val m2 = med2(vs)
      val devs = rs.map(r => (BigDecimal(r._3) * 2 - m2).abs -> r._2)
        .sortBy(identity).map(_._1)
      val d2 = med2(devs)
      g -> rs.count(r => (BigDecimal(r._3) * 2 - m2).abs * 2 > d2 * 3)
    }
    val gotMad = Stats.madOutliers(df, Seq("g"), col("v"), col("id"), 3)
      .collect().map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    expectMad.foreach { case (g, n) =>
      assert(gotMad.getOrElse(g, 0) == n, s"MAD flags differ for $g")
    }
    assert(expectMad.values.sum >= 4, "planted outliers must be caught")
    val k = 101 * 100 / 1000 // 101 rows per group, 10% winsor
    val expectWin = byG.map { case (g, rs) =>
      val vs = rs.sortBy(r => (r._3, r._2)).map(_._3)
      val lo = vs(k); val hi = vs(vs.size - k - 1)
      val sum = vs.zipWithIndex.map { case (v, i) =>
        BigDecimal(if (i < k) lo else if (i >= vs.size - k) hi else v)
      }.sum
      g -> (sum / vs.size).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val gotWin = Stats.winsorizedMean(df, Seq("g"), col("v"), col("id"),
        winsorPermille = 100)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    expectWin.foreach { case (g, m) =>
      assert(math.abs(gotWin(g) - m) < 1e-6, s"winsorized mean for $g")
    }
  }

  test("modePerGroup: most frequent value, ties break ascending") {
    import spark.implicits._
    val df = Seq(("s1", "en"), ("s1", "en"), ("s1", "de"),
      ("s2", "fr"), ("s2", "de")).toDF("g", "v") // s2: tie fr/de -> de
    val got = Stats.modePerGroup(df, Seq("g"), col("v"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getLong(2))).toMap
    assert(got("s1") == (("en", 2L)))
    assert(got("s2") == (("de", 1L)))
  }

  test("profile: per-column nulls, exact distinct, string min/max; " +
      "all-NULL columns profile cleanly") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("b"), None: Option[Long]),
      (2L, Some("a"), None),
      (2L, None, None)).toDF("k", "s", "dead")
    val got = Stats.profile(df, Seq("k", "s", "dead"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.getString(4)), Option(r.getString(5)))).toMap
    assert(got("k") == ((3L, 0L, 2L, Some("1"), Some("2"))))
    assert(got("s") == ((3L, 1L, 2L, Some("a"), Some("b"))))
    assert(got("dead") == ((3L, 3L, 0L, None, None)))
  }

  test("profileApprox: exact stats match profile; estimate is exact " +
      "below k and ignores NULLs; all-NULL column estimates 0") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("b"), None: Option[Long]),
      (2L, Some("a"), None),
      (2L, None, None)).toDF("k", "s", "dead")
    val got = Stats.profileApprox(df, Seq("k", "s", "dead"), k = 64)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3),
          Option(r.getString(4)), Option(r.getString(5)))).toMap
    // below k the sketch holds every distinct hash: estimate == exact
    assert(got("k") == ((3L, 0L, 2.0, Some("1"), Some("2"))))
    assert(got("s") == ((3L, 1L, 2.0, Some("a"), Some("b"))))
    // NULLs feed neither the sketch nor a phantom-zero hash
    assert(got("dead") == ((3L, 3L, 0.0, None, None)))
  }

  test("profileApprox above k: estimate within KMV error of exact " +
      "(k=16 on 200 distinct values)") {
    import spark.implicits._
    val df = (1 to 200).map(i => s"v$i").toDF("s")
    val est = Stats.profileApprox(df, Seq("s"), k = 16)
      .collect()(0).getDouble(3)
    // KMV s.e. ≈ n/sqrt(k-2) ≈ 53; assert a loose 3-sigma band
    assert(est > 40 && est < 360, s"estimate $est implausible for 200")
  }

  test("edge inputs: empty-frame profile, single-point trend") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("k", "s")
    val prof = Stats.profile(empty, Seq("k", "s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(prof("k") == ((0L, 0L, 0L)) && prof("s") == ((0L, 0L, 0L)))
    // one observation: zero x-variance -> NULL slope/intercept/r2
    val one = Stats.groupedTrend(Seq(("g", 3L, 7.0)).toDF("g", "x", "y"),
      Seq("g"), col("x"), col("y")).collect()(0)
    assert(one.getLong(1) == 1L && one.isNullAt(2) && one.isNullAt(3) &&
      one.isNullAt(4))
  }

  test("mergeAggState: merged slices equal the full recompute, any split") {
    import spark.implicits._
    val df = spark.range(997).select(
      (col("id") % 5).cast("string").as("g"),
      (pmod(xxhash64(col("id")), lit(9999L)) / 100.0).as("v"))
    val full = Stats.groupedAggState(df, Seq("g"), Seq("v"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    for (m <- Seq(2L, 3L, 7L)) { // uneven splits, incl. empty-ish groups
      val a = Stats.groupedAggState(
        df.filter(pmod(xxhash64(col("v")), lit(m)) === 0), Seq("g"), Seq("v"))
      val b = Stats.groupedAggState(
        df.filter(pmod(xxhash64(col("v")), lit(m)) =!= 0), Seq("g"), Seq("v"))
      val merged = Stats.mergeAggState(a, b, Seq("g"), Seq("v"))
        .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
      assert(merged == full, s"split mod $m diverges from full recompute")
    }
  }

  test("estimates stay within one bin width of the exact quantile") {
    import spark.implicits._
    val df = spark.range(10000).select(
      (col("id") % 3).cast("string").as("g"),
      (pmod(xxhash64(col("id")), lit(100000L)) / 100.0).as("v"))
    val est = Stats.histogramQuantiles(df, "v", Seq("g"),
      Seq("p50" -> 0.5), lo = 0.0, hi = 1000.0, nBins = 50)
    val binWidth = 1000.0 / 50
    est.collect().foreach { r =>
      val g = r.getString(0)
      val exact = df.filter(col("g") === g)
        .stat.approxQuantile("v", Array(0.5), 0.0)(0) // exact at rel=0
      assert(math.abs(r.getAs[Double]("q_p50") - exact) <= binWidth,
        s"group $g: est ${r.getAs[Double]("q_p50")} vs exact $exact")
    }
  }

  test("psiByGroup: identical distribution scores 0, drifted scores big") {
    import spark.implicits._
    // b mirrors the reference a exactly; c concentrates in one bin
    val rows = Seq("a" -> 5.0, "a" -> 15.0, "b" -> 5.0, "b" -> 15.0,
      "c" -> 5.0, "c" -> 5.0).map { case (g, v) => (g, v) }
    val got = Stats.psiByGroup(rows.toDF("g", "v"), "v", "g",
        refGroup = "a", lo = 0.0, hi = 20.0, nBins = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(got("b") == (2L, 0.0), s"identical dist must be 0: $got")
    // c: p = (1, 1e-6) vs q = (0.5, 0.5) → PSI ≈ 0.5·ln2 + 0.5·ln(5e5)
    val expected = 0.5 * math.log(2.0) +
      (1e-6 - 0.5) * math.log(1e-6 / 0.5)
    assert(math.abs(got("c")._2 - expected) < 1e-4,
      s"got ${got("c")._2}, expected ~$expected")
  }

  test("corrMatrix: exact ±1 on linear columns, hand value on a mix") {
    import spark.implicits._
    // y = 2x (corr +1), z = -x (corr -1); all products exact at 4 dp
    val df = Seq((1.0, 2.0, -1.0), (2.0, 4.0, -2.0), (3.0, 6.0, -3.0),
      (4.0, 8.0, -4.0)).toDF("x", "y", "z")
    val got = Stats.corrMatrix(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got(("x", "y")) == ((4L, 1.0)))
    assert(got(("x", "z")) == ((4L, -1.0)))
    assert(got(("y", "z")) == ((4L, -1.0)))
    assert(got.size == 3) // upper triangle only
  }

  test("corrMatrix property: equals the exact scaled-integer model " +
      "on random frames (explicit seeds)") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(5, 40)
      xs <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
      ys <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
    } yield (xs, ys)
    def model(a: Seq[Double], b: Seq[Double]): Option[Double] = {
      // the engine's arithmetic replayed in plain Scala: half-away
      // 4-dp scaled longs, exact integer sums, double reassembly
      def sl(v: Double): Long =
        if (v >= 0) math.floor(v * 1e4 + 0.5).toLong
        else -math.floor(-v * 1e4 + 0.5).toLong
      def tot(t: Seq[Long]): Double =
        t.map(BigInt(_)).sum.toDouble / 1e4
      val n = a.size.toDouble
      val (sa, sb) = (tot(a.map(sl)), tot(b.map(sl)))
      val saa = tot(a.map(v => sl(v * v)))
      val sbb = tot(b.map(v => sl(v * v)))
      val sab = tot(a.zip(b).map { case (x, y) => sl(x * y) })
      val cov = n * sab - sa * sb
      val va = n * saa - sa * sa
      val vb = n * sbb - sb * sb
      if (va * vb > 0)
        Some(BigDecimal(cov / math.sqrt(va * vb))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else None
    }
    for (seed <- 1L to 5L) {
      val (xs, ys) = sample(gen, seed)
      val zs = xs.zip(ys).map { case (a, b) => a * 0.5 - b * 0.25 }
      val df = xs.indices.map(i => (xs(i), ys(i), zs(i)))
        .toDF("x", "y", "z")
      val got = Stats.corrMatrix(df, Seq("x", "y", "z")).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
      val cols = Map("x" -> xs, "y" -> ys, "z" -> zs)
      for (((a, b), v) <- got)
        assert(v == model(cols(a), cols(b)),
          s"seed=$seed pair=($a,$b): got $v, model ${model(cols(a), cols(b))}")
    }
  }

  test("equiDepthBins property: bins partition the frame and differ " +
      "by at most one row (explicit seeds)") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 60)
      vs <- Gen.listOfN(n, Gen.choose(0, 9)) // heavy ties on purpose
      b <- Gen.choose(1, 7)
    } yield (vs, b)
    for (seed <- 1L to 6L) {
      val (vs, nBins) = sample(gen, seed)
      val df = vs.zipWithIndex.map { case (v, i) =>
        (i.toLong, v.toDouble) }.toDF("id", "v")
      val got = Stats.equiDepthBins(df, "v", "id", nBins)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(got.values.sum == vs.size.toLong, s"seed=$seed: $got")
      assert(got.keySet.forall(b => b >= 0 && b < nBins))
      if (vs.size >= nBins) {
        assert(got.size == nBins, s"seed=$seed: missing bins $got")
        assert(got.values.max - got.values.min <= 1,
          s"seed=$seed: uneven bins $got")
      }
    }
  }

  test("entropyByGroup: uniform pair is ln 2 / gini .5; " +
      "single label is 0 / 0") {
    import spark.implicits._
    val df = Seq("u" -> "a", "u" -> "b", "s" -> "a", "s" -> "a")
      .toDF("g", "l")
    val got = Stats.entropyByGroup(df, "g", "l")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got("u") == ((2L, 2L, 0.693147, 0.5)))
    assert(got("s") == ((2L, 1L, 0.0, 0.0)))
  }

  test("mutualInformation: independent columns 0, identical columns " +
      "NMI 1") {
    import spark.implicits._
    val indep = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("p", "q")
    val r1 = Stats.mutualInformation(indep, "p", "q").collect()(0)
    assert(r1.getAs[Long]("n") == 4L)
    assert(r1.getAs[Long]("n_cells") == 4L)
    assert(r1.getAs[Double]("mi") == 0.0)
    assert(r1.getAs[Double]("nmi") == 0.0)
    val dep = Seq(("a", "x"), ("a", "x"), ("b", "y"), ("b", "y"))
      .toDF("p", "q")
    val r2 = Stats.mutualInformation(dep, "p", "q").collect()(0)
    assert(r2.getAs[Double]("h_a") == 0.693147)
    assert(r2.getAs[Double]("mi") == 0.693147)
    assert(r2.getAs[Double]("nmi") == 1.0)
  }

  test("equiDepthBins: bins differ by at most one row and respect " +
      "the (value, tie) order") {
    import spark.implicits._
    // 11 rows over 3 bins: populations 4/4/3 in value order
    val df = (0 until 11).map(i => (i.toLong, (10 - i).toDouble))
      .toDF("id", "v")
    val got = Stats.equiDepthBins(df, "v", "id", nBins = 3, nRanges = 4)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got(0) == ((4L, 0.0, 3.0)))
    assert(got(1) == ((4L, 4.0, 7.0)))
    assert(got(2) == ((3L, 8.0, 10.0)))
  }

  test("equiDepthBins: all-equal values split deterministically by tie") {
    import spark.implicits._
    val df = (0 until 6).map(i => (i.toLong, 7.0)).toDF("id", "v")
    val got = Stats.equiDepthBins(df, "v", "id", nBins = 2)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == Map(0 -> 3L, 1 -> 3L))
  }

  test("ksByGroup: identical distribution 0, disjoint support 1, " +
      "half-shifted 0.5") {
    import spark.implicits._
    val rows = Seq("a" -> 1.0, "a" -> 2.0, "b" -> 1.0, "b" -> 2.0,
      "c" -> 2.0, "c" -> 2.0, "d" -> 5.0, "d" -> 6.0)
    val got = Stats.ksByGroup(rows.toDF("g", "v"), "v", "g",
        refGroup = "a")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(got("b") == ((2L, 0.0)))
    // c has no mass at 1 where a has 0.5 -> sup gap 0.5
    assert(got("c") == ((2L, 0.5)))
    // d's support is entirely above a's -> gap 1 at x = 2
    assert(got("d") == ((2L, 1.0)))
  }

  test("chiSquare: uniform independent table is 0; diagonal 2x2 " +
      "includes the zero-cell contribution") {
    import spark.implicits._
    val indep = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("p", "q")
    val r1 = Stats.chiSquare(indep, "p", "q").collect()(0)
    assert(r1.getAs[Long]("n") == 4L)
    assert(r1.getAs[Long]("dof") == 1L)
    assert(r1.getAs[Double]("chi2") == 0.0)
    // diag: cells (a,x)=2, (b,y)=2; e=1 everywhere; zero cells add
    // e each: 1+1 observed terms + n - sum_obs_e = 2 + 4 - 2 = 4
    val dep = Seq(("a", "x"), ("a", "x"), ("b", "y"), ("b", "y"))
      .toDF("p", "q")
    val r2 = Stats.chiSquare(dep, "p", "q").collect()(0)
    assert(r2.getAs[Long]("n_cells") == 2L)
    assert(r2.getAs[Double]("chi2") == 4.0)
  }

  test("autocorrelation: alternating series gives exact ±ACF; " +
      "denominator over the full series") {
    import spark.implicits._
    // x = +1,−1,… (n = 8, mean 0): den = 8, lag-1 terms = 7 × (−1),
    // lag-2 terms = 6 × (+1) → acf₁ = −0.875, acf₂ = 0.75
    val df = (1 to 8).map(t => (t, if (t % 2 == 1) 1.0 else -1.0))
      .toDF("t", "x")
    val got = Stats.autocorrelation(df, "t", "x", maxLag = 2)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1) == ((7L, -0.875)))
    assert(got(2) == ((6L, 0.75)))
  }

  test("paddingWaste: one bucket pads everything to the global max; " +
      "n buckets of uniform lengths waste nothing") {
    import spark.implicits._
    // lengths 1..4: B=1 pads all to 4 (padded 16, total 10, waste
    // 6/16 = .375); B=4 gives singleton buckets (waste 0)
    val df = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L))
      .toDF("doc_id", "len")
    val got = Stats.paddingWaste(df, "len", "doc_id", Seq(1, 4))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1) == ((10L, 16L, 0.375)))
    assert(got(4) == ((10L, 10L, 0.0)))
  }

  test("histogramEquiWidth: observed-range bins, max lands in the " +
      "last bin") {
    import spark.implicits._
    val df = (0 until 10).map(_.toDouble).toDF("v")
    val got = Stats.histogramEquiWidth(df, "v", nBins = 5)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // width (9-0)/5 = 1.8: every bin holds exactly 2 values, 9 clamps
    assert(got.keySet == Set(0, 1, 2, 3, 4))
    assert(got.values.forall(_._1 == 2L))
    assert(got(0) == ((2L, 0.0, 1.8)))
    assert(got(4) == ((2L, 7.2, 9.0)))
  }

  test("mannWhitney agrees with a brute-force rank model under ties; " +
      "disjoint samples give the extreme U") {
    import spark.implicits._
    // brute model: average ranks over the pooled sorted multiset
    def brute(a: Seq[Double], b: Seq[Double]): (Double, Double) = {
      val pooled = (a.map((_, true)) ++ b.map((_, false)))
        .sortBy(_._1).zipWithIndex
      val byVal = pooled.groupBy(_._1._1)
      val ranks = byVal.view.mapValues { g =>
        g.map(_._2 + 1).sum.toDouble / g.size }.toMap
      val ra = pooled.filter(_._1._2).map(p => ranks(p._1._1)).sum
      val ua = ra - a.size * (a.size + 1) / 2.0
      val n = a.size + b.size
      val ties = byVal.values.map(_.size.toLong)
        .map(t => t * t * t - t).sum
      val sigma = math.sqrt(a.size.toDouble * b.size / 12.0 *
        ((n + 1.0) - ties.toDouble / (n.toDouble * (n - 1.0))))
      val z = (ua - a.size.toDouble * b.size / 2.0) / sigma
      (ua, z)
    }
    val a = Seq(1.0, 3.0, 3.0, 5.0, 8.0, 9.0, 9.0)
    val b = Seq(2.0, 3.0, 4.0, 4.0, 7.0, 9.0)
    val df = (a.map(("A", _)) ++ b.map(("B", _))).toDF("g", "v")
    val r = Stats.mannWhitney(df, "v", "g", "A", "B").collect()(0)
    val (ua, z) = brute(a, b)
    assert(r.getAs[Long]("n_a") == a.size && r.getAs[Long]("n_b") == b.size)
    assert(r.getAs[Double]("u_a") ==
      BigDecimal(ua).setScale(1, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(math.abs(r.getAs[Double]("z") - z) < 1e-6)
    // A entirely above B: U_A = nA*nB (every pair won), z > 0
    val hi = Seq(10.0, 11.0, 12.0).map(("A", _))
    val lo2 = Seq(1.0, 2.0, 3.0, 4.0).map(("B", _))
    val r2 = Stats.mannWhitney((hi ++ lo2).toDF("g", "v"), "v", "g",
      "A", "B").collect()(0)
    assert(r2.getAs[Double]("u_a") == 12.0)
    assert(r2.getAs[Double]("z") > 2.0)
  }

  test("wilcoxonSignedRank matches the hand-computed signed-rank " +
      "statistic with average ranks, tie correction and a dropped " +
      "zero difference") {
    import spark.implicits._
    // d = a − b = [2, −1, 3, 0, 2, −5]; nonzero |d| = [2,1,3,2,5]
    // ranks: 1→1, {2,2}→2.5 each, 3→4, 5→5; W+ = 2.5+4+2.5 = 9,
    // W− = 1+5 = 6, n = 5, one zero dropped; Σ(t³−t) = 6,
    // 48σ² = 2·5·6·11 − 6 = 654, z = (2·18 − 30)/√(654/3) = 6/√218
    val df = Seq((3.0, 1.0), (1.0, 2.0), (4.0, 1.0), (7.0, 7.0),
      (2.5, 0.5), (0.0, 5.0)).toDF("a", "b")
    val r = Stats.wilcoxonSignedRank(df, "a", "b").collect()(0)
    assert(r.getAs[Long]("n_pairs") == 5L, s"got $r")
    assert(r.getAs[Long]("n_zero") == 1L, s"got $r")
    assert(r.getAs[Double]("w_plus") == 9.0, s"got $r")
    assert(r.getAs[Double]("w_minus") == 6.0, s"got $r")
    val zExp = BigDecimal(6.0 / math.sqrt(218.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("z") == zExp, s"got $r expected $zExp")
    // symmetry sanity: swapping the sides flips W+/W− and negates z
    val s2 = Stats.wilcoxonSignedRank(df, "b", "a").collect()(0)
    assert(s2.getAs[Double]("w_plus") == 6.0 &&
      s2.getAs[Double]("w_minus") == 9.0, s"got $s2")
    assert(s2.getAs[Double]("z") == -r.getAs[Double]("z"), s"got $s2")
    // all-zero differences: no nonzero pair → z NULL, counts only
    val z0 = Stats.wilcoxonSignedRank(
      Seq((1.0, 1.0), (2.0, 2.0)).toDF("a", "b"), "a", "b").collect()(0)
    assert(z0.getAs[Long]("n_pairs") == 0L &&
      z0.getAs[Long]("n_zero") == 2L &&
      z0.isNullAt(z0.fieldIndex("z")), s"got $z0")
  }

  test("cramersV: a deterministic relabeling scores 1, an exactly " +
      "independent table scores 0") {
    import spark.implicits._
    // b is a pure function of a (and vice versa): perfect association
    val dep = Seq(("x", "u"), ("x", "u"), ("y", "w"), ("y", "w"),
      ("z", "t")).toDF("a", "b")
    val r1 = Stats.cramersV(dep, "a", "b").collect()(0)
    assert(r1.getAs[Double]("v") == 1.0)
    assert(r1.getAs[Long]("min_dim") == 2L)
    // uniform product table: observed == expected everywhere
    val ind = (for { a <- Seq("x", "y"); b <- Seq("u", "w"); _ <- 1 to 3 }
      yield (a, b)).toDF("a", "b")
    val r2 = Stats.cramersV(ind, "a", "b").collect()(0)
    assert(r2.getAs[Double]("chi2") == 0.0)
    assert(r2.getAs[Double]("v") == 0.0)
  }

  test("ewmaTrailing: constant series is the constant; second point " +
      "is the 2:1 half-decay blend; n_terms counts the ramp") {
    import spark.implicits._
    val c = Seq(("d1", 5.0), ("d2", 5.0), ("d3", 5.0)).toDF("d", "v")
    val rc = Stats.ewmaTrailing(c, "d", "v", k = 10)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Int]("n_terms"), r.getAs[Double]("ewma"))).toMap
    assert(rc("d1") == ((1, 5.0)) && rc("d3") == ((3, 5.0)))
    val s = Seq(("d1", 2.0), ("d2", 8.0)).toDF("d", "v")
    val rs = Stats.ewmaTrailing(s, "d", "v", k = 10)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("ewma")).toMap
    // d2: (8*1 + 2*0.5) / 1.5 = 6.0
    assert(rs("d1") == 2.0 && rs("d2") == 6.0)
  }

  test("cusumMaxShift finds the step boundary of a level shift and " +
      "its exact peak magnitude") {
    import spark.implicits._
    // 4 periods at 10 then 4 at 20: mean 15, S_i peaks at the last
    // low period (i=4): |S_4| = 4*(10-15) = 20
    val vals = Seq.fill(4)(10.0) ++ Seq.fill(4)(20.0)
    val df = vals.zipWithIndex
      .map { case (v, i) => (f"d$i%02d", v) }.toDF("d", "v")
    val r = Stats.cusumMaxShift(df, "d", "v").collect()(0)
    assert(r.getAs[String]("change_at") == "d03")
    assert(r.getAs[Long]("n") == 8L)
    assert(r.getAs[Double]("s_max") == 20.0)
  }

  test("benfordDigits: hand-built digit mix counts leading digits " +
      "from the integer part and filters values below 1") {
    import spark.implicits._
    // digits: 1 x4 (1.5, 12, 199, 1000000.2), 2 x1, 9 x1; 0.5 dropped
    val df = Seq(1.5, 12.0, 199.0, 1000000.2, 25.0, 9.99, 0.5).toDF("v")
    val got = Stats.benfordDigits(df, "v")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getAs[Double]("p_obs"))).toMap
    assert(got.keySet == Set(1, 2, 9))
    assert(got(1)._1 == 4L && got(2)._1 == 1L && got(9)._1 == 1L)
    assert(got(1)._2 == BigDecimal(4.0 / 6.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // expected-probability column carries the baked literal
    val p1 = Stats.benfordExpected.toMap.apply(1)
    val full = Stats.benfordDigits(df, "v").collect()
      .find(_.getInt(0) == 1).get
    assert(full.getAs[Double]("p_benford") == p1)
  }

  test("crossCorrelation of a series with itself: lag 0 is exactly 1, " +
      "±k are symmetric and equal the ACF") {
    import spark.implicits._
    val vals = Seq(3.0, 7.0, 2.0, 9.0, 4.0, 8.0, 1.0, 6.0)
    val df = vals.zipWithIndex
      .map { case (v, i) => (f"d$i%02d", v) }.toDF("d", "v")
    val both = df.withColumn("y", col("v"))
    val ccf = Stats.crossCorrelation(both, "d", "v", "y", maxLag = 3)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getAs[Double]("ccf"))).toMap
    assert(ccf(0) == ((8L, 1.0)))
    (1 to 3).foreach { k =>
      assert(ccf(k)._2 == ccf(-k)._2, s"asymmetric at $k")
      assert(ccf(k)._1 == (8 - k).toLong)
    }
    val acf = Stats.autocorrelation(df, "d", "v", maxLag = 3)
      .collect().map(r => r.getInt(0) -> r.getAs[Double]("acf")).toMap
    (1 to 3).foreach(k => assert(ccf(k)._2 == acf(k), s"ccf≠acf at $k"))
  }

  test("seasonalNaiveBacktest: hand-computed MAE/MAPE/RMSE at " +
      "season 2") {
    import spark.implicits._
    // forecasts: t3 ← 10 (e=2), t4 ← 20 (e=4)
    val df = Seq(("d1", 10.0), ("d2", 20.0), ("d3", 12.0), ("d4", 24.0))
      .toDF("d", "v")
    val r = Stats.seasonalNaiveBacktest(df, "d", "v", season = 2)
      .collect()(0)
    assert(r.getAs[Long]("n_forecasts") == 2L)
    assert(r.getAs[Double]("mae") == 3.0)
    assert(r.getAs[Double]("mape") == 0.166667)
    assert(r.getAs[Double]("rmse") ==
      BigDecimal(math.sqrt(10.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("holtLinear: hand-computed level/trend/forecast trajectory; " +
      "a perfect line is tracked exactly in the limit step") {
    import spark.implicits._
    val df = Seq(("d1", 10.0), ("d2", 20.0), ("d3", 30.0))
      .toDF("d", "v")
    val rows = Stats.holtLinear(df, "d", "v", alpha = 0.5, beta = 0.5)
      .collect().map(r => (r.getString(0), r.getDouble(2),
        r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    // t1: l=10, b=0, no forecast
    assert(rows(0) == (("d1", 10.0, 0.0, None)))
    // t2: fcst=10; l=.5·20+.5·10=15; b=.5·(15−10)+.5·0=2.5
    assert(rows(1) == (("d2", 15.0, 2.5, Some(10.0))))
    // t3: fcst=17.5; l=.5·30+.5·17.5=23.75; b=.5·8.75+.5·2.5=5.625
    assert(rows(2) == (("d3", 23.75, 5.625, Some(17.5))))
    // exact-decimal fixing: a value needing the HALF_UP 6-dp rule
    val half = Stats.holtLinear(
      Seq(("d1", 0.0), ("d2", 0.0000025)).toDF("d", "v"),
      "d", "v", alpha = 0.5, beta = 0.1).collect()
    // rev fixes at 4 dp first (0.0000025 → 0.0000), so the whole
    // trajectory stays at zero — the 4-dp input contract
    assert(half(1).getDouble(2) == 0.0)
    // empty series refuses loudly
    val err = intercept[IllegalArgumentException] {
      Stats.holtLinear(Seq.empty[(String, Double)].toDF("d", "v"),
        "d", "v", alpha = 0.3, beta = 0.1).collect()
    }
    assert(err.getMessage.contains("empty series"))
  }

  test("liftTable: hand-computed gains on a perfectly ranked fixture") {
    import spark.implicits._
    // scores 10..1, positives at scores 10 and 9 → top two deciles
    // capture everything; base rate 0.2 → lift 5 in each
    val df = (1 to 10).map(i => (11 - i, 11 - i >= 9, i.toLong))
      .toDF("score", "label", "id")
    val rows = Stats.liftTable(df, col("score"), col("label"),
        col("id"))
      .orderBy(col("decile"))
      .collect().map(r => (r.getInt(0), r.getLong(2),
        r.getAs[Long]("cum_capture_ppm"), r.getAs[Double]("lift")))
    assert(rows(0) == ((1, 1L, 500000L, 5.0)))
    assert(rows(1) == ((2, 1L, 1000000L, 5.0)))
    assert(rows(9) == ((10, 0L, 1000000L, 0.0)))
    // no positives anywhere → capture and lift abstain
    val nada = Stats.liftTable(
      (1 to 10).map(i => (i, false, i.toLong)).toDF("score", "label",
        "id"), col("score"), col("label"), col("id")).collect()(0)
    assert(nada.isNullAt(nada.fieldIndex("lift")) &&
      nada.isNullAt(nada.fieldIndex("cum_capture_ppm")))
  }

  test("krippendorffAlpha: perfect agreement is 1, a NULL rating " +
      "drops out, and a hand-computed mixed panel matches") {
    import spark.implicits._
    def ratings = Seq(col("r1"), col("r2"), col("r3"))
    // perfect agreement (all three true or all three false) → α = 1
    val perfect = Seq((true, true, true), (false, false, false))
      .toDF("r1", "r2", "r3")
    val p = Stats.krippendorffAlpha(perfect, ratings).collect()(0)
    assert(p.getAs[Double]("alpha") == 1.0 &&
      p.getAs[Double]("d_o") == 0.0, s"got $p")
    // unpairable unit: two NULLs leave one rating — dropped entirely
    val dropped = Seq(
      (Some(true), Some(true), Some(true)),
      (Some(true), None, None))
      .toDF("r1", "r2", "r3")
    val dr = Stats.krippendorffAlpha(dropped, ratings).collect()(0)
    assert(dr.getAs[Long]("n_units") == 2L &&
      dr.getAs[Long]("n_pairable") == 1L &&
      dr.getAs[Long]("n_ratings") == 3L, s"got $dr")
    // hand-computed mixed panel (ordered-pair factor 2, ADVICE r12):
    //   u1 (T,T,F): t=2 f=1 m=3 → 2tf/(m−1)=2
    //   u2 (T,F,NULL): t=1 f=1 m=2 → 2tf/(m−1)=2
    // n=5 (3+2), S=4 → D_o = 4/5 = .8
    // n_t=3, n_f=2 → D_e = 2·3·2/(5·4) = .6 → α = 1 − .8/.6 = −1/3
    val mixed = Seq(
      (Some(true), Some(true), Some(false)),
      (Some(true), Some(false), Option.empty[Boolean]))
      .toDF("r1", "r2", "r3")
    val mx = Stats.krippendorffAlpha(mixed, ratings).collect()(0)
    assert(mx.getAs[Long]("n_ratings") == 5L &&
      mx.getAs[Double]("d_o") == 0.8 &&
      mx.getAs[Double]("d_e") == 0.6, s"got $mx")
    assert(mx.getAs[Double]("alpha") ==
      BigDecimal(1.0 - 0.8 / 0.6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      s"got $mx")
    // the Scott's-π reduction: ONE two-rater (T,F) unit has
    // D_o = D_e = 1 → α = 0 exactly (the halved-D_o bug returned .5)
    val tf2 = Stats.krippendorffAlpha(
      Seq((true, false)).toDF("r1", "r2"),
      Seq(col("r1"), col("r2"))).collect()(0)
    assert(tf2.getAs[Double]("d_o") == 1.0 &&
      tf2.getAs[Double]("d_e") == 1.0 &&
      tf2.getAs[Double]("alpha") == 0.0, s"got $tf2")
    // single-category margin abstains (chance disagreement is 0)
    val oc = Stats.krippendorffAlpha(
      Seq((true, true, true)).toDF("r1", "r2", "r3"), ratings)
      .collect()(0)
    assert(oc.isNullAt(oc.fieldIndex("alpha")), s"got $oc")
  }

  test("krippendorffAlphaInterval: hand-computed squared-difference " +
      "panel; perfect agreement is 1; binary-as-interval reduces to " +
      "the nominal alpha; a NULL rating drops out") {
    import spark.implicits._
    def r2 = Seq(col("r1"), col("r2"))
    // u1 (0,2): ordered-pair disagreement 8; u2 (1,1): 0 →
    // D_o = 8/4 = 2; pooled {0,2,1,1} → D_e = 16/12 = 1.333333 →
    // α = 1 − 2000000/1333333 ≈ −0.5
    val mixed = Seq((0.0, 2.0), (1.0, 1.0)).toDF("r1", "r2")
    val mx = Stats.krippendorffAlphaInterval(mixed, r2).collect()(0)
    assert(mx.getAs[Long]("n_ratings") == 4L &&
      mx.getAs[Double]("d_o") == 2.0 &&
      mx.getAs[Double]("d_e") == 1.333333, s"got $mx")
    assert(mx.getAs[Double]("alpha") ==
      BigDecimal(1.0 - 2000000.0 / 1333333.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      s"got $mx")
    // perfect agreement on a non-degenerate pool
    val perfect = Seq((1.0, 1.0), (2.0, 2.0)).toDF("r1", "r2")
    val p = Stats.krippendorffAlphaInterval(perfect, r2).collect()(0)
    assert(p.getAs[Double]("d_o") == 0.0 &&
      p.getAs[Double]("alpha") == 1.0, s"got $p")
    // binary-as-interval: one (1,0) two-rater unit → α = 0, the
    // nominal reduction
    val tf = Stats.krippendorffAlphaInterval(
      Seq((1.0, 0.0)).toDF("r1", "r2"), r2).collect()(0)
    assert(tf.getAs[Double]("d_o") == 1.0 &&
      tf.getAs[Double]("d_e") == 1.0 &&
      tf.getAs[Double]("alpha") == 0.0, s"got $tf")
    // NULL tolerance: a 3-rater unit with one abstention is pairable
    val nul = Stats.krippendorffAlphaInterval(
      Seq((Some(1.0), Option.empty[Double], Some(2.0)),
        (Some(1.0), Some(1.0), Some(1.0))).toDF("r1", "r2", "r3"),
      Seq(col("r1"), col("r2"), col("r3"))).collect()(0)
    assert(nul.getAs[Long]("n_units") == 2L &&
      nul.getAs[Long]("n_pairable") == 2L &&
      nul.getAs[Long]("n_ratings") == 5L, s"got $nul")
  }

  test("kaplanMeier: hand-computed product-limit curve with " +
      "censoring; integer floors replay the textbook values") {
    import spark.implicits._
    def ts(day: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-${day}%02d 12:00:00")
    // corpus end = day 20; censorDays = 3 ⇒ last event on day 18+ is
    // censored. Spans: u1 d1→d3 (t=2, event), u2 d1→d3 (t=2, event),
    // u3 d1→d5 (t=4, event), u4 d1→d19 (t=18, censored),
    // u5 d2→d20 (t=18, censored)
    val df = Seq(
      (1L, ts(1)), (1L, ts(3)),
      (2L, ts(1)), (2L, ts(3)),
      (3L, ts(1)), (3L, ts(5)),
      (4L, ts(1)), (4L, ts(19)),
      (5L, ts(2)), (5L, ts(20))).toDF("u", "ts")
    val rows = Stats.kaplanMeier(df, col("u"), col("ts"),
      censorDays = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // t=2: n=5, d=2 → f=.6, S=.6; t=4: n=3, d=1 → f=.666666
    //   (floor), S=.399999 (floor of .6·.666666); t=18: n=2, d=0,
    //   c=2 → S unchanged
    assert(rows(0) == ((2L, 5L, 2L, 0L, 0.6)))
    assert(rows(1) == ((4L, 3L, 1L, 0L, 0.399999)))
    assert(rows(2) == ((18L, 2L, 0L, 2L, 0.399999)))
  }

  test("theilSenTrend: exact line recovered; one wild outlier leaves " +
      "the median slope untouched") {
    import spark.implicits._
    def mk(vals: Seq[Double]) = vals.zipWithIndex
      .map { case (v, i) => (f"d${i + 1}%02d", v) }.toDF("d", "v")
    // y = 2i + 5 on the 1-based index
    val clean = Stats.theilSenTrend(mk(Seq(7.0, 9.0, 11.0, 13.0)),
      "d", "v").collect()(0)
    assert(clean.getAs[Long]("n_periods") == 4L)
    assert(clean.getAs[Long]("n_pairs") == 6L)
    assert(clean.getAs[Double]("slope") == 2.0)
    assert(clean.getAs[Double]("intercept") == 5.0)
    // period 3 explodes to 100: pair slopes sort to
    // [-87, 2, 2, 2, 46.5, 91] — the median pair is still 2
    val robust = Stats.theilSenTrend(mk(Seq(7.0, 9.0, 100.0, 13.0)),
      "d", "v").collect()(0)
    assert(robust.getAs[Double]("slope") == 2.0)
    assert(robust.getAs[Double]("intercept") == 5.0)
  }

  test("theilSenTrend guards: < 2 periods and the period cap both " +
      "fail fast instead of NPE / pair blow-up (VERDICT r8 item 3)") {
    import spark.implicits._
    def mk(vals: Seq[Double]) = vals.zipWithIndex
      .map { case (v, i) => (f"d${i + 1}%02d", v) }.toDF("d", "v")
    val e1 = intercept[IllegalArgumentException] {
      Stats.theilSenTrend(mk(Seq(5.0)), "d", "v")
    }
    assert(e1.getMessage.contains(">= 2 periods"))
    intercept[IllegalArgumentException] {
      Stats.theilSenTrend(mk(Seq.empty[Double]), "d", "v")
    }
    val e2 = intercept[IllegalArgumentException] {
      Stats.theilSenTrend(mk(Seq(1.0, 2.0, 3.0, 4.0, 5.0)), "d", "v",
        maxPeriods = 4)
    }
    assert(e2.getMessage.contains("maxPeriods"))
    // at the cap boundary it still runs
    val ok = Stats.theilSenTrend(mk(Seq(1.0, 3.0, 5.0, 7.0)), "d", "v",
      maxPeriods = 4).collect()(0)
    assert(ok.getAs[Double]("slope") == 2.0)
    // NaN census: one NaN in a 9-point line y = 2i fails loudly
    val withNaN = (1 to 9).map(i => if (i == 5) Double.NaN else 2.0 * i)
    val e3 = intercept[IllegalArgumentException] {
      Stats.theilSenTrend(mk(withNaN), "d", "v")
    }
    assert(e3.getMessage.contains("8 NaN pairwise slopes"), e3.getMessage)
  }

  test("theilSenSampled: exact line recovered from any pair sample; " +
      "pair frame is O(P·k) not P²; guards match theilSenTrend's") {
    import spark.implicits._
    def mk(vals: Seq[Double]) = vals.zipWithIndex
      .map { case (v, i) => (f"d${i + 1}%03d", v) }.toDF("d", "v")
    // y = 3i + 1 exactly: every pair's slope is 3, so whatever the
    // hash draws, the median is exactly 3 and the intercept exactly 1
    val line = (1 to 40).map(i => 3.0 * i + 1.0)
    val r = Stats.theilSenSampled(mk(line), "d", "v", pairsPerPoint = 4)
      .collect()(0)
    assert(r.getAs[Long]("n_periods") == 40L)
    // ≤ 39 points × 4 draws (dedup can only shrink) — never P²/2
    assert(r.getAs[Long]("n_pairs") <= 156L &&
      r.getAs[Long]("n_pairs") >= 39L, s"pair budget: $r")
    assert(r.getAs[Double]("slope") == 3.0, s"slope: $r")
    assert(r.getAs[Double]("intercept") == 1.0, s"intercept: $r")
    // deterministic replay
    val r2 = Stats.theilSenSampled(mk(line), "d", "v", pairsPerPoint = 4)
      .collect()(0)
    assert(r == r2, "sampled pair set must replay exactly")
    intercept[IllegalArgumentException] {
      Stats.theilSenSampled(mk(Seq(1.0)), "d", "v")
    }
  }

  test("siegelTrend: exact line recovered; survives contamination " +
      "Theil–Sen's single median would feel harder") {
    import spark.implicits._
    def mk(vals: Seq[Double]) = vals.zipWithIndex
      .map { case (v, i) => (f"d${i + 1}%02d", v) }.toDF("d", "v")
    // y = 2i + 5 exactly
    val clean = Stats.siegelTrend(mk(Seq(7.0, 9.0, 11.0, 13.0)),
      "d", "v").collect()(0)
    assert(clean.getAs[Long]("n_periods") == 4L)
    assert(clean.getAs[Double]("slope") == 2.0)
    assert(clean.getAs[Double]("intercept") == 5.0)
    // one wild point: every clean point's INNER median still sees a
    // majority of clean pairwise slopes, so the outer median stays 2
    val robust = Stats.siegelTrend(mk(Seq(7.0, 9.0, 100.0, 13.0, 15.0)),
      "d", "v").collect()(0)
    assert(robust.getAs[Double]("slope") == 2.0)
    // guards mirror theilSenTrend's
    intercept[IllegalArgumentException] {
      Stats.siegelTrend(mk(Seq(1.0)), "d", "v")
    }
    intercept[IllegalArgumentException] {
      Stats.siegelTrend(mk(Seq(1.0, 2.0, 3.0)), "d", "v", maxPeriods = 2)
    }
    // NaN census: one NaN in a 9-point line y = 2i fails loudly (it
    // would rank as +∞ and leave the slope at 2.0 without a word)
    val withNaN = (1 to 9).map(i => if (i == 5) Double.NaN else 2.0 * i)
    val e = intercept[IllegalArgumentException] {
      Stats.siegelTrend(mk(withNaN), "d", "v").collect()
    }
    assert(e.getMessage.contains("siegelTrend: 1 NaN values"), e.getMessage)
  }

  test("siegelTrendSampled: exact line recovered from any partner " +
      "sample; pair frame is O(P·k); robust to one wild point; " +
      "deterministic replay") {
    import spark.implicits._
    def mk(vals: Seq[Double]) = vals.zipWithIndex
      .map { case (v, i) => (f"d${i + 1}%03d", v) }.toDF("d", "v")
    // y = 3i + 1 exactly: every sampled slope is 3 regardless of draw
    val line = (1 to 40).map(i => 3.0 * i + 1.0)
    val r = Stats.siegelTrendSampled(mk(line), "d", "v",
      partnersPerPoint = 4).collect()(0)
    assert(r.getAs[Long]("n_periods") == 40L)
    // 40 points × ≤4 draws (dedup can only shrink) — never P(P−1)
    assert(r.getAs[Long]("n_pairs") <= 160L &&
      r.getAs[Long]("n_pairs") >= 40L, s"pair budget: $r")
    assert(r.getAs[Double]("slope") == 3.0, s"slope: $r")
    assert(r.getAs[Double]("intercept") == 1.0, s"intercept: $r")
    // one wild point among 20: each clean point's sampled inner
    // median still sees mostly clean slopes — repeated-median
    // robustness survives sampling
    val contam = (1 to 20).map(i =>
      if (i == 7) 500.0 else 2.0 * i + 5.0)
    val rob = Stats.siegelTrendSampled(mk(contam), "d", "v",
      partnersPerPoint = 8).collect()(0)
    assert(rob.getAs[Double]("slope") == 2.0, s"robust slope: $rob")
    // deterministic replay + the 2-period floor guard
    val r2 = Stats.siegelTrendSampled(mk(line), "d", "v",
      partnersPerPoint = 4).collect()(0)
    assert(r == r2, "sampled partner set must replay exactly")
    intercept[IllegalArgumentException] {
      Stats.siegelTrendSampled(mk(Seq(1.0)), "d", "v")
    }
    // the NaN census of siegelTrend: one NaN in a 9-point line y = 2i
    val withNaN = (1 to 9).map(i => if (i == 5) Double.NaN else 2.0 * i)
    val e = intercept[IllegalArgumentException] {
      Stats.siegelTrendSampled(mk(withNaN), "d", "v").collect()
    }
    assert(e.getMessage.contains("siegelTrendSampled: 1 NaN values"),
      e.getMessage)
  }

  test("siegelTrend property: equals the plain-Scala repeated-median " +
      "model on random series (explicit seeds)") {
    import spark.implicits._
    val gen = for {
      p <- Gen.choose(3, 12)
      ys <- Gen.listOfN(p, Gen.choose(-50.0, 50.0))
    } yield ys
    def med(v: Seq[Double]): Double = {
      val s = v.sorted
      val n = s.size
      (s((n + 1) / 2 - 1) + s((n + 2) / 2 - 1)) / 2.0
    }
    def model(ys: Seq[Double]): (Double, Double) = {
      val p = ys.size
      // inner medians tie-break on j; equal slopes are interchangeable
      // under the two-middle average, so a plain sort suffices here
      val inner = (1 to p).map { i =>
        med((1 to p).filter(_ != i).map(j =>
          (ys(j - 1) - ys(i - 1)) / (j - i).toDouble))
      }
      // outer median ties break on i: sort by (m, i) = stable sort
      val slope = BigDecimal(med(inner.sorted))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val intercept = BigDecimal(
        med((1 to p).map(i => ys(i - 1) - slope * i)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (slope, intercept)
    }
    for (seed <- 1L to 5L) {
      val ys = sample(gen, seed)
      val df = ys.zipWithIndex
        .map { case (v, i) => (f"d${i + 1}%02d", v) }.toDF("d", "v")
      val r = Stats.siegelTrend(df, "d", "v").collect()(0)
      val (ms, mi) = model(ys)
      assert((r.getAs[Double]("slope"), r.getAs[Double]("intercept")) ==
        ((ms, mi)), s"seed=$seed ys=$ys")
    }
  }

  test("corrMatrix: rows with a NULL in any input column are dropped " +
      "entirely — n and the moments agree (ADVICE r8)") {
    import spark.implicits._
    // 4 complete rows on an exact line y = 2x, plus one row with a
    // NULL y: before the fix n counted 5 while the moments saw 4,
    // dragging corr off 1.0; complete-case analysis keeps it exact.
    val df = Seq[(Double, Option[Double])](
      (1.0, Some(2.0)), (2.0, Some(4.0)), (3.0, Some(6.0)),
      (4.0, Some(8.0)), (5.0, None)).toDF("x", "y")
    val r = Stats.corrMatrix(df, Seq("x", "y")).collect()(0)
    assert(r.getAs[Long]("n") == 4L, s"n must count complete cases: $r")
    assert(r.getAs[Double]("corr") == 1.0, s"exact line: $r")
  }

  test("welchT property: equals the plain-Scala Welch model on random " +
      "two-group samples (explicit seeds)") {
    import spark.implicits._
    val gen = for {
      na <- Gen.choose(2, 20)
      nb <- Gen.choose(2, 20)
      as <- Gen.listOfN(na, Gen.choose(-100.0, 100.0))
      bs <- Gen.listOfN(nb, Gen.choose(-100.0, 100.0))
    } yield (as, bs)
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def q4(x: Double): Double = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (seed <- 1L to 5L) {
      val (as, bs) = sample(gen, seed)
      // the operator fixes values as DECIMAL(18,4): quantize the
      // model's inputs the same way so the sums agree exactly
      val aq = as.map(q4); val bq = bs.map(q4)
      val df = (aq.map(("a", _)) ++ bq.map(("b", _))).toDF("g", "v")
      val r = Stats.welchT(df, "v", "g", "a", "b").collect()(0)
      def meanOf(v: Seq[Double]) = v.sum / v.size
      def varOf(v: Seq[Double]) = {
        val m = meanOf(v)
        v.map(x => (x - m) * (x - m)).sum / (v.size - 1)
      }
      val (ma, mb) = (meanOf(aq), meanOf(bq))
      val (va, vb) = (varOf(aq), varOf(bq))
      val se2 = va / aq.size + vb / bq.size
      val t = (ma - mb) / math.sqrt(se2)
      val dof = se2 * se2 /
        (va / aq.size * (va / aq.size) / (aq.size - 1) +
          vb / bq.size * (vb / bq.size) / (bq.size - 1))
      assert(r.getAs[Long]("n_a") == aq.size.toLong)
      assert(r.getAs[Long]("n_b") == bq.size.toLong)
      // the model's variance uses the numerically-stabler two-pass
      // form, so compare at 4 dp rather than demanding bit equality
      assert(math.abs(r.getAs[Double]("mean_a") - r6(ma)) < 5e-5,
        s"seed=$seed mean_a")
      assert(math.abs(r.getAs[Double]("t") - t) < 1e-4, s"seed=$seed t")
      assert(math.abs(r.getAs[Double]("dof") - dof) < 1e-3,
        s"seed=$seed dof")
    }
    // degenerate guards: one-row group → NULL t/dof/cohen_d
    val tiny = Seq(("a", 1.0), ("b", 2.0), ("b", 3.0)).toDF("g", "v")
    val d = Stats.welchT(tiny, "v", "g", "a", "b").collect()(0)
    assert(d.isNullAt(d.fieldIndex("t")) && d.isNullAt(d.fieldIndex("dof")))
  }

  test("anovaF: two exact groups give the textbook F; zero within-" +
      "variance is NULL-gated") {
    import spark.implicits._
    // groups {1,2,3} and {4,5,6}: grand mean 3.5, group means 2 and 5
    // → SSB = 3·1.5² + 3·1.5² = 13.5, SSW = 2 + 2 = 4,
    // F = (13.5/1)/(4/4) = 13.5
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 4.0), ("b", 5.0), ("b", 6.0)).toDF("g", "v")
    val r = Stats.anovaF(df, "v", "g").collect()(0)
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n") == 6L)
    assert(r.getAs[Double]("ss_between") == 13.5)
    assert(r.getAs[Double]("ss_within") == 4.0)
    assert(r.getAs[Double]("f") == 13.5)
    assert(r.getAs[Double]("eta_sq") ==
      BigDecimal(13.5 / 17.5).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    // constant-within groups: SSW = 0 → F undefined, NULL not Inf
    val const = Seq(("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0))
      .toDF("g", "v")
    val c = Stats.anovaF(const, "v", "g").collect()(0)
    assert(c.isNullAt(c.fieldIndex("f")))
  }

  test("ols2: an exact plane is recovered with r2 = 1; collinear " +
      "features NULL-gate instead of dividing by a zero determinant") {
    import spark.implicits._
    // y = 2 + 3·x1 − 1·x2 exactly, x1/x2 not collinear
    val pts = Seq((1.0, 1.0), (2.0, 1.0), (3.0, 2.0), (4.0, 5.0),
      (5.0, 3.0), (6.0, 8.0))
    val df = pts.map { case (a, b) => (2.0 + 3.0 * a - b, a, b) }
      .toDF("y", "x1", "x2")
    val r = Stats.ols2(df, col("y"), col("x1"), col("x2")).collect()(0)
    assert(r.getAs[Long]("n") == 6L)
    assert(r.getAs[Double]("b0") == 2.0, s"b0: $r")
    assert(r.getAs[Double]("b1") == 3.0, s"b1: $r")
    assert(r.getAs[Double]("b2") == -1.0, s"b2: $r")
    assert(r.getAs[Double]("r2") == 1.0, s"r2: $r")
    // x2 = 2·x1: the Gram matrix is singular — betas must be NULL,
    // not garbage from a zero-determinant division
    val coll = pts.map { case (a, _) => (1.0 + a, a, 2.0 * a) }
      .toDF("y", "x1", "x2")
    val c = Stats.ols2(coll, col("y"), col("x1"), col("x2")).collect()(0)
    assert(c.isNullAt(c.fieldIndex("b0")) &&
      c.isNullAt(c.fieldIndex("b1")) && c.isNullAt(c.fieldIndex("r2")),
      s"singular system must NULL-gate: $c")
  }

  test("giniCoefficient: equal values score 0, total concentration " +
      "scores (n−1)/n, and the textbook 1..n case matches") {
    import spark.implicits._
    def gini(vals: Seq[Double]): Double = {
      val df = vals.zipWithIndex.map { case (v, i) => (v, i.toLong) }
        .toDF("v", "id")
      Stats.giniCoefficient(df, col("v"), col("id"))
        .collect()(0).getAs[Double]("gini")
    }
    assert(gini(Seq.fill(10)(7.0)) == 0.0, "equal values")
    // one unit holds everything: G = (n−1)/n = 0.9 at n = 10
    assert(gini(Seq.fill(9)(0.0) :+ 100.0) == 0.9, "total concentration")
    // values 1..n: G = (n−1)/(3n)·... textbook: (n²−1)/(3n²)·...
    // direct: for 1..10, G = 2·Σi·i/(n·Σi) − (n+1)/n = 0.3
    assert(gini((1 to 10).map(_.toDouble)) == 0.3, "1..n case")
  }

  test("lorenzDeciles: 1..100 units — decile shares are the exact " +
      "ppm of arithmetic-series slices, cumulative ends at 10^6") {
    import spark.implicits._
    // values 1..100, total 5050; decile d holds values (10d−9)..10d
    // with sum 100d − 45 → share_ppm = (100d−45)·10⁶ div 5050
    val df = (1L to 100L).map(i => (i.toDouble, i)).toDF("v", "id")
    val rows = Stats.lorenzDeciles(df, col("v"), col("id"))
      .collect().map(r => r.getAs[Int]("decile") ->
        ((r.getAs[Long]("n_units"), r.getAs[Long]("share_ppm"),
          r.getAs[Long]("cum_share_ppm")))).toMap
    assert(rows.size == 10)
    var cum = 0L
    for (d <- 1 to 10) {
      val s = 100L * d - 45
      cum += s
      val (nu, sp, cp) = rows(d)
      assert(nu == 10L)
      assert(sp == s * 1000000L / 5050, s"decile $d share: $rows")
      assert(cp == cum * 1000000L / 5050, s"decile $d cum: $rows")
    }
    assert(rows(10)._3 == 1000000L, "cumulative must end at 10^6")
  }

  test("markovSteadyState: A→B always, B splits evenly — π converges " +
      "to (1/3, 2/3); an absorbing-free chain conserves mass") {
    import spark.implicits._
    // P = [[0, 1], [0.5, 0.5]] has stationary π = (1/3, 2/3)
    val tr = Seq(("A", "B", 1000000L), ("B", "A", 500000L),
      ("B", "B", 500000L)).toDF("from_state", "to_state", "p_ppm")
    val pi = Stats.markovSteadyState(tr).collect()
      .map(r => r.getAs[String]("state") -> r.getAs[Double]("pi")).toMap
    assert(math.abs(pi("A") - 1.0 / 3) < 2e-6, s"pi: $pi")
    assert(math.abs(pi("B") - 2.0 / 3) < 2e-6, s"pi: $pi")
    assert(math.abs(pi("A") + pi("B") - 1.0) < 1e-5,
      s"mass must be conserved: $pi")
  }

  test("propZTest: hand-computed pooled z on a 2×2; degenerate " +
      "all-success pool NULL-gates") {
    import spark.implicits._
    // A: 8/10 success, B: 2/10: pooled p = 0.5,
    // se = sqrt(0.25·0.2) = sqrt(0.05), z = 0.6/sqrt(0.05)
    val df = ((1 to 10).map(i => ("A", i <= 8)) ++
      (1 to 10).map(i => ("B", i <= 2))).toDF("g", "ok")
    val r = Stats.propZTest(df, "g", col("ok"), "A", "B").collect()(0)
    assert(r.getAs[Long]("n_a") == 10L && r.getAs[Long]("x_a") == 8L)
    assert(r.getAs[Double]("p_a") == 0.8 && r.getAs[Double]("p_b") == 0.2)
    assert(r.getAs[Double]("diff") == 0.6)
    val z = BigDecimal(0.6 / math.sqrt(0.5 * 0.5 * (0.1 + 0.1)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("z") == z, s"z: $r")
    // everyone converts → pooled p = 1 → undefined z, NULL not Inf
    val allOk = Seq(("A", true), ("B", true)).toDF("g", "ok")
    val d = Stats.propZTest(allOk, "g", col("ok"), "A", "B").collect()(0)
    assert(d.isNullAt(d.fieldIndex("z")))
  }

  test("quantilesByGroup: exact order statistics on 1..100 — p10 is " +
      "the 10th value, ranks clamp at 1") {
    import spark.implicits._
    val df = (1L to 100L).map(i => ("g", i.toDouble, i)).toDF("g", "v", "id")
    val r = Stats.quantilesByGroup(df, Seq("g"), col("v"), col("id"))
      .collect()(0)
    assert(r.getAs[Long]("n") == 100L)
    assert(r.getAs[Double]("p_100") == 10.0)
    assert(r.getAs[Double]("p_500") == 50.0)
    assert(r.getAs[Double]("p_900") == 90.0)
    // single-row group: every percentile clamps to rank 1
    val one = Seq(("h", 42.0, 1L)).toDF("g", "v", "id")
    val o = Stats.quantilesByGroup(one, Seq("g"), col("v"), col("id"))
      .collect()(0)
    assert(o.getAs[Double]("p_100") == 42.0 &&
      o.getAs[Double]("p_900") == 42.0)
  }

  test("jackknifeRatio: a constant per-row ratio has zero SE; " +
      "heterogeneous buckets widen it; runs replay exactly") {
    import spark.implicits._
    // num = 2·den everywhere → every leave-one-out ratio is exactly
    // 2 → SE = 0 and the CI collapses to the point
    val const = (1L to 500L).map(i => (i, 2.0 * (i % 7 + 1), (i % 7 + 1).toDouble))
      .toDF("unit", "num", "den")
    val c = Stats.jackknifeRatio(const, col("unit"), col("num"),
      col("den")).collect()(0)
    assert(c.getAs[Long]("n_buckets") == 100L)
    assert(c.getAs[Double]("ratio") == 2.0)
    assert(c.getAs[Double]("se") == 0.0, s"constant ratio: $c")
    assert(c.getAs[Double]("ci_lo") == 2.0 &&
      c.getAs[Double]("ci_hi") == 2.0)
    // heterogeneous: unit-dependent ratios → positive SE bracketing
    // the point estimate; bitwise replay
    val het = (1L to 500L).map(i =>
      (i, ((i * 37) % 11 + 1).toDouble, 1.0)).toDF("unit", "num", "den")
    val h1 = Stats.jackknifeRatio(het, col("unit"), col("num"),
      col("den")).collect()(0)
    val h2 = Stats.jackknifeRatio(het, col("unit"), col("num"),
      col("den")).collect()(0)
    assert(h1 == h2, "jackknife must replay exactly")
    assert(h1.getAs[Double]("se") > 0.0)
    assert(h1.getAs[Double]("ci_lo") < h1.getAs[Double]("ratio") &&
      h1.getAs[Double]("ratio") < h1.getAs[Double]("ci_hi"))
  }

  test("splitConformal: a perfect model gives q = 0 and coverage 1; " +
      "a noisy one still covers ≈ 1 − α; runs replay exactly") {
    import spark.implicits._
    // exact plane: every residual is 0 → q_alpha = 0, coverage = 1.0
    val exact = (1L to 400L)
      .map(i => (i, 2.0 + 3.0 * i - (i % 7), i.toDouble, (i % 7).toDouble))
      .toDF("id", "y", "x1", "x2")
    val e = Stats.splitConformal(exact, col("id"), col("y"), col("x1"),
      col("x2")).collect()(0)
    assert(e.getAs[Double]("q_alpha") == 0.0, s"exact fit: $e")
    assert(e.getAs[Double]("coverage") == 1.0, s"exact fit: $e")
    assert(e.getAs[Long]("n_calib") + e.getAs[Long]("n_test") == 400L)
    // deterministic "noise" from a hash-like residue: coverage must
    // land near 1 − α = 0.9 and the whole row must replay bitwise
    val noisy = (1L to 2000L).map { i =>
      (i, 10.0 * i + ((i * 2654435761L) % 97).toDouble,
        i.toDouble, (i % 5).toDouble)
    }.toDF("id", "y", "x1", "x2")
    val r1 = Stats.splitConformal(noisy, col("id"), col("y"),
      col("x1"), col("x2")).collect()(0)
    val r2 = Stats.splitConformal(noisy, col("id"), col("y"),
      col("x1"), col("x2")).collect()(0)
    assert(r1 == r2, "conformal must replay exactly")
    val cov = r1.getAs[Double]("coverage")
    assert(cov >= 0.85 && cov <= 1.0, s"coverage ≈ 0.9 expected: $r1")
  }

  test("kthValue: histogram-refined selection equals the sorted " +
      "oracle for every k, under duplicates, and on both exit paths") {
    import spark.implicits._
    // heavy duplication + a wide outlier so several refinement rounds
    // fire before the driver-side finish; maxLocal = 16 forces the
    // distributed path on a small fixture
    val vals = Seq.tabulate(500)(i => (i % 13).toDouble * 3.5 - 7.0) ++
      Seq(1e12, -1e12, 0.0, 0.0, 0.0)
    val df = vals.zipWithIndex.map { case (v, i) => (v, i.toLong) }
      .toDF("v", "id")
    val sorted = vals.sorted
    for (k <- Seq(1, 2, 7, 252, 253, 254, 500, vals.size)) {
      assert(Stats.kthValue(df, "v", k.toLong, nRanges = 8,
        maxLocal = 16) == sorted(k - 1), s"k=$k")
    }
    // all-equal input short-circuits on lo == hi
    val const = Seq.fill(100)(42.0).zipWithIndex
      .map { case (v, i) => (v, i.toLong) }.toDF("v", "id")
    assert(Stats.kthValue(const, "v", 50L, nRanges = 8,
      maxLocal = 16) == 42.0)
    // k beyond the row count refuses loudly
    intercept[IllegalArgumentException] {
      Stats.kthValue(df, "v", vals.size + 1L)
    }
  }

  test("iqrOutliers: hand-built group — quartile ranks, exact " +
      "fences, and only the planted spike flagged") {
    import spark.implicits._
    // 11 ordered values 10..20 plus one spike 1000: n = 12,
    // q1 at rank ⌈12/4⌉ = 3 → 12, q3 at rank ⌈36/4⌉ = 9 → 18,
    // IQR = 6, fences [3, 27] — exactly one outlier (the spike)
    val vals = ((10 to 20).map(_.toDouble) :+ 1000.0).zipWithIndex
      .map { case (v, i) => ("g", v, i.toLong) }
    val r = Stats.iqrOutliers(vals.toDF("g", "v", "id"), Seq("g"),
      col("v"), col("id")).collect()(0)
    assert(r.getAs[Long]("n") == 12L)
    assert(r.getAs[Double]("q1") == 12.0 && r.getAs[Double]("q3") == 18.0,
      s"quartiles: $r")
    assert(r.getAs[Double]("iqr") == 6.0)
    assert(r.getAs[Double]("lo_fence") == 3.0 &&
      r.getAs[Double]("hi_fence") == 27.0, s"fences: $r")
    assert(r.getAs[Long]("n_outliers") == 1L, s"only the spike: $r")
  }

  test("seasonalDecompose: a linear trend plus an exact weekly " +
      "pattern decomposes to zero residuals; edges NULL out") {
    import spark.implicits._
    // offsets sum to 0, so the centered 7-term MA removes the weekly
    // part exactly: trend = 10·i, seasonal = the day's offset,
    // residual = 0 at every interior day
    val off = Seq(7.0, -7.0, 14.0, -14.0, 21.0, -21.0, 0.0)
    val start = java.time.LocalDate.parse("2024-01-01")
    val df = (1 to 28).map { i =>
      (start.plusDays(i - 1).toString, 10.0 * i + off((i - 1) % 7))
    }.toDF("d", "rev")
    val rows = Stats.seasonalDecompose(df, "d", "rev")
      .collect().map(r => r.getAs[String]("d") -> r).toMap
    assert(rows.size == 28)
    // first/last 3 days: incomplete MA window → NULL components
    for (d <- Seq("2024-01-01", "2024-01-03", "2024-01-26", "2024-01-28")) {
      assert(rows(d).isNullAt(rows(d).fieldIndex("trend")), s"edge $d")
      assert(rows(d).isNullAt(rows(d).fieldIndex("resid")), s"edge $d")
    }
    for (i <- 4 to 25) {
      val d = start.plusDays(i - 1).toString
      val r = rows(d)
      assert(r.getAs[Double]("trend") == 10.0 * i, s"trend $d: $r")
      assert(r.getAs[Double]("seasonal") == off((i - 1) % 7),
        s"seasonal $d: $r")
      assert(r.getAs[Double]("resid") == 0.0, s"resid $d: $r")
    }
  }

  test("medianCI: hand-checked order-statistic ranks on 1..100; CI " +
      "brackets the median and widens with spread") {
    import spark.implicits._
    // n = 100: z√n = 19.6 → rank_lo = max(1, ⌊(100 − 19.6)/2⌋) = 40,
    // rank_hi = min(100, ⌈(100 + 19.6)/2 + 1⌉) = 61; values 1..100
    // make the order statistics their own ranks
    val df = (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "v")
    val r = Stats.medianCI(df, col("v"), col("id")).collect()(0)
    assert(r.getAs[Long]("n") == 100L)
    assert(r.getAs[Double]("median") == 50.5)
    assert(r.getAs[Long]("rank_lo") == 40L &&
      r.getAs[Long]("rank_hi") == 61L, s"ranks: $r")
    assert(r.getAs[Double]("ci_lo") == 40.0 &&
      r.getAs[Double]("ci_hi") == 61.0, s"interval: $r")
  }

  test("poissonBootstrap: constant column collapses the CI to the " +
      "point; interval is ordered, deterministic, and guarded") {
    import spark.implicits._
    // constant values: every replicate mean is exactly the constant,
    // so lo = hi = mean with no tolerance needed
    val const = (1L to 500L).map((_, 5.0)).toDF("id", "v")
    val c = Stats.poissonBootstrap(const, col("id"), col("v")).collect()(0)
    assert(c.getAs[Long]("n") == 500L)
    assert(c.getAs[Long]("b_used") == 200L)
    assert(c.getAs[Double]("mean") == 5.0)
    assert(c.getAs[Double]("ci_lo") == 5.0 &&
      c.getAs[Double]("ci_hi") == 5.0)
    // varied values: a proper interval around the mean, ordered, and
    // bit-identical across runs (hash-drawn multiplicities)
    val varied = (1L to 500L).map(i => (i, (i % 97).toDouble))
      .toDF("id", "v")
    val r1 = Stats.poissonBootstrap(varied, col("id"), col("v"))
      .collect()(0)
    val r2 = Stats.poissonBootstrap(varied, col("id"), col("v"))
      .collect()(0)
    assert(r1 == r2, "bootstrap must replay exactly")
    assert(r1.getAs[Double]("ci_lo") < r1.getAs[Double]("ci_hi"))
    assert(r1.getAs[Double]("ci_lo") < r1.getAs[Double]("mean") &&
      r1.getAs[Double]("mean") < r1.getAs[Double]("ci_hi"))
    intercept[IllegalArgumentException] {
      Stats.poissonBootstrap(varied, col("id"), col("v"), b = 10)
    }
  }

  test("cohenKappa: chance-only agreement is 0, perfect is 1, and a " +
      "category with no diagonal cell still feeds pe") {
    import spark.implicits._
    // perfect agreement
    val perfect = Seq(("x", "x"), ("y", "y"), ("x", "x")).toDF("a", "b")
    val p = Stats.cohenKappa(perfect, col("a"), col("b")).collect()(0)
    assert(p.getAs[Double]("kappa") == 1.0)
    // independence: a balanced 2×2 with po exactly = pe → kappa 0
    val indep = Seq(("x", "x"), ("x", "y"), ("y", "x"), ("y", "y"))
      .toDF("a", "b")
    val i = Stats.cohenKappa(indep, col("a"), col("b")).collect()(0)
    assert(i.getAs[Double]("p_observed") == 0.5)
    assert(i.getAs[Double]("p_expected") == 0.5)
    assert(i.getAs[Double]("kappa") == 0.0)
    // raters NEVER agree on 'y' (no (y,y) cell) yet both use it:
    // pe must still include P(A=y)·P(B=y) = (1/4)·(1/4); a
    // diagonal-cells fold would miss it and report pe = 9/16
    val skew = Seq(("x", "x"), ("x", "x"), ("x", "y"), ("y", "x"))
      .toDF("a", "b")
    val s = Stats.cohenKappa(skew, col("a"), col("b")).collect()(0)
    assert(s.getAs[Double]("p_observed") == 0.5)
    assert(s.getAs[Double]("p_expected") == 0.625,
      s"pe must fold the joined marginals: $s")
    // degenerate: both raters constant and equal → pe = 1 → NULL
    val const = Seq(("x", "x"), ("x", "x")).toDF("a", "b")
    val c = Stats.cohenKappa(const, col("a"), col("b")).collect()(0)
    assert(c.isNullAt(c.fieldIndex("kappa")))
  }

  test("kneePoint: the elbow of an L-shaped curve is the bend " +
    "(hand-computed integer chord distances)") {
    import spark.implicits._
    // chord (0,100)->(4,7); scores |−93x − 4y + 400|:
    // x=1: 267, x=2: 178, x=3: 89 -> knee at (1, 10)
    val curve = Seq((0L, 100L), (1L, 10L), (2L, 9L), (3L, 8L),
      (4L, 7L)).toDF("x", "y")
    val r = Stats.kneePoint(curve, col("x"), col("y")).collect()(0)
    assert(r.getAs[Long]("knee_x") == 1L, s"got $r")
    assert(r.getAs[Long]("knee_y") == 10L)
    assert(r.getAs[Long]("score") == 267L)
    assert(r.getAs[Long]("x_lo") == 0L && r.getAs[Long]("x_hi") == 4L)
  }

  test("mannKendall: strictly-rising series flags increasing with " +
    "exact S; an all-tie series zeroes the variance and abstains") {
    import spark.implicits._
    val rising = (1 to 5).map(i => (f"2024-01-0$i", i.toDouble))
      .toDF("d", "v")
    val r = Stats.mannKendall(rising, "d", "v").collect()(0)
    assert(r.getAs[Long]("s_stat") == 10L) // all 10 pairs concordant
    assert(r.getAs[Double]("var_s") == 16.666667) // 5*4*15/18
    assert(r.getAs[Double]("z") ==
      BigDecimal(9.0 / math.sqrt(16.666667))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getAs[String]("trend") == "increasing", s"got $r")
    val flat = (1 to 5).map(i => (f"2024-01-0$i", 7.0)).toDF("d", "v")
    val f = Stats.mannKendall(flat, "d", "v").collect()(0)
    assert(f.getAs[Long]("s_stat") == 0L)
    assert(f.getAs[Double]("var_s") == 0.0) // full tie correction
    assert(f.getAs[Double]("z") == 0.0)
    assert(f.getAs[String]("trend") == "none", s"got $f")
  }

  test("conversionLag: hand-computed share and lag quantiles; " +
    "pre-view purchases don't count; zero converters abstain") {
    import spark.implicits._
    // u1: view@0 purchase@+10s; u2: view@0 purchase@+100s;
    // u3: view only; u4: purchase BEFORE view (not a conversion);
    // u5: purchase only (never viewed -> not in the base)
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", "view"),
      (1L, "2024-01-01 00:00:10", "purchase"),
      (2L, "2024-01-01 00:00:00", "view"),
      (2L, "2024-01-01 00:01:40", "purchase"),
      (3L, "2024-01-01 00:00:00", "view"),
      (4L, "2024-01-01 00:00:30", "view"),
      (4L, "2024-01-01 00:00:00", "purchase"),
      (5L, "2024-01-01 00:00:00", "purchase"))
      .toDF("u", "ts", "t")
    val r = Stats.conversionLag(ev, col("u"), col("ts"), col("t"),
      "view", "purchase").collect()(0)
    assert(r.getAs[Long]("n_from") == 4L)
    assert(r.getAs[Long]("n_converted") == 2L, s"got $r")
    assert(r.getAs[Long]("conversion_ppm") == 500000L)
    // lags {10, 100}: p50 rank = ceil(2·.5) = 1 -> 10; p90 -> 100
    assert(r.getAs[Long]("p_500_lag_s") == 10L)
    assert(r.getAs[Long]("p_900_lag_s") == 100L)
    val none = Seq((1L, "2024-01-01 00:00:00", "view"))
      .toDF("u", "ts", "t")
    val n = Stats.conversionLag(none, col("u"), col("ts"), col("t"),
      "view", "purchase").collect()(0)
    assert(n.getAs[Long]("n_converted") == 0L &&
      n.isNullAt(n.fieldIndex("p_500_lag_s")))
  }

  test("permutationTest: a massive separation is never reached by " +
    "hash nulls; a label-independent metric is reached by most; " +
    "reruns are bit-identical") {
    import spark.implicits._
    // arm 1 pays 1000x arm 0: no hash split should reach |t_obs|
    val big = (1L to 20L).map(u =>
      (u, (u % 2).toString, if (u % 2 == 1) 1000.0 else 1.0))
      .toDF("u", "v", "y")
    val r = Stats.permutationTest(big, col("u"), col("v"), col("y"),
      "0", "1", reps = 32).collect()(0)
    assert(r.getAs[Long]("r_effective") == 32L)
    assert(r.getAs[Long]("n_ge") == 0L, s"got $r")
    assert(r.getAs[Long]("p_ub_ppm") == 30303L) // (1+0)*1e6 div 33
    // y independent of the label: most replicate |t| reach |t_obs|
    val flat = (1L to 20L).map(u => (u, (u % 2).toString, u.toDouble))
      .toDF("u", "v", "y")
    val f = Stats.permutationTest(flat, col("u"), col("v"), col("y"),
      "0", "1", reps = 32).collect()(0)
    assert(f.getAs[Long]("n_ge") >= 16L, s"got $f")
    // determinism: the exact same row on a rerun
    val f2 = Stats.permutationTest(flat, col("u"), col("v"), col("y"),
      "0", "1", reps = 32).collect()(0)
    assert(f.toSeq == f2.toSeq)
  }

  test("permutationTest: an UNEQUAL design re-draws the null at the " +
    "observed allocation, so a label-independent metric is not " +
    "spuriously significant (ADVICE r10)") {
    import spark.implicits._
    // 90/10 design, y independent of the label: a 50/50 null would
    // rank t_obs against the wrong replicate spread; the allocation-
    // preserving null must find it unremarkable
    val df = (1L to 200L).map { u =>
      (u, if (u % 10 == 0) "b" else "a", (u % 7).toDouble)
    }.toDF("u", "v", "y")
    val r = Stats.permutationTest(df, col("u"), col("v"), col("y"),
      "a", "b", reps = 64).collect()(0)
    assert(r.getAs[Long]("r_effective") == 64L)
    // unremarkable: a healthy share of replicate |t| reach |t_obs|
    assert(r.getAs[Long]("p_ub_ppm") > 50000L, s"got $r")
    // the replicates actually used the 90/10 allocation: with a
    // 50/50 null the per-arm counts would straddle 100; here arm a
    // must dominate every replicate — proxied by the null spread
    // admitting the observed t (above) AND determinism on rerun
    val r2 = Stats.permutationTest(df, col("u"), col("v"), col("y"),
      "a", "b", reps = 64).collect()(0)
    assert(r.toSeq == r2.toSeq)
  }

  test("mantelHaenszel: the textbook Simpson layout — every stratum " +
    "OR is 1, the crude OR is not, MH recovers 1") {
    import spark.implicits._
    // stratum 1: exposed 40/40, unexposed 10/10 (OR 1);
    // stratum 2: exposed 2/18, unexposed 8/72 (OR 1);
    // pooled crude: (42*82)/(58*18) = 3.298851 — pure mix confounding
    def rows(g: String, e: Boolean, y: Boolean, k: Int) =
      Seq.fill(k)((g, e, y))
    val df = (rows("s1", true, true, 40) ++ rows("s1", true, false, 40)
      ++ rows("s1", false, true, 10) ++ rows("s1", false, false, 10)
      ++ rows("s2", true, true, 2) ++ rows("s2", true, false, 18)
      ++ rows("s2", false, true, 8) ++ rows("s2", false, false, 72))
      .toDF("g", "e", "y")
    val r = Stats.mantelHaenszel(df, "g", col("e"), col("y"))
      .collect()(0)
    assert(r.getAs[Long]("n") == 200L &&
      r.getAs[Long]("n_strata") == 2L)
    assert(r.getAs[Double]("or_crude") == 3.298851, s"got $r")
    assert(r.getAs[Double]("or_mh") == 1.0, s"got $r")
    // a zero MH denominator abstains (no unexposed-with-outcome or
    // exposed-without anywhere)
    val degenerate = (rows("s1", true, true, 5) ++
      rows("s1", false, false, 5)).toDF("g", "e", "y")
    val d = Stats.mantelHaenszel(degenerate, "g", col("e"), col("y"))
      .collect()(0)
    assert(d.isNullAt(d.fieldIndex("or_mh")), s"got $d")
  }

  test("amsF2: a single distinct key estimates its F2 exactly; a " +
    "mixed corpus reports the exact F2 beside a deterministic " +
    "estimate") {
    import spark.implicits._
    // one key x5: every sign vector sums to ±5, every square is 25 —
    // the median IS the exact F2
    val mono = Seq.fill(5)("k").toDF("k")
    val m = Stats.amsF2(mono, col("k")).collect()(0)
    assert(m.getAs[Long]("n") == 5L && m.getAs[Long]("n_keys") == 1L)
    assert(m.getAs[Long]("f2_exact") == 25L)
    assert(m.getAs[Long]("f2_est") == 25L)
    // mixed: a=3, b=2, c=1 → F2 = 9 + 4 + 1 = 14; the estimate is
    // hash-deterministic — bitwise equal on a rerun
    val mixed = (Seq.fill(3)("a") ++ Seq.fill(2)("b") ++ Seq("c"))
      .toDF("k")
    val r1 = Stats.amsF2(mixed, col("k")).collect()(0)
    val r2 = Stats.amsF2(mixed, col("k")).collect()(0)
    assert(r1.getAs[Long]("n") == 6L && r1.getAs[Long]("n_keys") == 3L)
    assert(r1.getAs[Long]("f2_exact") == 14L)
    assert(r1.getAs[Long]("f2_est") >= 0L)
    assert(r1.toSeq == r2.toSeq, "estimate must replay bitwise")
    // NULL keys are no keys
    val withNulls = (Seq.fill(5)(Some("k")) ++ Seq(None, None))
      .toDF("k")
    val n = Stats.amsF2(withNulls, col("k")).collect()(0)
    assert(n.getAs[Long]("n") == 5L && n.getAs[Long]("n_keys") == 1L)
    assert(n.getAs[Long]("f2_exact") == 25L)
  }

  test("cramerVonMises: hand-computed T for interleaved and " +
    "separated samples; empty arm abstains") {
    import spark.implicits._
    // A = {1,3}, B = {2,4} interleaved: gaps A Σ=1, B Σ=5,
    // U = 2·1 + 2·5 = 12, T = 12/16/... = 0.75 − 15/24 = 0.125
    val inter = Seq(("a", 1.0, 1L), ("a", 3.0, 2L),
      ("b", 2.0, 3L), ("b", 4.0, 4L)).toDF("g", "v", "id")
    val r = Stats.cramerVonMises(inter, col("v"), col("id"),
      col("g"), "a", "b").collect()(0)
    assert((r.getAs[Long]("n_a"), r.getAs[Long]("n_b")) == ((2L, 2L)))
    assert(r.getAs[Double]("cvm_t") == 0.125, s"got $r")
    // fully separated: T = 81/54 − 35/36 = 0.527778 — rejects (≥.46)
    val sep = (Seq(1.0, 2.0, 3.0).zipWithIndex.map { case (v, i) =>
      ("a", v, i.toLong)
    } ++ Seq(10.0, 11.0, 12.0).zipWithIndex.map { case (v, i) =>
      ("b", v, 10L + i)
    }).toDF("g", "v", "id")
    val s = Stats.cramerVonMises(sep, col("v"), col("id"),
      col("g"), "a", "b").collect()(0)
    assert(s.getAs[Double]("cvm_t") == 0.527778, s"got $s")
    // an arm with no rows abstains
    val one = Seq(("a", 1.0, 1L)).toDF("g", "v", "id")
    val o = Stats.cramerVonMises(one, col("v"), col("id"),
      col("g"), "a", "b").collect()(0)
    assert(o.isNullAt(o.fieldIndex("cvm_t")), s"got $o")
  }

  test("amsJoinSize: exact inner product of key frequencies; " +
    "disjoint keys give zero; estimate replays bitwise") {
    import spark.implicits._
    // A: a x2, b x1; B: a x3, c x4 -> |A join B| = 2*3 = 6
    val a = (Seq.fill(2)("a") ++ Seq("b")).toDF("k")
    val b = (Seq.fill(3)("a") ++ Seq.fill(4)("c")).toDF("k")
    val r1 = Stats.amsJoinSize(a, col("k"), b, col("k")).collect()(0)
    assert(r1.getAs[Long]("n_a") == 3L && r1.getAs[Long]("n_b") == 7L)
    assert(r1.getAs[Long]("join_exact") == 6L)
    val r2 = Stats.amsJoinSize(a, col("k"), b, col("k")).collect()(0)
    assert(r1.toSeq == r2.toSeq, "estimate must replay bitwise")
    // disjoint key sets: exact join size 0 (estimate unbiased-around-0)
    val d = Stats.amsJoinSize(a, col("k"),
      Seq("z", "z").toDF("k"), col("k")).collect()(0)
    assert(d.getAs[Long]("join_exact") == 0L)
  }

  test("durbinWatson: alternating residuals push DW toward 4, a " +
    "smooth ramp stays near 2 on its own scale") {
    import spark.implicits._
    // perfectly linear y = 2i: residuals 0 -> den 0 -> NULL dw
    val lin = (1 to 6).map(i => (f"2024-01-0$i", 2.0 * i)).toDF("d", "v")
    val l = Stats.durbinWatson(lin, "d", "v").collect()(0)
    assert(l.getAs[Double]("slope") == 2.0)
    assert(l.isNullAt(l.fieldIndex("dw")), s"got $l")
    // alternating +/-1 around a flat line: e = ±1, every step ±2:
    // DW = Σ4/Σ1 ≈ 4·(n−1)/n → 'negative' autocorrelation
    val alt = (1 to 8).map(i =>
      (f"2024-01-0$i", 10.0 + (if (i % 2 == 0) 1.0 else -1.0)))
      .toDF("d", "v")
    val a = Stats.durbinWatson(alt, "d", "v").collect()(0)
    assert(a.getAs[String]("verdict") == "negative", s"got $a")
    assert(a.getAs[Double]("dw") > 2.5 && a.getAs[Double]("dw") <= 4.0)
  }

  test("hillTailIndex: exact Pareto data recovers its tail index; " +
    "a degenerate tail abstains; short data yields no row") {
    import spark.implicits._
    // exact Pareto(α=2) order statistics: x_(i) = (n/i)^(1/2) scaled;
    // use x_i = 1000/sqrt(i) for i = 1..12, k = 4:
    // alpha_inv = mean of ln(x_i) - ln(x_5) for i<=4
    val xs = (1 to 12).map(i => 1000.0 / math.sqrt(i.toDouble))
    val df = xs.toDF("v")
    val r = Stats.hillTailIndex(df, "v", k = 4).collect()(0)
    def r6(d: Double) =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lns = xs.sorted.reverse.map(x => r6(math.log(x)))
    // replicate the DECIMAL(18,6) sum exactly before the double math
    val slDec = lns.take(4)
      .map(BigDecimal(_).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      .sum
    val aInv = (slDec.toDouble - 4.0 * lns(4)) / 4.0
    assert(r.getAs[Double]("x_min") == xs.sorted.reverse(4))
    assert(r.getAs[Double]("alpha_inv") == r6(aInv), s"got $r")
    assert(r.getAs[Double]("alpha") == r6(1.0 / aInv)) // ≈ 2
    // small-k Hill bias: α̂ = 2.45 here; the point is the ballpark
    assert(math.abs(r.getAs[Double]("alpha") - 2.0) < 0.5)
    // all-equal top values: ln diffs are 0 → abstain
    val flat = Seq.fill(10)(5.0).toDF("v")
    val f = Stats.hillTailIndex(flat, "v", k = 4).collect()(0)
    assert(f.isNullAt(f.fieldIndex("alpha")))
    // fewer than k+1 positive rows: no tail to estimate
    assert(Stats.hillTailIndex(Seq(1.0, 2.0).toDF("v"), "v", k = 4)
      .count() == 0L)
  }

  test("quantileTreatmentEffect: per-permille diffs of exact order " +
    "statistics between arms") {
    import spark.implicits._
    // arm 0: {10,20,30,40,50}; arm 1: {10,20,30,40,150} — the whole
    // effect sits in the tail: p10/p50 flat, p90 +100
    val rows = Seq(10, 20, 30, 40, 50).zipWithIndex.map {
      case (v, i) => (0L, v.toDouble, i.toLong)
    } ++ Seq(10, 20, 30, 40, 150).zipWithIndex.map {
      case (v, i) => (1L, v.toDouble, 100L + i)
    }
    val df = rows.toDF("arm", "v", "id")
    val got = Stats.quantileTreatmentEffect(df, col("arm"), col("v"),
      col("id"), "0", "1").collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(got(100).getAs[Double]("qte") == 0.0)
    assert(got(500).getAs[Double]("qte") == 0.0)
    assert(got(900).getAs[Double]("q_a") == 50.0)
    assert(got(900).getAs[Double]("q_b") == 150.0)
    assert(got(900).getAs[Double]("qte") == 100.0, s"got $got")
    assert(got(500).getAs[Long]("n_a") == 5L &&
      got(500).getAs[Long]("n_b") == 5L)
  }

  test("cochranArmitage: hand-computed trend Z; a flat rate keeps; " +
    "single-stratum data abstains") {
    import spark.implicits._
    // strata 0/1/2, 2 rows each, pass counts 0/1/2 (perfect rising
    // trend): N=6 R=3 Σwn=6 Σwr=5 Σw²n=10
    // T = 5 − 3 = 2; V = .25·(10 − 6) = 1 → Z = 2
    val df = Seq((0L, false), (0L, false), (1L, true), (1L, false),
      (2L, true), (2L, true)).toDF("w", "p")
    val r = Stats.cochranArmitage(df, col("w"), col("p")).collect()(0)
    assert(r.getAs[Long]("k_strata") == 3L)
    assert(r.getAs[Double]("z") == 2.0, s"got $r")
    assert(r.getAs[String]("verdict") == "reject")
    // flat 50% everywhere: T = 0 → keep
    val flat = Seq((0L, true), (0L, false), (1L, true), (1L, false))
      .toDF("w", "p")
    val f = Stats.cochranArmitage(flat, col("w"), col("p")).collect()(0)
    assert(f.getAs[Double]("z") == 0.0 &&
      f.getAs[String]("verdict") == "keep")
    // one stratum: V = 0 → NULL abstention
    val one = Seq((1L, true), (1L, false)).toDF("w", "p")
    val o = Stats.cochranArmitage(one, col("w"), col("p")).collect()(0)
    assert(o.isNullAt(o.fieldIndex("z")))
  }

  test("logRank: hand-computed O-E, variance, and Z over two " +
    "uncensored arms") {
    import spark.implicits._
    // arm 0: spans {0, 1}; arm 1: spans {0, 2}; censorDays = 0
    // t=0: d=2 n=4 -> oe 0, v 1/3; t=1: dA=1 n=2 -> oe .5, v .25;
    // t=2: n=1 excluded. Z = 0.5 / sqrt(0.583333333)
    val ev = Seq(
      (0L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:00:00"),
      (2L, "2024-01-01 00:00:00"), (2L, "2024-01-02 00:00:00"),
      (3L, "2024-01-01 00:00:00"), (3L, "2024-01-03 00:00:00"))
      .toDF("id", "ts")
    val r = Stats.logRank(ev, col("id"), col("ts"), col("id") % 2,
      "0", "1", censorDays = 0).collect()(0)
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Long]("n_times") == 2L) // t=2 has n=1: excluded
    assert(r.getAs[Double]("o_minus_e") == 0.5)
    assert(r.getAs[Double]("var_sum") == 0.583333, s"got $r") // 6-dp emit
    val z = BigDecimal(0.5 / math.sqrt(0.583333333))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("z") == z)
    assert(r.getAs[String]("verdict") == "keep")
  }

  test("spearman: monotone pairs score +/-1 under any transform; " +
    "ties average; a constant margin abstains") {
    import spark.implicits._
    val mono = Seq((1.0, 1.0), (2.0, 4.0), (3.0, 9.0), (4.0, 16.0))
      .toDF("x", "y")
    assert(Stats.spearman(mono, "x", "y").collect()(0)
      .getAs[Double]("rho") == 1.0)
    val anti = Seq((1.0, 16.0), (2.0, 9.0), (3.0, 4.0), (4.0, 1.0))
      .toDF("x", "y")
    assert(Stats.spearman(anti, "x", "y").collect()(0)
      .getAs[Double]("rho") == -1.0)
    // tied x {1,1,2} vs y {3,5,4}: hand-computed moments give rho 0
    val tied = Seq((1.0, 3.0), (1.0, 5.0), (2.0, 4.0)).toDF("x", "y")
    assert(Stats.spearman(tied, "x", "y").collect()(0)
      .getAs[Double]("rho") == 0.0)
    val const = Seq((1.0, 3.0), (1.0, 5.0)).toDF("x", "y")
    val c = Stats.spearman(const, "x", "y").collect()(0)
    assert(c.isNullAt(c.fieldIndex("rho")))
  }

  test("pathMining: sliding windows stay inside a key; shares are " +
    "exact ppm; the top-k order is total") {
    import spark.implicits._
    // u1: a b a b → paths a>b>a, b>a>b; u2: a b a → a>b>a
    val ev = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"),
      (1L, 4L, "b"), (2L, 1L, "a"), (2L, 2L, "b"), (2L, 3L, "a"))
      .toDF("u", "seq", "s")
    val got = Stats.pathMining(ev, col("u"), col("seq"), col("seq"),
      col("s")).collect()
    assert(got.map(r => (r.getString(0), r.getAs[Long]("n"))).toSeq ==
      Seq(("a>b>a", 2L), ("b>a>b", 1L)))
    assert(got(0).getAs[Long]("share_ppm") == 666666L)
    assert(got(1).getAs[Long]("share_ppm") == 333333L)
    // pathLen 2 reduces to transition pairs
    val p2 = Stats.pathMining(ev, col("u"), col("seq"), col("seq"),
      col("s"), pathLen = 2).collect()
    assert(p2.map(_.getString(0)).toSet == Set("a>b", "b>a"))
  }

  test("fleissKappa: hand-computed multi-rater agreement; unanimity " +
    "on one category abstains; NULL predicates count as fail") {
    import spark.implicits._
    // 3 raters, 4 items with pass-counts {3, 3, 0, 1}:
    // num_i = np²+(3−np)²−3 → {6, 6, 6, 2}; P̄ = 20/24
    // p_pass = 7/12, p_e = 49/144 + 25/144 = 74/144
    val df = Seq((true, true, true), (true, true, true),
      (false, false, false), (true, false, false))
      .toDF("a", "b", "c")
    val r = Stats.fleissKappa(df,
      Seq(col("a"), col("b"), col("c"))).collect()(0)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pbar = 20.0 / 24.0
    val pe = (7.0 / 12.0) * (7.0 / 12.0) + (5.0 / 12.0) * (5.0 / 12.0)
    assert(r.getAs[Long]("n_items") == 4L)
    assert(r.getAs[Double]("p_bar") == r6(pbar), s"got $r")
    assert(r.getAs[Double]("kappa") == r6((pbar - pe) / (1.0 - pe)))
    // unanimous pass everywhere: p_e = 1 → NULL abstention
    val u = Stats.fleissKappa(
      Seq((true, true)).toDF("a", "b"), Seq(col("a"), col("b")))
      .collect()(0)
    assert(u.isNullAt(u.fieldIndex("kappa")))
    // NULL predicate counts as fail, not dropped
    val n = Stats.fleissKappa(
      Seq((Option(true), true), (Option.empty[Boolean], true))
        .toDF("a", "b"), Seq(col("a"), col("b"))).collect()(0)
    assert(n.getAs[Long]("n_items") == 2L)
    assert(n.getAs[Double]("p_bar") == 0.5) // items agree half the time
  }

  test("wassersteinByGroup: hand-computed earth-mover distance; an " +
    "identical distribution scores zero") {
    import spark.implicits._
    // ref = {0, 10}, a = {10, 10}: F differs by 0.5 over a width-10
    // step → W₁ = 5; b ≡ ref → 0
    val df = Seq(("r", 0.0), ("r", 10.0), ("a", 10.0), ("a", 10.0),
      ("b", 0.0), ("b", 10.0)).toDF("g", "v")
    val got = Stats.wassersteinByGroup(df, "v", "g", refGroup = "r")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(got("a").getAs[Double]("w1") == 5.0, s"got ${got("a")}")
    assert(got("b").getAs[Double]("w1") == 0.0)
    assert(!got.contains("r"))
  }

  test("ksByGroup / wassersteinByGroup: a missing reference group " +
    "aborts loudly instead of returning an empty frame") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("b", 2.0)).toDF("g", "v")
    val e1 = intercept[IllegalArgumentException] {
      Stats.wassersteinByGroup(df, "v", "g", refGroup = "nope")
    }
    assert(e1.getMessage.contains("nope"))
    val e2 = intercept[IllegalArgumentException] {
      Stats.ksByGroup(df, "v", "g", refGroup = "nope")
    }
    assert(e2.getMessage.contains("nope"))
  }

  test("mannKendallByGroup: per-group verdicts match the global " +
    "operator run on each group; single-period groups are absent") {
    import spark.implicits._
    val rising = (1 to 5).map(i => ("up", f"2024-01-0$i", i.toDouble))
    val flat = (1 to 5).map(i => ("fl", f"2024-01-0$i", 7.0))
    val lone = Seq(("one", "2024-01-01", 3.0))
    val df = (rising ++ flat ++ lone).toDF("g", "d", "v")
    val got = Stats.mannKendallByGroup(df, Seq("g"), "d", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("up", "fl")) // "one" has no pairs
    assert(got("up").getAs[Long]("s_stat") == 10L)
    assert(got("up").getAs[String]("trend") == "increasing")
    assert(got("fl").getAs[Long]("s_stat") == 0L)
    assert(got("fl").getAs[Double]("var_s") == 0.0)
    assert(got("fl").getAs[String]("trend") == "none")
    // values match the global operator on the same series
    val glob = Stats.mannKendall(
      rising.map { case (_, d, v) => (d, v) }.toDF("d", "v"), "d", "v")
      .collect()(0)
    assert(got("up").getAs[Double]("z") == glob.getAs[Double]("z"))
    assert(got("up").getAs[Double]("var_s") ==
      glob.getAs[Double]("var_s"))
  }

  test("mcnemar: hand-computed continuity-corrected chi2; no " +
    "discordance abstains; NULL predicates count as fail") {
    import spark.implicits._
    // cells: both=2, a_only=6, b_only=1, neither=1 →
    // χ² = (|6−1|−1)²/7 = 16/7 = 2.285714 → keep
    val df = (Seq((true, true), (true, true), (false, true),
      (false, false)) ++ Seq.fill(6)((true, false)))
      .toDF("a", "b")
    val r = Stats.mcnemar(df, col("a"), col("b")).collect()(0)
    assert(r.getAs[Long]("both_pass") == 2L &&
      r.getAs[Long]("a_only") == 6L && r.getAs[Long]("b_only") == 1L &&
      r.getAs[Long]("neither") == 1L)
    assert(r.getAs[Double]("chi2") == 2.285714, s"got $r")
    assert(r.getAs[String]("verdict") == "keep")
    // perfectly concordant: b + c = 0 → NULL abstention
    val conc = Seq((true, true), (false, false)).toDF("a", "b")
    val c = Stats.mcnemar(conc, col("a"), col("b")).collect()(0)
    assert(c.isNullAt(c.fieldIndex("chi2")) &&
      c.isNullAt(c.fieldIndex("verdict")))
    // NULL predicate = fail: a NULL in a lands in b_only, not lost
    val withNull = Seq((Option(true), true), (Option.empty[Boolean],
      true)).toDF("a", "b")
    val n = Stats.mcnemar(withNull, col("a"), col("b")).collect()(0)
    assert(n.getAs[Long]("b_only") == 1L && n.getAs[Long]("n") == 2L)
  }

  test("powerMde: hand-computed SE and MDE; a single-unit arm " +
    "abstains") {
    import spark.implicits._
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // arm 0 = {10, 12} (var 2), arm 1 = {20, 24} (var 8):
    // se2 = 2/2 + 8/2 = 5
    val df = Seq((1L, 0L, 10.0), (2L, 0L, 12.0), (3L, 1L, 20.0),
      (4L, 1L, 24.0)).toDF("u", "v", "y")
    val r = Stats.powerMde(df, col("u"), col("v"), col("y"), "0", "1")
      .collect()(0)
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Double]("mean_a") == 11.0)
    assert(r.getAs[Double]("se") == r6(math.sqrt(5.0)))
    val mde = (1.96 + 0.8416) * math.sqrt(5.0)
    assert(r.getAs[Double]("mde_abs") == r6(mde), s"got $r")
    assert(r.getAs[Double]("mde_rel") == r6(mde / 11.0))
    // an arm with one unit has no variance: everything NULL-gates
    val thin = Seq((1L, 0L, 10.0), (3L, 1L, 20.0), (4L, 1L, 24.0))
      .toDF("u", "v", "y")
    val t = Stats.powerMde(thin, col("u"), col("v"), col("y"), "0", "1")
      .collect()(0)
    assert(t.isNullAt(t.fieldIndex("se")) &&
      t.isNullAt(t.fieldIndex("mde_abs")), s"got $t")
  }

  test("assocRules: hand-computed support/confidence/lift; duplicate " +
    "events dedup into baskets; min-support filters") {
    import spark.implicits._
    // u1={a,b} u2={a,b} u3={a}: N=3, n_a=3, n_b=2, n_ab=2
    val ev = Seq((1L, "a"), (1L, "b"), (1L, "b"), (2L, "a"), (2L, "b"),
      (3L, "a")).toDF("u", "i")
    val r = Stats.assocRules(ev, "u", "i").collect()
      .map(x => (x.getString(0), x.getString(1)) -> x).toMap
    val ab = r(("a", "b"))
    assert(ab.getAs[Long]("n_both") == 2L)
    assert(ab.getAs[Long]("support_ppm") == 666666L)
    assert(ab.getAs[Long]("confidence_ppm") == 666666L) // 2/3 of a-users
    assert(ab.getAs[Long]("lift_x1m") == 1000000L) // exactly independent
    val ba = r(("b", "a"))
    assert(ba.getAs[Long]("confidence_ppm") == 1000000L) // every b has a
    assert(ba.getAs[Long]("lift_x1m") == 1000000L)
    // min-support prunes: threshold above 2/3 leaves nothing
    assert(Stats.assocRules(ev, "u", "i", minSupportPpm = 700000L)
      .count() == 0L)
  }

  test("kruskalWallis: hand-computed H on three separated groups; " +
    "an all-tie column abstains") {
    import spark.implicits._
    // a={1,2} b={3,4} c={5,6}: no ties, R={3,7,11},
    // H = 12/(6·7)·(9/2+49/2+121/2) − 3·7 = 4.571429; df=2 → keep
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0),
      ("c", 5.0), ("c", 6.0)).toDF("g", "v")
    val r = Stats.kruskalWallis(df, "v", "g").collect()(0)
    assert(r.getAs[Long]("n_total") == 6L)
    assert(r.getAs[Long]("k_groups") == 3L)
    assert(r.getAs[Double]("h") == 4.571429, s"got $r")
    assert(r.getAs[String]("verdict") == "keep")
    // every value tied: tie correction zeroes out → NULL abstention
    val flat = Seq(("a", 5.0), ("a", 5.0), ("b", 5.0), ("b", 5.0))
      .toDF("g", "v")
    val f = Stats.kruskalWallis(flat, "v", "g").collect()(0)
    assert(f.isNullAt(f.fieldIndex("h")), s"got $f")
    assert(f.isNullAt(f.fieldIndex("verdict")))
  }

  test("srmCheck: a gross assignment imbalance flags, a balanced " +
    "split does not (chi2 hand-computed)") {
    import spark.implicits._
    // 10 units vs 2: expected 6 each, chi2 = 16/6 + 16/6 = 5.333333
    val bad = ((1 to 10).map(i => (i.toLong, 0L)) ++
      Seq((11L, 1L), (12L, 1L))).toDF("u", "v")
    val b = Stats.srmCheck(bad, col("u"), col("v"))
      .collect().map(r => r.getAs[Long]("variant") ->
        (r.getAs[Long]("n_units"), r.getAs[Double]("expected"),
          r.getAs[Double]("chi2"), r.getAs[Boolean]("srm"))).toMap
    assert(b(0L) == ((10L, 6.0, 5.333333, true)), s"got ${b(0L)}")
    assert(b(1L) == ((2L, 6.0, 5.333333, true)), s"got ${b(1L)}")
    // balanced: chi2 = 0, no flag — and duplicate unit rows must not
    // double-count (distinct units)
    val ok = (1 to 10).map(i => (i.toLong, (i % 2).toLong))
      .flatMap(x => Seq(x, x)).toDF("u", "v")
    val o = Stats.srmCheck(ok, col("u"), col("v")).collect()
    o.foreach { r =>
      assert(r.getAs[Long]("n_units") == 5L)
      assert(r.getAs[Double]("chi2") == 0.0 && !r.getAs[Boolean]("srm"))
    }
  }

  test("diffInDiff: the pre-period gap nets out (hand-computed 2x2)") {
    import spark.implicits._
    // treat: pre mean 10, post mean 25; control: pre 5, post 12
    // did = (25 - 10) - (12 - 5) = 8
    val df = Seq(
      (true, false, 8.0), (true, false, 12.0),
      (true, true, 20.0), (true, true, 30.0),
      (false, false, 4.0), (false, false, 6.0),
      (false, true, 10.0), (false, true, 14.0))
      .toDF("t", "p", "v")
    val r = Stats.diffInDiff(df, col("t"), col("p"), col("v"))
      .collect()(0)
    assert(r.getAs[Double]("mean_treat_pre") == 10.0)
    assert(r.getAs[Double]("mean_treat_post") == 25.0)
    assert(r.getAs[Double]("mean_control_pre") == 5.0)
    assert(r.getAs[Double]("mean_control_post") == 12.0)
    assert(r.getAs[Double]("did") == 8.0, s"got $r")
    // an empty cell NULL-gates the estimate
    val sparse = Seq((true, true, 1.0), (false, false, 2.0),
      (false, true, 3.0)).toDF("t", "p", "v")
    val s = Stats.diffInDiff(sparse, col("t"), col("p"), col("v"))
      .collect()(0)
    assert(s.isNullAt(s.fieldIndex("did")), s"got $s")
  }

  test("cupedAdjust: a perfectly-correlated covariate absorbs ALL " +
    "between-variant imbalance (theta exact, rho2 = 1, adjusted " +
    "means equalize); zero-variance covariate NULL-gates") {
    import spark.implicits._
    // y = 2x exactly: theta = 2, rho2 = 1; raw means 4 vs 6 but the
    // covariate imbalance (2 vs 3 around xbar 2.5) explains all of
    // it -> both variants adjust to 5 (hand-computed)
    val df = Seq(
      (1L, 0L, 1.0, 2.0), (2L, 0L, 3.0, 6.0),
      (3L, 1L, 2.0, 4.0), (4L, 1L, 4.0, 8.0))
      .toDF("u", "v", "x", "y")
    val out = Stats.cupedAdjust(df, col("u"), col("v"),
      col("x"), col("y"))
      .collect().map(r => r.getAs[Long]("variant") ->
        (r.getAs[Long]("n_units"), r.getAs[Double]("mean_raw"),
          r.getAs[Double]("mean_adj"), r.getAs[Double]("theta"),
          r.getAs[Double]("rho2"))).toMap
    assert(out(0L) == ((2L, 4.0, 5.0, 2.0, 1.0)), s"got ${out(0L)}")
    assert(out(1L) == ((2L, 6.0, 5.0, 2.0, 1.0)), s"got ${out(1L)}")
    // constant covariate: Var(x) = 0 -> theta/adj/rho2 NULL
    val flat = Seq((1L, 0L, 5.0, 2.0), (2L, 1L, 5.0, 6.0))
      .toDF("u", "v", "x", "y")
    val f = Stats.cupedAdjust(flat, col("u"), col("v"),
      col("x"), col("y")).collect()
    f.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("theta")), s"got $r")
      assert(r.isNullAt(r.fieldIndex("mean_adj")), s"got $r")
    }
  }

  test("sprtBernoulli: all-success days accumulate ln(p1/p0) per " +
    "observation and cross the H1 boundary exactly when they should") {
    import spark.implicits._
    // p0 = 0.2, p1 = 0.8: w1 = ln(4) = 1.3862943611...;
    // hi = ln(19) = 2.9444389791...
    // day 1: 2/2 successes -> llr = 2.772589 < hi -> continue
    // day 2: +1/1 -> llr = 4.158883 >= hi -> accept_h1
    val daily = Seq(("2024-01-01", 2L, 2L), ("2024-01-02", 1L, 1L))
      .toDF("d", "n", "s")
    val out = Stats.sprtBernoulli(daily, "d", col("n"), col("s"),
      p0 = 0.2, p1 = 0.8)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("s_cum"), r.getAs[Double]("llr"),
          r.getAs[String]("decision"))).toMap
    assert(out("2024-01-01") == ((2L, 2.772589, "continue")),
      s"got ${out("2024-01-01")}")
    assert(out("2024-01-02") == ((3L, 4.158883, "accept_h1")),
      s"got ${out("2024-01-02")}")
    // mirrored failures accept H0 (symmetry of the design)
    val fail = Seq(("2024-01-01", 3L, 0L)).toDF("d", "n", "s")
    val f = Stats.sprtBernoulli(fail, "d", col("n"), col("s"),
      p0 = 0.2, p1 = 0.8).collect()(0)
    assert(f.getAs[String]("decision") == "accept_h0", s"got $f")
  }

  test("nelsonAalen: hand-computed hazard curve with censoring (the " +
    "still-active tail must not count as churn)") {
    import spark.implicits._
    // corpus end = 01-10 (u4's last). censorDays = 2:
    // u1 span 01-01..01-03 (t=2, gap 7 -> event)
    // u2 span 01-02..01-02 (t=0, gap 8 -> event)
    // u3 span 01-05..01-09 (t=4, gap 1 -> CENSORED)
    // u4 span 01-01..01-10 (t=9, gap 0 -> CENSORED)
    // at-risk desc-cum: t9:1 t4:2 t2:3 t0:4
    // hazard: t0 1/4, t2 1/3, t4 0, t9 0
    // cum: t0 0.25, t2 0.25+0.333333333=0.583333, then flat
    val ev = Seq(
      (1L, "2024-01-01"), (1L, "2024-01-03"),
      (2L, "2024-01-02"),
      (3L, "2024-01-05"), (3L, "2024-01-09"),
      (4L, "2024-01-01"), (4L, "2024-01-10"))
      .toDF("uid", "d")
      .select(col("uid"), col("d").cast("timestamp").as("ts"))
    val out = Stats.nelsonAalen(ev, col("uid"), col("ts"),
      censorDays = 2)
      .collect().map(r => r.getAs[Long]("t_days") ->
        (r.getAs[Long]("n_at_risk"), r.getAs[Long]("n_events"),
          r.getAs[Long]("n_censored"), r.getAs[Double]("hazard"),
          r.getAs[Double]("cum_hazard"))).toMap
    assert(out(0L) == ((4L, 1L, 0L, 0.25, 0.25)), s"got ${out(0L)}")
    assert(out(2L) == ((3L, 1L, 0L, 0.333333, 0.583333)),
      s"got ${out(2L)}")
    assert(out(4L) == ((2L, 0L, 1L, 0.0, 0.583333)), s"got ${out(4L)}")
    assert(out(9L) == ((1L, 0L, 1L, 0.0, 0.583333)), s"got ${out(9L)}")
  }

  test("countMinSketch: estimates never undercount under forced " +
    "collisions") {
    import spark.implicits._
    val df = Seq.tabulate(300)(i => (s"w${i % 30}", i.toLong))
      .toDF("w", "id")
    val whole = Stats.countMinSketch(df, col("w"), width = 16)
    // width 16 over 30 keys forces collisions: the one-sided
    // estimate bound (min of upper bounds) must still hold per key
    val exact = df.groupBy(col("w")).agg(count(lit(1)).as("c_true"))
    val est = Stats.cmsEstimate(whole, exact, col("w"), "c_est",
      width = 16).collect()
    assert(est.length == 30)
    est.foreach { r =>
      assert(r.getAs[Long]("c_est") >= r.getAs[Long]("c_true"),
        s"CMS undercounted: $r")
    }
  }

  test("theilSenByGroup: exact fit recovers slope/intercept, one " +
    "outlier cannot drag the median, single-period groups are absent") {
    import spark.implicits._
    val rows =
      // a: y = 2i + 1 exactly
      (1 to 5).map(i => ("a", f"2024-01-0$i", 2.0 * i + 1)) ++
        // c: y = i with one wild outlier at the last period —
        // 6 of 10 pair slopes are 1, so the median slope is 1 and
        // the residual median is 0 (hand-enumerated)
        Seq(("c", "2024-01-01", 1.0), ("c", "2024-01-02", 2.0),
          ("c", "2024-01-03", 3.0), ("c", "2024-01-04", 4.0),
          ("c", "2024-01-05", 100.0)) ++
        // b: a single period has no pairs -> no output row
        Seq(("b", "2024-01-01", 7.0))
    val df = rows.toDF("g", "d", "v")
    val out = Stats.theilSenByGroup(df, Seq("g"), "d", "v")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_periods"), r.getAs[Long]("n_pairs"),
          r.getAs[Double]("slope"), r.getAs[Double]("intercept"))).toMap
    assert(out.keySet == Set("a", "c"), s"got ${out.keySet}")
    assert(out("a") == ((5L, 10L, 2.0, 1.0)), s"got ${out("a")}")
    assert(out("c") == ((5L, 10L, 1.0, 0.0)), s"got ${out("c")}")
  }

  test("quantileSketch: merge of shard states equals the whole-input " +
    "sketch (associativity), and estimates bracket the exact quantile") {
    import spark.implicits._
    val gen = Gen.listOfN(400, Gen.chooseNum(-5000.0, 5000.0))
    val vals = sample(gen, 97L)
    val df = vals.zipWithIndex
      .map { case (v, i) => (if (i % 3 == 0) "a" else "b", v, i.toLong) }
      .toDF("g", "v", "id")
    // shared bounds (the two-pass contract), shards by id parity
    val bounds = df.select(col("g"),
        (col("v").cast("decimal(18,4)") * 10000)
          .cast("long").as("__e4"))
      .groupBy(col("g"))
      .agg(min(col("__e4")).as("__min"), max(col("__e4")).as("__max"))
    val shardA = Stats.quantileSketchState(
      df.filter(col("id") % 2 === 0), Seq("g"), col("v"),
      bins = 64, bounds = Some(bounds))
    val shardB = Stats.quantileSketchState(
      df.filter(col("id") % 2 === 1), Seq("g"), col("v"),
      bins = 64, bounds = Some(bounds))
    val merged = Stats.quantileSketchMerge(shardA, shardB, Seq("g"))
    val whole = Stats.quantileSketchState(df, Seq("g"), col("v"),
      bins = 64, bounds = Some(bounds))
    def asMap(s: org.apache.spark.sql.DataFrame) =
      s.collect().map(r => (r.getString(0), r.getAs[Long]("__idx")) ->
        (r.getAs[Long]("__min"), r.getAs[Long]("__w"),
          r.getAs[Long]("__cnt"))).toMap
    assert(asMap(merged) == asMap(whole),
      "shard merge must equal the whole-input sketch bin for bin")
    // estimate vs exact: est <= exact < est + max_err (lower-bound
    // pick with a one-bin-width guarantee)
    val est = Stats.quantilesFromSketch(whole, Seq("g"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("p_500"), r.getAs[Double]("max_err"))).toMap
    val exact = Stats.quantilesByGroup(df, Seq("g"), col("v"),
      col("id"), permilles = Seq(500))
      .collect().map(r => r.getString(0) ->
        r.getAs[Double]("p_500")).toMap
    for ((g, (e, err)) <- est) {
      assert(e <= exact(g) && exact(g) < e + err,
        s"group $g: estimate $e +/- $err must bracket ${exact(g)}")
    }
  }

  test("rocAuc: perfect separation, hand-computed tie case, and " +
    "one-class abstention") {
    import spark.implicits._
    // pos {3,4} all above neg {1,2}: AUC = 1, gini = 1
    val sep = Seq((3.0, true), (4.0, true), (1.0, false), (2.0, false))
      .toDF("s", "y")
    val p = Stats.rocAuc(sep, col("s"), col("y")).collect()(0)
    assert(p.getAs[Long]("n_pos") == 2L && p.getAs[Long]("n_neg") == 2L)
    assert(p.getAs[Double]("auc") == 1.0 &&
      p.getAs[Double]("gini") == 1.0, s"got $p")
    // pos {2,3} vs neg {1,2}: pairs (2>1)+(2=2 half)+(3>1)+(3>2)
    // = 3.5/4 = 0.875, gini 0.75
    val tie = Seq((2.0, true), (3.0, true), (1.0, false), (2.0, false))
      .toDF("s", "y")
    val t = Stats.rocAuc(tie, col("s"), col("y")).collect()(0)
    assert(t.getAs[Double]("auc") == 0.875 &&
      t.getAs[Double]("gini") == 0.75, s"got $t")
    // all one class: AUC undefined, not 0.5
    val one = Seq((1.0, true), (2.0, true)).toDF("s", "y")
    val o = Stats.rocAuc(one, col("s"), col("y")).collect()(0)
    assert(o.isNullAt(o.fieldIndex("auc")) &&
      o.isNullAt(o.fieldIndex("gini")))
  }

  test("rocAuc equals mannWhitney's normalized U on the same data " +
    "(the identity both derive from)") {
    import spark.implicits._
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vals = sample(Gen.listOfN(200, Gen.chooseNum(0, 40)), 11L)
      .map(_.toDouble)
    val df = vals.zipWithIndex
      .map { case (v, i) => (v + (i % 3), i % 2 == 0) }
      .toDF("s", "y")
    val auc = Stats.rocAuc(df, col("s"), col("y")).collect()(0)
    val mw = Stats.mannWhitney(
      df.select(col("s"), when(col("y"), "p").otherwise("n").as("g")),
      "s", "g", groupA = "p", groupB = "n").collect()(0)
    val u = mw.getAs[Double]("u_a")
    val na = mw.getAs[Long]("n_a").toDouble
    val nb = mw.getAs[Long]("n_b").toDouble
    assert(auc.getAs[Long]("n_pos") == mw.getAs[Long]("n_a"))
    // same tie-aware rank topology -> AUC must equal U/(n1*n0) to
    // within the two paths' 6-dp emission granularity
    assert(math.abs(auc.getAs[Double]("auc") - r6(u / (na * nb)))
      <= 2e-6, s"auc $auc vs U $u")
  }

  test("cliffsDelta: full dominance is large; hand-computed mixed " +
    "case lands in the small band") {
    import spark.implicits._
    // a {3,4} dominates b {1,2}: delta = +1 -> large
    val dom = Seq(("a", 3.0), ("a", 4.0), ("b", 1.0), ("b", 2.0))
      .toDF("g", "v")
    val d = Stats.cliffsDelta(dom, "v", "g", "a", "b").collect()(0)
    assert(d.getAs[Double]("delta") == 1.0 &&
      d.getAs[String]("magnitude") == "large", s"got $d")
    // a {1,3} vs b {2,3}: (#a>b - #a<b)/4 = (1-2)/4 = -0.25 -> small
    val mix = Seq(("a", 1.0), ("a", 3.0), ("b", 2.0), ("b", 3.0))
      .toDF("g", "v")
    val m = Stats.cliffsDelta(mix, "v", "g", "a", "b").collect()(0)
    assert(m.getAs[Double]("delta") == -0.25 &&
      m.getAs[String]("magnitude") == "small", s"got $m")
  }

  test("cochranQ: hand-computed Q over three gates; all-or-none " +
    "rows abstain") {
    import spark.implicits._
    // rows (1,1,0),(1,0,0),(1,1,1),(1,0,0): C=(4,2,1), N=7,
    // sumR2=15 -> Q = 2*(3*21-49)/(21-15) = 28/6 = 4.666667 -> keep
    val df = Seq((true, true, false), (true, false, false),
      (true, true, true), (true, false, false)).toDF("a", "b", "c")
    val r = Stats.cochranQ(df, Seq(col("a"), col("b"), col("c")))
      .collect()(0)
    assert(r.getAs[Long]("n_items") == 4L &&
      r.getAs[Long]("k_gates") == 3L)
    assert(r.getAs[Double]("q") == 4.666667 &&
      r.getAs[String]("verdict") == "keep", s"got $r")
    // every row passes all or none: denominator 0, loud abstention
    val allnone = Seq((true, true, true), (false, false, false))
      .toDF("a", "b", "c")
    val a = Stats.cochranQ(allnone, Seq(col("a"), col("b"), col("c")))
      .collect()(0)
    assert(a.isNullAt(a.fieldIndex("q")) &&
      a.isNullAt(a.fieldIndex("verdict")))
  }

  test("jarqueBera: hand-computed moments on 1..5; constant column " +
    "abstains; out-of-bound input fails loudly") {
    import spark.implicits._
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // 1..5: mean 3, m2 2, m3 0, m4 6.8 (replay the operator's own
    // double op order so the assert is bitwise)
    val df = Seq(1L, 2L, 3L, 4L, 5L).toDF("x")
    val r = Stats.jarqueBera(df, col("x")).collect()(0)
    val m4 = 979.0 / 5.0 - 4.0 * 3.0 * (225.0 / 5.0) +
      6.0 * (3.0 * 3.0) * (55.0 / 5.0) - 3.0 * (3.0 * 3.0) * (3.0 * 3.0)
    val exk = m4 / (2.0 * 2.0) - 3.0
    val jb = 5.0 / 6.0 * (0.0 + exk * exk / 4.0)
    assert(r.getAs[Long]("n") == 5L)
    assert(r.getAs[Double]("skewness") == 0.0)
    assert(r.getAs[Double]("kurtosis_excess") == r6(exk))
    assert(r.getAs[Double]("jb") == r6(jb), s"got $r")
    assert(r.getAs[String]("verdict") == "keep")
    // zero variance: shape undefined
    val const = Seq(7L, 7L, 7L).toDF("x")
    val c = Stats.jarqueBera(const, col("x")).collect()(0)
    assert(c.isNullAt(c.fieldIndex("jb")) &&
      c.isNullAt(c.fieldIndex("verdict")))
    // beyond the exact-moment bound: require, not silent overflow
    val big = Seq(60000L).toDF("x")
    val e = intercept[IllegalArgumentException] {
      Stats.jarqueBera(big, col("x")).collect()
    }
    assert(e.getMessage.contains("55000"))
  }

  test("ljungBox: hand-computed Q_LB/Q_BP on an alternating series") {
    import spark.implicits._
    // 1,2,1,2,... (n=8), lag 1: mean 1.5, den = 8*0.25 = 2,
    // num1 = 7*(-0.25) -> r1 = -0.875 -> m = -875000
    // Q_BP = 8 * 765625000000 / 1e12 = 6.125
    // Q_LB = 8*10 * (765625000000 div 7) / 1e12 = 8.75 > 3.841
    val df = (1 to 8).map(i => (i, if (i % 2 == 1) 1.0 else 2.0))
      .toDF("t", "v")
    val r = Stats.ljungBox(df, "t", "v", maxLag = 1).collect()(0)
    assert(r.getAs[Long]("n") == 8L && r.getAs[Int]("max_lag") == 1)
    assert(r.getAs[Double]("q_bp") == 6.125, s"got $r")
    assert(r.getAs[Double]("q_lb") == 8.75, s"got $r")
    assert(r.getAs[String]("verdict") == "reject")
  }

  test("kendallTau: hand-computed tau on a 4-period series; ties " +
    "adjust the margins; an all-tie margin abstains") {
    import spark.implicits._
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // x=1,2,3,4 y=1,3,2,4: C=5, D=1, no ties -> tau = 4/6
    val df = Seq((1, 1.0, 1.0), (2, 2.0, 3.0), (3, 3.0, 2.0),
      (4, 4.0, 4.0)).toDF("t", "x", "y")
    val r = Stats.kendallTau(df, "t", "x", "y").collect()(0)
    assert(r.getAs[Long]("n_pairs") == 6L &&
      r.getAs[Long]("concordant") == 5L &&
      r.getAs[Long]("discordant") == 1L)
    assert(r.getAs[Double]("tau_b") ==
      r6(4.0 / math.sqrt(6.0 * 6.0)), s"got $r")
    // x=(1,1,2) y=(1,2,3): one x-tie pair -> tau = 2/sqrt(2*3)
    val tie = Seq((1, 1.0, 1.0), (2, 1.0, 2.0), (3, 2.0, 3.0))
      .toDF("t", "x", "y")
    val t = Stats.kendallTau(tie, "t", "x", "y").collect()(0)
    assert(t.getAs[Double]("tau_b") ==
      r6(2.0 / math.sqrt(2.0 * 3.0)), s"got $t")
    // both pairs tie in x: the x margin carries no order information
    val flat = Seq((1, 1.0, 1.0), (2, 1.0, 2.0)).toDF("t", "x", "y")
    val f = Stats.kendallTau(flat, "t", "x", "y").collect()(0)
    assert(f.isNullAt(f.fieldIndex("tau_b")))
  }

  test("brownForsythe: hand-computed W on two spreads around equal-" +
    "rank medians; large-sample verdict rejects a 10x spread") {
    import spark.implicits._
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // a={1,2,3} med 2 -> z={1,0,1}; b={10,20,30} med 20 -> z={10,0,10}
    val df = Seq(("a", 1.0, 1L), ("a", 2.0, 2L), ("a", 3.0, 3L),
      ("b", 10.0, 4L), ("b", 20.0, 5L), ("b", 30.0, 6L))
      .toDF("g", "v", "id")
    val r = Stats.brownForsythe(df, "v", "g", col("id")).collect()(0)
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n") == 6L)
    val grand = 22.0 / 6.0
    val ssb = r9(3.0 * (2.0 / 3.0 - grand) * (2.0 / 3.0 - grand)) +
      r9(3.0 * (20.0 / 3.0 - grand) * (20.0 / 3.0 - grand))
    val ssw = r9(2.0 - 2.0 * 2.0 / 3.0) + r9(200.0 - 20.0 * 20.0 / 3.0)
    assert(r.getAs[Double]("w") == r6((ssb / 1.0) / (ssw / 4.0)),
      s"got $r")
    // df2 < 1000: no large-sample verdict
    assert(r.isNullAt(r.fieldIndex("verdict")))
    // 600+600 rows, one group 10x the spread: W huge, verdict fires
    val bigA = (0 until 600).map(i => ("a", i.toDouble, i.toLong))
    val bigB = (0 until 600).map(i => ("b", i * 10.0, 600L + i))
    val big = (bigA ++ bigB).toDF("g", "v", "id")
    val vb = Stats.brownForsythe(big, "v", "g", col("id")).collect()(0)
    assert(vb.getAs[String]("verdict") == "reject", s"got $vb")
  }

  test("brierDecomposition: perfect forecasts score 0; a flat 0.5 " +
    "forecast is all uncertainty; out-of-range permille fails loudly") {
    import spark.implicits._
    // perfect: brier 0, rel 0, res = unc = 0.25
    val perfect = Seq((1000L, true), (0L, false)).toDF("m", "y")
    val p = Stats.brierDecomposition(perfect, col("m"), col("y"))
      .collect()(0)
    assert(p.getAs[Long]("n") == 2L)
    assert(p.getAs[Double]("brier") == 0.0 &&
      p.getAs[Double]("reliability") == 0.0 &&
      p.getAs[Double]("resolution") == 0.25 &&
      p.getAs[Double]("uncertainty") == 0.25, s"got $p")
    // flat 0.5 on a 50% base rate: calibrated but zero resolution
    val flat = Seq((500L, true), (500L, false)).toDF("m", "y")
    val f = Stats.brierDecomposition(flat, col("m"), col("y"))
      .collect()(0)
    assert(f.getAs[Double]("brier") == 0.25 &&
      f.getAs[Double]("reliability") == 0.0 &&
      f.getAs[Double]("resolution") == 0.0 &&
      f.getAs[Double]("uncertainty") == 0.25, s"got $f")
    // permille out of range: loud require, not a silent clamp
    val bad = Seq((1500L, true)).toDF("m", "y")
    val e = intercept[IllegalArgumentException] {
      Stats.brierDecomposition(bad, col("m"), col("y")).collect()
    }
    assert(e.getMessage.contains("[0, 1000]"))
  }

  test("friedman: hand-computed chi2 on consistent blocks; an " +
    "incomplete block is excluded; an all-tie block contributes " +
    "averaged ranks") {
    import spark.implicits._
    // two identical blocks a<b<c: 2R=(4,8,12), S=224,
    // chi2 = 3*224/(2*3*4) - 3*2*4 = 28 - 24 = 4 -> keep (df=2)
    val df = Seq(("d1", "a", 1.0), ("d1", "b", 2.0), ("d1", "c", 3.0),
      ("d2", "a", 1.0), ("d2", "b", 2.0), ("d2", "c", 3.0))
      .toDF("b", "t", "v")
    val r = Stats.friedman(df, "b", "t", "v").collect()(0)
    assert(r.getAs[Long]("n_blocks") == 2L &&
      r.getAs[Long]("k_treatments") == 3L)
    assert(r.getAs[Double]("chi2") == 4.0 &&
      r.getAs[String]("verdict") == "keep", s"got $r")
    // a block missing a treatment must not enter the census
    val withPartial = df.union(
      Seq(("d3", "a", 9.0), ("d3", "b", 1.0)).toDF("b", "t", "v"))
    val p = Stats.friedman(withPartial, "b", "t", "v").collect()(0)
    assert(p.getAs[Long]("n_blocks") == 2L &&
      p.getAs[Double]("chi2") == 4.0, s"got $p")
    // one all-tie block: every treatment gets 2R = 1+3 = 4 ->
    // S = 3*16, chi2 = 3*48/(1*3*4) - 3*1*4 = 0
    val ties = Seq(("d1", "a", 5.0), ("d1", "b", 5.0), ("d1", "c", 5.0))
      .toDF("b", "t", "v")
    val t = Stats.friedman(ties, "b", "t", "v").collect()(0)
    assert(t.getAs[Double]("chi2") == 0.0, s"got $t")
  }

  test("fdrByGroup: an extreme group ranks first and rejects; the " +
    "rejected set is downward-closed in rank; a lone group abstains; " +
    "reruns are bit-identical") {
    import spark.implicits._
    // 4 groups x 50 ids; g0 passes everything, the rest nothing
    val df = (0L until 200L)
      .map(i => (s"g${i % 4}", i, i % 4 == 0)).toDF("g", "id", "y")
    val out = Stats.fdrByGroup(df, "g", col("id"), col("y"),
      reps = 32, alphaPermille = 50)
    val rows = out.collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(rows.size == 4)
    val hot = rows("g0")
    assert(hot.getAs[Long]("pass_ppm") == 1000000L)
    assert(hot.getAs[Int]("bh_rank") == 1 &&
      hot.getAs[Boolean]("rejected"), s"got $hot")
    // step-up property: if rank i rejected, every smaller rank is too
    val byRank = out.collect()
      .filter(r => !r.isNullAt(r.fieldIndex("bh_rank")))
      .sortBy(_.getAs[Int]("bh_rank"))
    val flags = byRank.map(_.getAs[Boolean]("rejected")).toSeq
    assert(flags == flags.sortBy(!_),
      s"rejected set must be a rank prefix: $flags")
    // p bounds: (1 + n_ge) / 33 in ppm
    byRank.foreach { r =>
      val p = r.getAs[Long]("p_ppm")
      assert(p >= 1000000L / 33 && p <= 1000000L, s"p out of range: $r")
    }
    // determinism: the whole frame replays bit for bit
    val again = Stats.fdrByGroup(df, "g", col("id"), col("y"),
      reps = 32, alphaPermille = 50)
    assert(out.collect().map(_.toString).sorted.toSeq ==
      again.collect().map(_.toString).sorted.toSeq)
    // a group that IS the corpus has no complement to test against
    val solo = (0L until 40L).map(i => ("only", i, i % 2 == 0))
      .toDF("g", "id", "y")
    val s0 = Stats.fdrByGroup(solo, "g", col("id"), col("y"),
      reps = 8, alphaPermille = 50).collect()(0)
    assert(s0.isNullAt(s0.fieldIndex("p_ppm")) &&
      s0.isNullAt(s0.fieldIndex("bh_rank")) &&
      s0.isNullAt(s0.fieldIndex("rejected")), s"got $s0")
  }

  test("fdrByGroup dependent=true (Benjamini-Yekutieli): decisions " +
    "replay the integer harmonic formula and never exceed BH's set") {
    import spark.implicits._
    val df = (0L until 200L)
      .map(i => (s"g${i % 4}", i, i % 4 == 0)).toDF("g", "id", "y")
    val bh = Stats.fdrByGroup(df, "g", col("id"), col("y"))
      .collect().map(r => r.getAs[String]("g") ->
        Option(r.getAs[Boolean]("rejected"))).toMap
    val by = Stats.fdrByGroup(df, "g", col("id"), col("y"),
      dependent = true).collect()
    // BY ⊆ BH: dividing alpha by H_m can only un-reject
    by.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("rejected")) &&
          r.getAs[Boolean]("rejected"))
        assert(bh(r.getAs[String]("g")).contains(true),
          s"BY rejected where BH did not: $r")
    }
    // replay the decision from the emitted (p, rank) pairs: the
    // truncated-ppm harmonic over the m tested ranks
    val tested = by.filter(r => !r.isNullAt(r.fieldIndex("bh_rank")))
      .map(r => (r.getAs[Int]("bh_rank"), r.getAs[Long]("p_ppm"),
        r.getAs[Boolean]("rejected"))).sortBy(_._1)
    val m = tested.length.toLong
    val c6 = (1L to m).map(1000000L / _).sum
    val okRanks = tested.filter { case (i, p, _) =>
      p * m * c6 <= i.toLong * 50L * 1000L * 1000000L }.map(_._1)
    val imax = if (okRanks.nonEmpty) okRanks.max else Int.MinValue
    tested.foreach { case (i, _, rej) =>
      assert(rej == (i <= imax), s"rank $i decision mismatch") }
  }

  test("prAuc: perfect separation scores 1; hand-computed tie-block " +
    "case; no positives abstains with the baseline intact") {
    import spark.implicits._
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sep = Seq((3.0, true), (4.0, true), (1.0, false), (2.0, false))
      .toDF("s", "y")
    val p = Stats.prAuc(sep, col("s"), col("y")).collect()(0)
    assert(p.getAs[Double]("pr_auc") == 1.0 &&
      p.getAs[Double]("baseline") == 0.5, s"got $p")
    // pos {3, 2} neg {2, 1}: blocks desc 3(1p), 2(1p of 2), 1(0p):
    // AP = (1*(1/1) + 1*(2/3)) / 2
    val tie = Seq((3.0, true), (2.0, true), (2.0, false), (1.0, false))
      .toDF("s", "y")
    val t = Stats.prAuc(tie, col("s"), col("y")).collect()(0)
    val exp = r6((r9(1.0 * (1.0 / 1.0)) + r9(1.0 * (2.0 / 3.0))) / 2.0)
    assert(t.getAs[Double]("pr_auc") == exp, s"got $t")
    // no positives: AP undefined, baseline still reported
    val neg = Seq((1.0, false), (2.0, false)).toDF("s", "y")
    val n = Stats.prAuc(neg, col("s"), col("y")).collect()(0)
    assert(n.isNullAt(n.fieldIndex("pr_auc")) &&
      n.getAs[Double]("baseline") == 0.0, s"got $n")
  }

  test("runsTest: hand-computed z on an alternating series; the " +
    "equal-to-median period drops; a one-sided split abstains") {
    import spark.implicits._
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // 1,9,2,8,3: median (rank 3) = 3 drops; signs B,A,B,A -> 4 runs
    val df = Seq((1, 1.0), (2, 9.0), (3, 2.0), (4, 8.0), (5, 3.0))
      .toDF("t", "v")
    val r = Stats.runsTest(df, "t", "v").collect()(0)
    assert(r.getAs[Long]("n_periods") == 4L &&
      r.getAs[Long]("n_above") == 2L &&
      r.getAs[Long]("n_below") == 2L &&
      r.getAs[Long]("runs") == 4L, s"got $r")
    val mu = 2.0 * 2.0 * 2.0 / 4.0 + 1.0
    val sig2 = 2.0 * 2.0 * 2.0 * (2.0 * 2.0 * 2.0 - 4.0) /
      (4.0 * 4.0 * 3.0)
    assert(r.getAs[Double]("z") == r6((4.0 - mu) / math.sqrt(sig2)))
    assert(r.getAs[String]("verdict") == "keep")
    // every surviving period on one side: no runs distribution
    val flat = Seq((1, 1.0), (2, 5.0), (3, 5.0)).toDF("t", "v")
    val f = Stats.runsTest(flat, "t", "v").collect()(0)
    assert(f.isNullAt(f.fieldIndex("z")) &&
      f.isNullAt(f.fieldIndex("verdict")), s"got $f")
  }

  test("cronbachAlpha: perfectly aligned items score 1; independent " +
    "items score 0; zero total-score variance abstains") {
    import spark.implicits._
    val aligned = Seq((true, true), (false, false)).toDF("a", "b")
    val a = Stats.cronbachAlpha(aligned, Seq(col("a"), col("b")))
      .collect()(0)
    assert(a.getAs[Long]("k_items") == 2L &&
      a.getAs[Double]("alpha") == 1.0, s"got $a")
    // uncorrelated 2x2 battery: alpha = 0
    val indep = Seq((true, true), (true, false), (false, true),
      (false, false)).toDF("a", "b")
    val i = Stats.cronbachAlpha(indep, Seq(col("a"), col("b")))
      .collect()(0)
    assert(i.getAs[Double]("alpha") == 0.0, s"got $i")
    // constant total score: variance 0, loud abstention
    val const = Seq((true, false), (false, true)).toDF("a", "b")
    val c = Stats.cronbachAlpha(const, Seq(col("a"), col("b")))
      .collect()(0)
    assert(c.isNullAt(c.fieldIndex("alpha")), s"got $c")
  }

  test("ateStratified: an imbalanced stratum mix separates the naive " +
    "diff from the ATE; incomplete strata drop; a single-unit arm " +
    "abstains the SE") {
    import spark.implicits._
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // s1: arm0 {10,12} arm1 {20,22} (d=10, n=4);
    // s2: arm0 {30,32} arm1 {40..50 by 2} (d=14, n=8) — arm 1 is
    // over-exposed to the high-value stratum, so naive = 18 != ATE
    val df = Seq(
      (1L, "0", "s1", 10.0), (2L, "0", "s1", 12.0),
      (3L, "1", "s1", 20.0), (4L, "1", "s1", 22.0),
      (5L, "0", "s2", 30.0), (6L, "0", "s2", 32.0),
      (7L, "1", "s2", 40.0), (8L, "1", "s2", 42.0),
      (9L, "1", "s2", 44.0), (10L, "1", "s2", 46.0),
      (11L, "1", "s2", 48.0), (12L, "1", "s2", 50.0))
      .toDF("u", "v", "st", "y")
    val r = Stats.ateStratified(df, col("u"), col("v"), col("st"),
      col("y"), "0", "1").collect()(0)
    assert(r.getAs[Long]("n_units") == 12L &&
      r.getAs[Long]("k_strata") == 2L)
    assert(r.getAs[Double]("diff_naive") == 18.0, s"got $r")
    // replay the operator's double op order
    def va(ss: Double, s: Double, n: Double) = (ss - s * s / n) / (n - 1.0)
    val ta1 = r9(4.0 / 12.0 * (42.0 / 2.0 - 22.0 / 2.0))
    val ta2 = r9(8.0 / 12.0 * (270.0 / 6.0 - 62.0 / 2.0))
    val sa = (BigDecimal(ta1) + BigDecimal(ta2)).toDouble
    assert(r.getAs[Double]("ate") == r6(sa), s"got $r")
    val w1 = 4.0 / 12.0; val w2 = 8.0 / 12.0
    val tv1 = r9(w1 * w1 * (va(884.0, 42.0, 2.0) / 2.0 +
      va(244.0, 22.0, 2.0) / 2.0))
    val tv2 = r9(w2 * w2 * (va(12220.0, 270.0, 6.0) / 6.0 +
      va(1924.0, 62.0, 2.0) / 2.0))
    val sv = (BigDecimal(tv1) + BigDecimal(tv2)).toDouble
    assert(r.getAs[Double]("se") == r6(math.sqrt(sv)), s"got $r")
    assert(r.getAs[Double]("ci_lo") ==
      r6(sa - 1.96 * math.sqrt(sv)), s"got $r")
    // a stratum with one arm only carries no contrast: dropped, the
    // weights renormalize over what remains
    val withOrphan = df.union(
      Seq((13L, "0", "s3", 999.0)).toDF("u", "v", "st", "y"))
    val o = Stats.ateStratified(withOrphan, col("u"), col("v"),
      col("st"), col("y"), "0", "1").collect()(0)
    assert(o.getAs[Long]("k_strata") == 2L &&
      o.getAs[Double]("ate") == r6(sa), s"got $o")
    // a retained stratum with a single-unit arm: ATE stands, SE
    // abstains loudly
    val thin = df.union(Seq((14L, "0", "s4", 5.0),
      (15L, "1", "s4", 6.0)).toDF("u", "v", "st", "y"))
    val t = Stats.ateStratified(thin, col("u"), col("v"), col("st"),
      col("y"), "0", "1").collect()(0)
    assert(!t.isNullAt(t.fieldIndex("ate")) &&
      t.isNullAt(t.fieldIndex("se")) &&
      t.isNullAt(t.fieldIndex("ci_lo")), s"got $t")
  }

  test("pageHinkley: a flat series never alarms, a level shift " +
      "alarms once PH crosses lambda, a dip resets the low-water mark") {
    import spark.implicits._
    // 10,10,10,20: PH stays 0 on the flat prefix; at t4 the term is
    // (20 − 12.5) = 7.5 → PH = 7.5 > λ = 5
    val df = Seq(("d1", 10.0), ("d2", 10.0), ("d3", 10.0),
      ("d4", 20.0)).toDF("d", "v")
    val rows = Stats.pageHinkley(df, "d", "v",
        deltaPpm = 0L, lambdaPpm = 5000000L)
      .orderBy(col("d")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4)))
    assert(rows(0) == (("d1", 10.0, 0.0, 0.0, false)))
    assert(rows(2) == (("d3", 10.0, 0.0, 0.0, false)))
    assert(rows(3) == (("d4", 20.0, 7.5, 7.5, true)), s"got ${rows(3)}")
    // a dip drags m DOWN with it and becomes the new low-water mark:
    // 10, 0 → t2 term = (0 − 5) = −5, m = −5 = min → PH 0
    val dip = Stats.pageHinkley(
        Seq(("d1", 10.0), ("d2", 0.0)).toDF("d", "v"),
        "d", "v", deltaPpm = 0L, lambdaPpm = 5000000L)
      .orderBy(col("d")).collect()
    assert(dip(1).getDouble(2) == -5.0 && dip(1).getDouble(3) == 0.0,
      s"got ${dip.toSeq}")
    // delta discounts drift: with δ = 7.5 (ppm 7500000) the same
    // shift stays under the mark (term 0 at t4)
    val damped = Stats.pageHinkley(df, "d", "v",
        deltaPpm = 7500000L, lambdaPpm = 5000000L)
      .orderBy(col("d")).collect()
    assert(!damped(3).getBoolean(4), s"got ${damped.toSeq}")
  }

  test("hurstRS: a deterministic ramp scores near 1, an alternating " +
      "series near 0, a constant series abstains") {
    import spark.implicits._
    def series(vals: Seq[Double]) = vals.zipWithIndex
      .map { case (v, i) => (f"d${i + 1}%04d", v) }.toDF("d", "v")
    val ws = Seq(4, 8, 16)
    // pure trend: R/S grows ~linearly in w → slope ≈ 1
    val ramp = Stats.hurstRS(series((1 to 64).map(_.toDouble)),
      "d", "v", ws).collect()
    assert(ramp.length == 3)
    val hRamp = ramp.head.getAs[Double]("hurst")
    assert(ramp.forall(_.getAs[Double]("hurst") == hRamp))
    assert(hRamp > 0.85, s"ramp H: $hRamp")
    assert(ramp.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((4L, 16L), (8L, 8L), (16L, 4L)), s"got ${ramp.toSeq}")
    // alternation: bounded range at every scale → slope ≈ 0
    val alt = Stats.hurstRS(
      series((1 to 64).map(i => if (i % 2 == 0) 11.0 else 9.0)),
      "d", "v", ws).collect()
    val hAlt = alt.head.getAs[Double]("hurst")
    assert(hAlt < 0.3, s"alternating H: $hAlt")
    // constant series: every block has zero range — nothing to fit
    val const = Stats.hurstRS(series(Seq.fill(64)(5.0)), "d", "v", ws)
      .collect()
    assert(const.isEmpty, s"got ${const.toSeq}")
  }

  test("isotonicCalibration: PAV pools adjacent violators — " +
      "hand-computed minimax on a 4-bin fixture; monotone output") {
    import spark.implicits._
    // per-bin rates [.5, 0, 1, .5] → PAV [.25, .25, .75, .75]
    val df = Seq(
      (0.5, true), (0.5, false),   // bin 0: 1/2
      (1.5, false), (1.5, false),  // bin 1: 0/2
      (2.5, true), (2.5, true),    // bin 2: 2/2
      (3.5, true), (3.5, false)    // bin 3: 1/2
    ).toDF("score", "pass")
    val rows = Stats.isotonicCalibration(df, "score", col("pass"),
        lo = 0.0, hi = 4.0, nBins = 4)
      .orderBy(col("bin")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.toSeq == Seq((0, 2L, 1L, 0.5, 0.25),
      (1, 2L, 0L, 0.0, 0.25), (2, 2L, 2L, 1.0, 0.75),
      (3, 2L, 1L, 0.5, 0.75)), s"got ${rows.toSeq}")
    // already-monotone rates are a fixed point
    val mono = Seq((0.5, false), (0.5, false), (1.5, true),
      (1.5, false), (2.5, true), (2.5, true)).toDF("score", "pass")
    val m = Stats.isotonicCalibration(mono, "score", col("pass"),
        lo = 0.0, hi = 3.0, nBins = 3)
      .orderBy(col("bin")).collect()
      .map(r => (r.getDouble(3), r.getDouble(4)))
    assert(m.forall(t => t._1 == t._2), s"got ${m.toSeq}")
  }

  test("adTestByGroup: hand-computed 2-sample A2; equal samples -> 0") {
    import spark.implicits._
    // X = {1,2}, Y = {3,4}: pooled B = (1,2,3,4); Scholz-Stephens
    // version-1 components are 5/6 each -> A2 = 5/3
    val df = Seq(("a", 1), ("a", 2), ("b", 3), ("b", 4)).toDF("g", "x")
    val r = Stats.adTestByGroup(df, "x", "g").collect()(0)
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n") == 4L &&
      r.getAs[Long]("n_values") == 4L, s"got $r")
    assert(math.abs(r.getAs[Double]("a2") - 5.0 / 3.0) < 2e-6,
      s"a2: ${r.getAs[Double]("a2")}")
    // identical distributions: every M_ij = n_i*B_j/N exactly -> 0
    val same = Seq(("a", 1), ("a", 2), ("b", 1), ("b", 2)).toDF("g", "x")
    val r2 = Stats.adTestByGroup(same, "x", "g").collect()(0)
    assert(r2.getAs[Double]("a2") == 0.0, s"got $r2")
  }

  test("theilDecomposition: equality -> 0; within+between = total " +
      "to emit precision on a skewed fixture") {
    import spark.implicits._
    val eq = Seq(("a", 10), ("a", 10), ("b", 10), ("b", 10))
      .toDF("g", "v")
    val r0 = Stats.theilDecomposition(eq, "v", "g").collect()(0)
    assert(r0.getAs[Double]("theil_total") == 0.0 &&
      r0.getAs[Double]("theil_between") == 0.0 &&
      r0.getAs[Double]("theil_within") == 0.0, s"got $r0")
    // skew between groups AND within one group
    val df = Seq(("a", 1), ("a", 9), ("b", 40), ("b", 50))
      .toDF("g", "v")
    val r = Stats.theilDecomposition(df, "v", "g").collect()(0)
    val (t, b, w) = (r.getAs[Double]("theil_total"),
      r.getAs[Double]("theil_between"), r.getAs[Double]("theil_within"))
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("n_groups") == 2L)
    assert(t > 0 && b > 0 && w > 0, s"got $r")
    assert(math.abs(t - (b + w)) < 1e-5,
      s"decomposition identity: $t vs ${b + w}")
    // between dominates: the a/b gap dwarfs the within-b spread
    assert(b > w, s"expected between-dominated: $r")
  }

  test("pettittTest: level shift located at the break; p small") {
    import spark.implicits._
    val days = (1 to 20).map(i => (f"2024-01-$i%02d",
      if (i <= 10) 10.0 + (i % 3) else 50.0 + (i % 3)))
    val r = Stats.pettittTest(days.toDF("d", "v"), "d", "v")
      .collect()(0)
    assert(r.getAs[Long]("n_periods") == 20L, s"got $r")
    assert(r.getAs[String]("change_at") == "2024-01-10",
      s"change_at: $r")
    // max |U| for a clean split of 10 vs 10 is 2*10*10/2... exact:
    // all first-10 ranks below all last-10 -> |U_10| = 100
    assert(r.getAs[Long]("u_abs") == 100L, s"u_abs: $r")
    assert(r.getAs[Double]("p_approx") < 0.01, s"p: $r")
  }

  test("ndcgAtK: hand-computed top-3; ideal packing") {
    import spark.implicits._
    // scores 5..1, labels T F T F F, k=3: DCG = 1 + 0 + 1/2 = 1.5;
    // P = 2 -> IDCG = 1 + 1/log2(3)
    val df = Seq((5L, 1L, true), (4L, 2L, false), (3L, 3L, true),
      (2L, 4L, false), (1L, 5L, false)).toDF("s", "id", "y")
    val r = Stats.ndcgAtK(df, col("s"), col("id"), col("y"), k = 3)
      .collect()(0)
    assert(r.getAs[Long]("n_pos_total") == 2L &&
      r.getAs[Long]("n_pos_topk") == 2L, s"got $r")
    assert(r.getAs[Double]("dcg") == 1.5, s"dcg: $r")
    val idealExp = 1.0 + 1.0 / (math.log(3.0) / math.log(2.0))
    assert(math.abs(r.getAs[Double]("idcg") - idealExp) < 1e-6,
      s"idcg: $r")
    assert(math.abs(r.getAs[Double]("ndcg") - 1.5 / idealExp) < 1e-5,
      s"ndcg: $r")
    // perfect head: all top-k relevant -> ndcg = 1 exactly (same
    // rounded table on both sides of the division)
    val perfect = Seq((5L, 1L, true), (4L, 2L, true), (3L, 3L, true),
      (2L, 4L, false)).toDF("s", "id", "y")
    val rp = Stats.ndcgAtK(perfect, col("s"), col("id"), col("y"), 3)
      .collect()(0)
    assert(rp.getAs[Double]("ndcg") == 1.0, s"got $rp")
  }

  test("mcc: perfect = 1, inverted = -1, degenerate margin = NULL") {
    import spark.implicits._
    val df = Seq((true, true), (true, true), (false, false),
      (false, false)).toDF("p", "y")
    val r = Stats.mcc(df, col("p"), col("y")).collect()(0)
    assert(r.getAs[Long]("n") == 4L && r.getAs[Double]("mcc") == 1.0,
      s"got $r")
    val inv = Stats.mcc(df, !col("p"), col("y")).collect()(0)
    assert(inv.getAs[Double]("mcc") == -1.0, s"got $inv")
    val const = Stats.mcc(df, lit(true), col("y")).collect()(0)
    assert(const.isNullAt(const.fieldIndex("mcc")), s"got $const")
  }

  test("pageTrend: monotone blocks give the exact closed-form z") {
    import spark.implicits._
    // k = 3, b = 8, values rise with position in every block:
    // L = 14b, z = sqrt(2b) = 4 exactly
    val rows = for { b <- 1 to 8; j <- 1 to 3 }
      yield (s"blk$b", j, j * 10.0 + b)
    val r = Stats.pageTrend(rows.toDF("b", "j", "v"), "b", "j", "v")
      .collect()(0)
    assert(r.getAs[Long]("n_blocks") == 8L &&
      r.getAs[Long]("k_treatments") == 3L, s"got $r")
    assert(r.getAs[Double]("l_stat") == 112.0, s"l: $r")
    assert(r.getAs[Double]("z") == 4.0, s"z: $r")
    assert(r.getAs[String]("verdict") == "reject", s"got $r")
    // decreasing -> z = -4; incomplete blocks are dropped
    val dec = (for { b <- 1 to 8; j <- 1 to 3 }
      yield (s"blk$b", j, -j * 10.0 + b)) ++ Seq(("partial", 1, 1.0))
    val rd = Stats.pageTrend(dec.toDF("b", "j", "v"), "b", "j", "v")
      .collect()(0)
    assert(rd.getAs[Long]("n_blocks") == 8L && 
      rd.getAs[Double]("z") == -4.0, s"got $rd")
  }
}
