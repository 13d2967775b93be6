package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Edge cases of the curation operators (Sampling, Packing, Stats CMS)
  * that the catalog's corpus queries don't necessarily exercise. */
class CurationSpec extends SparkSpecBase {
  import spark.implicits._

  test("priorityEstimate: a population that fits in k estimates its " +
    "total EXACTLY; a real sample's estimate replays bitwise") {
    import spark.implicits._
    val small = (1L to 5L).map(i => (i, i * 10L)).toDF("id", "w")
    val fit = Sampling.priorityEstimate(small, col("id"), col("w"),
      k = 10).collect()(0)
    assert(fit.getAs[Long]("n") == 5L &&
      fit.getAs[Long]("k_used") == 5L)
    assert(fit.getAs[Long]("total_exact") == 150L)
    assert(fit.getAs[Double]("total_est") == 150.0, s"got $fit")
    // genuine sampling: k < n — the DLT estimate is deterministic
    // and within an order of magnitude of the exact total
    val big = (1L to 200L).map(i => (i, 1L + i % 50)).toDF("id", "w")
    val r1 = Sampling.priorityEstimate(big, col("id"), col("w"),
      k = 20).collect()(0)
    val r2 = Sampling.priorityEstimate(big, col("id"), col("w"),
      k = 20).collect()(0)
    assert(r1.getAs[Long]("k_used") == 20L)
    assert(r1.getAs[Long]("n") == 200L)
    val exact = r1.getAs[Long]("total_exact").toDouble
    val est = r1.getAs[Double]("total_est")
    assert(est > 0.2 * exact && est < 5.0 * exact,
      s"estimate wildly off: $r1")
    assert(r1.toSeq == r2.toSeq, "estimate must replay bitwise")
    // rows with non-positive weight are excluded everywhere
    val withZero = ((1L to 5L).map(i => (i, i * 10L)) ++
      Seq((9L, 0L))).toDF("id", "w")
    val z = Sampling.priorityEstimate(withZero, col("id"), col("w"),
      k = 10).collect()(0)
    assert(z.getAs[Long]("n") == 5L &&
      z.getAs[Long]("total_exact") == 150L)
  }

  test("stratifiedSample: strata at or under target pass through whole") {
    val df = ((1L to 100L).map(i => (i, "big")) ++
      (101L to 110L).map(i => (i, "small"))).toDF("id", "s")
    val out = Sampling.stratifiedSample(df, Seq("s"), col("id"), target = 20)
      .groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("small") == 10, "under-target stratum must be kept whole")
    // hash-membership keeps ≈20 of 100; exact value is deterministic
    val big = out("big")
    assert(big > 5 && big < 40, s"big stratum kept $big of 100, expected ≈20")
    // determinism: same input, same sample
    val again = Sampling.stratifiedSample(df, Seq("s"), col("id"), 20)
      .agg(sum("id")).as[Long].head
    val first = Sampling.stratifiedSample(df, Seq("s"), col("id"), 20)
      .agg(sum("id")).as[Long].head
    assert(again == first)
  }

  test("capPerStratum: over-cap strata cut to exactly cap, small kept whole") {
    val df = ((1L to 100L).map(i => (i, "big")) ++
      (101L to 103L).map(i => (i, "small"))).toDF("id", "s")
    val out = Sampling.capPerStratum(df, Seq("s"), col("id"), cap = 10)
      .groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("big" -> 10L, "small" -> 3L))
    // determinism: the survivor SET replays exactly
    def ids() = Sampling.capPerStratum(df, Seq("s"), col("id"), 10)
      .select("id").as[Long].collect().toSet
    assert(ids() == ids())
  }

  test("tfIdfTopK: corpus-wide terms score zero, rare terms rank first") {
    val docs = Seq(
      (1L, "the cat sat"), (2L, "the dog ran"), (3L, "the cat ran"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.tfIdfTopK(docs, "doc_id", col("text"), k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(4),
        r.getLong(5)))
    // "the" appears in every doc → idf = ln(3/3) = 0 → never top-ranked
    assert(!out.exists { case (_, t, _, rk) => t == "the" && rk == 1 })
    // doc 1's rank-1 term is its unique word "sat" (df=1, max idf)
    assert(out.collect { case (1L, t, _, 1L) => t }.head == "sat")
    // scores are non-increasing within a doc
    out.groupBy(_._1).values.foreach { rows =>
      val byRank = rows.sortBy(_._4).map(_._3)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("pmiCollocations: a fixed phrase outranks independent pairs") {
    // "new york" adjacent in every doc; "a b" adjacent in only half
    val rows = (1 to 10).map(i => (i.toLong, "new york a b x")) ++
      (11 to 20).map(i => (i.toLong, "a new york b x"))
    val docs = rows.toDF("doc_id", "text")
    val out = TextAnalysis.pmiCollocations(docs, col("text"),
        minCount = 5, k = 5)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(3)))
    val m = out.toMap
    assert(m.contains(("new", "york")), s"got ${out.mkString(",")}")
    // the always-adjacent pair beats the half-the-time pair
    assert(m(("new", "york")) > m.getOrElse(("a", "b"), Double.MinValue))
  }

  test("packSequences: overflow opens a new bin; oversized doc gets its own") {
    // one shard (nShards=1): ids in order with token counts
    // 6,5,12,2,3 at capacity 10 → bins [6],[5],[12],[2,3]
    val df = Seq((1L, 6L), (2L, 5L), (3L, 12L), (4L, 2L), (5L, 3L))
      .toDF("doc_id", "n")
    val out = Packing.packSequences(df, "doc_id", "n",
        capacity = 10, nShards = 1)
      .orderBy("id").select("id", "bin").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L), (5L, 3L)))
  }

  test("packSequences: bin index resets at shard boundaries") {
    val df = (1L to 40L).map(i => (i, 7L)).toDF("doc_id", "n")
    val out = Packing.packSequences(df, "doc_id", "n",
      capacity = 14, nShards = 4)
    val perShard = out.groupBy("shard")
      .agg(min("bin").as("lo"), countDistinct("bin").as("bins"),
        count(lit(1)).as("docs"))
      .as[(Long, Long, Long, Long)].collect()
    assert(perShard.length == 4, "expected all 4 shards populated")
    perShard.foreach { case (shard, lo, bins, docs) =>
      assert(lo == 0L, s"shard $shard must start at bin 0")
      // capacity 14 fits exactly two 7-token docs per bin
      assert(bins == (docs + 1) / 2, s"shard $shard: $docs docs, $bins bins")
    }
  }

  test("containmentPairs: catches an embedded prompt; below-threshold overlap drops") {
    val train = Seq(
      (1L, "aa bb cc dd ee ff gg hh ii jj kk ll"), // contains eval 10's text
      (2L, "zz yy xx ww vv uu tt ss"),             // disjoint
      (3L, "aa bb cc dd mm nn oo pp")              // only 2 shared shingles
    ).toDF("doc_id", "text")
    val ev = Seq((10L, "cc dd ee ff gg hh")).toDF("doc_id", "text")
    // eval 10 has shingles {cc dd ee, dd ee ff, ee ff gg, ff gg hh}; all
    // 4 appear in doc 1; doc 3 shares none of them (its overlap with
    // eval is only the 2-gram region)
    val got = Dedup.containmentPairs(train, ev, "doc_id", col("text"),
        shingleSize = 3, minShared = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 10L, 4L)), s"$got")
  }

  test("chunkTokens: short doc is one chunk; stride windows clamp at the end") {
    val df = Seq((1L, "a b c"), (2L, (1 to 10).map("t" + _).mkString(" ")))
      .toDF("id", "text")
    val out = df.select(col("id"),
        posexplode(TextAnalysis.chunkTokens(
          TextAnalysis.tokens(col("text")), 4, 3)))
      .select(col("id"), col("pos"), array_join(col("col"), " "))
      .as[(Long, Int, String)].collect().toSet
    assert(out == Set(
      (1L, 0, "a b c"),                       // n <= window: whole doc
      (2L, 0, "t1 t2 t3 t4"), (2L, 1, "t4 t5 t6 t7"),
      (2L, 2, "t7 t8 t9 t10")))               // clamped final window
  }

  test("countMinSketch estimates are exact when width avoids collisions") {
    val occ = (Seq.fill(30)("alpha") ++ Seq.fill(7)("beta") ++ Seq("gamma"))
      .toDF("w")
    val sketch = Stats.countMinSketch(occ, col("w"), depth = 4, width = 4096)
    val cand = occ.distinct()
    val est = Stats.cmsEstimate(sketch, cand, col("w"), "est",
        depth = 4, width = 4096)
      .as[(String, Long)].collect().toMap
    assert(est == Map("alpha" -> 30L, "beta" -> 7L, "gamma" -> 1L))
  }

  test("countMinSketch never undercounts, even at colliding width") {
    val occ = (1 to 200).map(i => s"tok$i").toDF("w")
    val sketch = Stats.countMinSketch(occ, col("w"), depth = 2, width = 8)
    val est = Stats.cmsEstimate(sketch, occ.distinct(), col("w"), "est",
        depth = 2, width = 8)
      .as[(String, Long)].collect()
    assert(est.length == 200)
    est.foreach { case (w, e) => assert(e >= 1L, s"$w undercounted: $e") }
  }

  test("temperatureSample: √-weighting narrows the stratum-size gap") {
    // 400 "big" vs 25 "small": proportional sampling to 100 keeps
    // ~94/~6; √-weighting keeps targets 100·20/25=80 and 100·5/25=20 —
    // the small stratum's share rises from ~6% to ~20%.
    val df = ((1L to 400L).map(i => (i, "big")) ++
      (1001L to 1025L).map(i => (i, "small"))).toDF("id", "s")
    val out = Sampling.temperatureSample(df, Seq("s"), col("id"),
        totalTarget = 100, seed = 1)
      .groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // small: target 20 of 25 → hash-rate keep ≈20 (whole-ish stratum)
    assert(out("small") >= 14 && out("small") <= 25,
      s"small kept ${out("small")}, √-target is 20")
    // big: target 80 of 400 → ≈80 kept, far under the proportional 94
    assert(out("big") > 40 && out("big") < 120,
      s"big kept ${out("big")}, √-target is 80")
    // determinism
    def ids() = Sampling.temperatureSample(df, Seq("s"), col("id"), 100, 1)
      .select("id").as[Long].collect().toSet
    assert(ids() == ids())
  }

  test("temperatureSample: a stratum whose target exceeds it is kept whole") {
    val df = ((1L to 1000L).map(i => (i, "huge")) ++
      (2001L to 2004L).map(i => (i, "tiny"))).toDF("id", "s")
    // W = isqrt(1000)+isqrt(4) = 31+2 = 33; tiny's target = 500·2/33 =
    // 30 > 4 → threshold caps at Buckets → all 4 kept.
    val out = Sampling.temperatureSample(df, Seq("s"), col("id"), 500, 2)
      .filter(col("s") === "tiny").count()
    assert(out == 4, s"tiny stratum must pass through whole, kept $out")
  }

  test("quantileFilter: exact rank cut, deterministic under ties") {
    // 10 rows, metric = id % 4 (ties everywhere), drop bottom 30% = 3;
    // a global (stratum-less) cut is a constant stratum column
    val df = (1L to 10L).map(i => (i, i % 4)).toDF("id", "m")
    val df2 = df.withColumn("g", lit("all"))
    val out = Sampling.quantileFilter(df2, Seq("g"), col("m"), col("id"), 300)
      .select("id").as[Long].collect().toSet
    // order by (m, id): (4,8: m=0),(1,5,9: m=1),(2,6,10: m=2),(3,7: m=3)
    // → rank order ids: 4,8,1,5,9,2,6,10,3,7; drop first 3 → keep rest
    assert(out == Set(5L, 9L, 2L, 6L, 10L, 3L, 7L))
    // dropPermille = 0 keeps everything
    val all = Sampling.quantileFilter(df2, Seq("g"), col("m"), col("id"), 0)
    assert(all.count() == 10)
  }

  test("shardOrder: nShards=1 degenerates to a single global order") {
    val df = (1L to 20L).map(i => (i, i)).toDF("id", "x")
    val out = Sampling.shardOrder(df, col("id"), nShards = 1, seed = 5)
      .select("shard", "seq").collect()
    assert(out.forall(_.getLong(0) == 0L))
    assert(out.map(_.getInt(1)).sorted.toSeq == (1 to 20))
  }

  test("temperatureSample: single stratum at/under target keeps all") {
    val df = (1L to 40L).map(i => (i, "only")).toDF("id", "s")
    val kept = Sampling.temperatureSample(df, Seq("s"), col("id"),
      totalTarget = 40, seed = 4).count()
    assert(kept == 40L, s"single under-target stratum must keep all, got $kept")
  }

  test("quantileFilter: survivor count is EXACTLY n - floor(n*p/1000)") {
    // rank-based cut ⇒ exact survivor arithmetic, whatever the data —
    // pinned over several stratum sizes and permilles
    for ((n, p) <- Seq((1, 500), (7, 250), (40, 333), (100, 999), (13, 0))) {
      val df = (1L to n.toLong).map(i => (i, i * 37 % 11)).toDF("id", "m")
        .withColumn("g", lit("s"))
      val kept = Sampling.quantileFilter(df, Seq("g"), col("m"), col("id"), p)
        .count()
      assert(kept == n - (n * p / 1000),
        s"n=$n p=$p kept=$kept want=${n - (n * p / 1000)}")
    }
  }

  test("temperatureSample: total kept never exceeds ~target + quantization") {
    // every stratum's keep-rate threshold is derived from its √-share
    // of the budget, so the TOTAL kept is ≤ target + one bucket-quantum
    // per stratum (and strata under their target pass whole)
    val df = ((1L to 300L).map(i => (i, "a")) ++
      (5001L to 5100L).map(i => (i, "b")) ++
      (9001L to 9010L).map(i => (i, "c"))).toDF("id", "s")
    for (target <- Seq(50L, 150L, 400L)) {
      val kept = Sampling.temperatureSample(df, Seq("s"), col("id"),
        target, seed = 7).count()
      assert(kept <= (target * 13) / 10 + 3,
        s"target=$target kept=$kept — far over budget")
    }
  }

  test("shardOrder: partition of the input, contiguous 1-based seqs") {
    val df = (1L to 97L).map(i => (i, s"d$i")).toDF("id", "v")
    val out = Sampling.shardOrder(df, col("id"), nShards = 5, seed = 3)
      .select(col("id"), col("shard"), col("seq")).cache()
    // every input row appears exactly once, with its payload intact
    assert(out.count() == 97)
    assert(out.select("id").distinct().count() == 97)
    // within each shard, seq is exactly 1..n_shard
    val perShard = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("seq").as("lo"), max("seq").as("hi"),
        sum("seq").as("ssum"))
      .collect()
    assert(perShard.length == 5)
    perShard.foreach { r =>
      val n = r.getAs[Long]("n")
      assert(r.getAs[Int]("lo") == 1 && r.getAs[Int]("hi") == n.toInt &&
        r.getAs[Long]("ssum") == n * (n + 1) / 2,
        s"shard ${r.get(0)}: seq not contiguous 1..$n")
    }
    // determinism: the full (id, shard, seq) layout replays exactly
    def layout() = Sampling.shardOrder(df, col("id"), 5, 3)
      .select("id", "shard", "seq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(layout() == layout())
    out.unpersist()
  }

  test("hashSplit: partition into all splits, stable, ~proportional") {
    val df = (0L until 2000L).toDF("id")
    val out = Sampling.hashSplit(df, col("id"),
      Seq("train" -> 800, "val" -> 100, "test" -> 100))
    val counts = out.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.values.sum == 2000L)       // total partition, no loss
    assert(counts("train") > 1400 && counts("val") > 100 &&
      counts("test") > 100, s"badly skewed: $counts")
    // stability: same ids land in the same split on a re-run
    val again = Sampling.hashSplit(df, col("id"),
      Seq("train" -> 800, "val" -> 100, "test" -> 100))
    assert(out.collect().toSet == again.collect().toSet)
    // a subset keeps its assignment (corpus growth never reshuffles)
    val sub = Sampling.hashSplit(df.filter(col("id") < 100), col("id"),
      Seq("train" -> 800, "val" -> 100, "test" -> 100))
      .collect().toSet
    assert(sub.subsetOf(out.collect().toSet))
  }

  test("groupedSplit: a group never straddles splits; rows land whole") {
    val df = (0L until 900L)
      .map(i => (i, s"dom${i % 37}")).toDF("id", "domain")
    val out = Sampling.groupedSplit(df, col("domain"),
      Seq("train" -> 800, "val" -> 100, "test" -> 100), seed = 9)
    // the leak-free invariant: each domain maps to exactly one split
    val perDomain = out.groupBy("domain")
      .agg(countDistinct(col("split")).as("k"))
      .as[(String, Long)].collect()
    assert(perDomain.length == 37 && perDomain.forall(_._2 == 1L))
    assert(out.count() == 900L) // total partition, no loss
    // every doc of a domain carries the domain's assignment
    val m = out.select("domain", "split").distinct()
      .as[(String, String)].collect().toMap
    assert(m.size == 37)
  }

  test("prioritySample: exact k per stratum, heavy weights dominate, " +
      "global path equals brute force") {
    val df = (0L until 100L)
      .map(i => (i, if (i < 50) "a" else "b",
        if (i % 50 < 3) 1000000L else 1L)) // 3 heavy ids per stratum
      .toDF("id", "g", "w")
    val out = Sampling.prioritySample(df, Seq("g"), col("id"), col("w"),
      k = 5, seed = 17)
    val byG = out.as[(Long, String, Long)].collect().groupBy(_._2)
    assert(byG("a").length == 5 && byG("b").length == 5)
    // weight 10^6 shrinks priority a million-fold: heavies always win
    assert(byG("a").count(_._3 == 1000000L) == 3)
    assert(byG("b").count(_._3 == 1000000L) == 3)
    // global (no strata): equals the brute-force smallest (pri, id)
    val scale = Sampling.PriorityScale
    val brute = df.select(col("id"), col("w"),
        Sampling.idBucket(col("id"), 17).as("u"))
      .as[(Long, Long, Long)].collect()
      .map { case (id, w, u) => (scale * u / w, id) }
      .sorted.take(7).map(_._2).toSet
    val globalOut = Sampling.prioritySample(df, Nil, col("id"), col("w"),
      k = 7, seed = 17).select("id").as[Long].collect().toSet
    assert(globalOut == brute)
    // weight <= 0 = never selected (the w -> 0 limit), not nulls-first
    val withDead = df.withColumn("w",
      when(col("id") < 10, lit(0L)).otherwise(col("w")))
    val sel = Sampling.prioritySample(withDead, Seq("g"), col("id"),
      col("w"), k = 5, seed = 17).select("id").as[Long].collect()
    assert(sel.length == 10 && sel.forall(_ >= 10))
  }

  test("snapshotDiff edge inputs: identical snapshots all unchanged; " +
      "empty old is all added") {
    val snap = Seq((1L, "a"), (2L, "b")).toDF("id", "text")
    val same = Curation.snapshotDiff(snap, snap, "id",
        TextAnalysis.fingerprintMd5(col("text")))
      .select("status").distinct().as[String].collect().toSeq
    assert(same == Seq("unchanged"))
    val fromEmpty = Curation.snapshotDiff(snap.filter(col("id") < 0),
        snap, "id", TextAnalysis.fingerprintMd5(col("text")))
      .select("status").distinct().as[String].collect().toSeq
    assert(fromEmpty == Seq("added"))
  }

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    val oldSnap = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("id", "text")
    val newSnap = Seq((2L, "beta"), (3L, "GAMMA edited"), (4L, "delta"))
      .toDF("id", "text")
    val out = Curation.snapshotDiff(oldSnap, newSnap, "id",
        TextAnalysis.fingerprintMd5(col("text")))
      .select("id", "status").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("hashSplit rejects permilles that do not sum to 1000") {
    intercept[IllegalArgumentException] {
      Sampling.hashSplit((0L to 2L).toDF("id"), col("id"),
        Seq("a" -> 500, "b" -> 400))
    }
  }

  test("takeBudget: equals the maximal prefix of the global shuffled " +
      "order, across range counts and edge budgets") {
    val rows = (0L until 500L).map(i => (i, 1L + i % 37)) // cost 1..37
    val df = rows.toDF("id", "cost")
    // brute-force expected prefix in (bucket, id) order
    val order = df.select(col("id"), col("cost"),
        Sampling.idBucket(col("id"), 0).as("b"))
      .collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1)))
      .sortBy(t => (t._1, t._2))
    def expectedIds(budget: Long): Set[Long] = {
      var acc = 0L
      order.takeWhile { case (_, _, c) => acc += c; acc <= budget }
        .map(_._2).toSet
    }
    // 7 and 300 do NOT divide 1e6 — covers the ceiling-width path.
    for (budget <- Seq(0L, 5L, 1000L, 4000L, 1000000L);
         nRanges <- Seq(1, 7, 8, 256, 300)) {
      val got = Sampling.takeBudget(df, col("id"), col("cost"), budget,
          seed = 0, nRanges = nRanges)
        .select("id").as[Long].collect().toSet
      assert(got == expectedIds(budget), s"budget=$budget nRanges=$nRanges")
    }
  }

  test("ppsSystematic: equals the brute-force crossing walk in the " +
      "global shuffled order; heavy rows always selected; " +
      "selection count = total div step") {
    val rows = (0L until 400L).map(i =>
      (i, if (i == 123L) 5000L else 1L + i % 29)) // one heavy row
    val df = rows.toDF("id", "w")
    val order = df.select(col("id"), col("w"),
        Sampling.idBucket(col("id"), 0).as("b"))
      .collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1)))
      .sortBy(t => (t._1, t._2))
    val total = rows.map(_._2).sum
    for (nTarget <- Seq(10L, 50L, 200L); nRanges <- Seq(1, 7, 256)) {
      val step = total / nTarget
      var acc = 0L
      val expected = order.flatMap { case (_, id, w) =>
        val prev = acc; acc += w
        if (acc / step > prev / step) Some(id) else None
      }.toSet
      val got = Sampling.ppsSystematic(df, col("id"), col("w"),
          nTarget, seed = 0, nRanges = nRanges)
        .select("id").as[Long].collect().toSet
      assert(got == expected, s"nTarget=$nTarget nRanges=$nRanges")
      // the heavy row's weight exceeds every step here: never missed
      assert(got.contains(123L), s"heavy row missed at $nTarget")
    }
    // with every weight under the step, the realized count is exactly
    // total div step (a heavy row spanning j boundaries selects once,
    // absorbing j−1 slots — hence the separate uniform fixture)
    val uni = (0L until 300L).map(i => (i, 1L + i % 7)).toDF("id", "w")
    val uniTotal = (0L until 300L).map(i => 1L + i % 7).sum
    val uniGot = Sampling.ppsSystematic(uni, col("id"), col("w"),
      nTarget = 25L, seed = 0).count()
    assert(uniGot == uniTotal / (uniTotal / 25L),
      s"got $uniGot of ${uniTotal / (uniTotal / 25L)}")
    // total < nTarget refuses loudly
    val err = intercept[IllegalArgumentException] {
      Sampling.ppsSystematic(Seq((1L, 1L)).toDF("id", "w"),
        col("id"), col("w"), nTarget = 5L)
    }
    assert(err.getMessage.contains("total weight"))
  }

  test("dimensionStats: mean and variance per coordinate") {
    val emb = Seq((1L, Seq(1f, 3f)), (2L, Seq(3f, 3f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.dimensionStats(emb, "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).sortBy(_._1)
    assert(got.toSeq == Seq((0L, 2L, 2.0, 1.0), (1L, 2L, 3.0, 0.0)))
  }

  test("mixtureUpsample: whole copies exact, fractional share close, " +
      "weight<1000 downsamples, copy index is 1..reps") {
    val df = (0L until 1000L).toDF("id")
    // 2.5x: everyone gets 2 copies, ~half get a third
    val up = Sampling.mixtureUpsample(df, col("id"), lit(2500))
    val perDoc = up.groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(perDoc.size == 1000 && perDoc.values.forall(n => n == 2 || n == 3))
    val three = perDoc.values.count(_ == 3)
    assert(three > 400 && three < 600, s"fraction off: $three/1000")
    val copies = up.filter(col("id") === lit(perDoc.find(_._2 == 3).get._1))
      .select("copy").as[Long].collect().sorted
    assert(copies.sameElements(Array(1L, 2L, 3L)))
    // 0.3x: ~30% survive with exactly one copy; deterministic replay
    val down = Sampling.mixtureUpsample(df, col("id"), lit(300))
    val kept = down.select("id").as[Long].collect()
    assert(kept.length > 200 && kept.length < 400, s"${kept.length}")
    assert(kept.distinct.length == kept.length)
    val replay = Sampling.mixtureUpsample(df, col("id"), lit(300))
      .select("id").as[Long].collect()
    assert(kept.sorted.sameElements(replay.sorted))
  }

  test("waterFillBudget: max-min fair invariants hold against a " +
    "plain-Scala solver on random source profiles") {
    val rnd = new scala.util.Random(77)
    for (trial <- 1 to 6) {
      val n = 2 + rnd.nextInt(7)
      val totals = (0 until n)
        .map(i => (s"s$i", 1L + rnd.nextInt(5000).toLong))
      val (num, den) = (1L + rnd.nextInt(4).toLong, 5L)
      // rows: one row per (source, token chunk) so the corpus agg is real
      val rows = totals.flatMap { case (g, t) =>
        var left = t
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        while (left > 0) {
          val c = math.min(left, 1L + rnd.nextInt(700).toLong)
          out += ((g, c)); left -= c
        }
        out
      }
      val df = rows.toDF("source", "tok")
      val got = Sampling.waterFillBudget(df, "source", col("tok"), num, den)
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
      // plain-Scala reference: scan caps downward from max to find the
      // largest waterline fitting the budget
      val total = totals.map(_._2).sum
      val b = total * num / den
      def spend(c: Long): Long = totals.map(t => math.min(t._2, c)).sum
      val cap = if (spend(Long.MaxValue / 2) <= b) Long.MaxValue
        else (0L to totals.map(_._2).max).reverse.find(spend(_) <= b).get
      totals.foreach { case (g, t) =>
        val (nt, alloc, capped) = got(g)
        assert(nt == t, s"trial $trial source $g totals")
        val expect = math.min(t, cap)
        assert(alloc == expect,
          s"trial $trial $g: alloc=$alloc expect=$expect cap=$cap b=$b " +
            s"totals=$totals")
        // unfunded sources sit strictly above the waterline
        // (T_(K+1) > c), so capped <=> a real cut
        assert(capped == (alloc < t), s"trial $trial $g capped flag")
      }
      // budget respected, and no higher uniform waterline would fit
      val spent = got.values.map(_._2).sum
      assert(spent <= b, s"trial $trial overspent: $spent > $b")
    }
  }


  test("standardPipelineStaged: resumes from completed stages (gated " +
    "marker untouched) and equals the in-memory composition") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("curstage").toString
    def runStaged() = Curation.standardPipelineStaged(
      docs, Seq("lang"), "doc_id", col("text"),
      expr("ln(1 + n_chars)"), dropPermille = 100, totalTarget = 200,
      nShards = 4, stageDir = dir)
    val staged1 = runStaged().collect().map(_.toString).sorted.toSeq
    val direct = Curation.standardPipeline(
      docs, Seq("lang"), "doc_id", col("text"),
      expr("ln(1 + n_chars)"), dropPermille = 100, totalTarget = 200,
      nShards = 4)
    assert(staged1 == direct.collect().map(_.toString).sorted.toSeq)
    direct.unpersist(false)
    // simulate a crash AFTER the dedup stage: the final two stage
    // dirs vanish, the first two survive; a re-run must rebuild only
    // the missing tail and leave the finished markers untouched
    val gatedMarker = new java.io.File(s"$dir/gated/_SUCCESS")
    val dedupMarker = new java.io.File(s"$dir/deduped/_SUCCESS")
    assert(gatedMarker.exists && dedupMarker.exists)
    val (mt1, mt2) = (gatedMarker.lastModified, dedupMarker.lastModified)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$dir/sampled"))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$dir/sharded"))
    val staged2 = runStaged().collect().map(_.toString).sorted.toSeq
    assert(staged2 == staged1)
    assert(gatedMarker.lastModified == mt1 &&
      dedupMarker.lastModified == mt2,
      "finished stages were recomputed on resume")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("neymanSample: zero-variance stratum gets nothing, the budget " +
      "goes to the volatile one and caps at stratum size") {
    import spark.implicits._
    // A: 10 constant rows (σ=0 → weight 0); B: 10 spread rows
    val rows = (1L to 10L).map(i => ("A", i, 5.0)) ++
      (11L to 20L).map(i => ("B", i, (i * 17 % 100).toDouble))
    val df = rows.toDF("g", "id", "v")
    val kept6 = Sampling.neymanSample(df, Seq("g"), col("v"), col("id"),
        budget = 6, seed = 3)
      .groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept6.getOrElse("A", 0L) == 0L, s"got $kept6")
    assert(kept6("B") == 6L, s"got $kept6")
    // budget above the volatile stratum's size: saturates at 10,
    // σ=0 stratum still contributes nothing (documented undershoot)
    val kept20 = Sampling.neymanSample(df, Seq("g"), col("v"), col("id"),
        budget = 20, seed = 3)
      .groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept20.getOrElse("A", 0L) == 0L, s"got $kept20")
    assert(kept20("B") == 10L, s"got $kept20")
    // re-run = identical membership (pure id-hash function)
    val ids1 = Sampling.neymanSample(df, Seq("g"), col("v"), col("id"),
      budget = 6, seed = 3).select("id").collect().map(_.getLong(0)).sorted
    val ids2 = Sampling.neymanSample(df, Seq("g"), col("v"), col("id"),
      budget = 6, seed = 3).select("id").collect().map(_.getLong(0)).sorted
    assert(ids1.toSeq == ids2.toSeq)
  }

  test("neymanSample: when EVERY stratum is degenerate (all σ=0) the " +
      "allocation is zero — the remainder pass must not hand out the " +
      "budget in key order (ADVICE r8)") {
    import spark.implicits._
    // three constant strata: weight 0 each, total weight 0
    val rows = (1L to 5L).map(i => ("A", i, 1.0)) ++
      (6L to 10L).map(i => ("B", i, 2.0)) ++
      (11L to 15L).map(i => ("C", i, 3.0))
    val kept = Sampling.neymanSample(rows.toDF("g", "id", "v"),
      Seq("g"), col("v"), col("id"), budget = 4, seed = 1)
    assert(kept.count() == 0L,
      "σ = 0 ⇒ weight 0 ⇒ no allocation, for every stratum")
  }

  test("kishEss: equal weights cost nothing; a 3:1 split pays the " +
    "hand-computed design effect; non-positive weights abstain") {
    import spark.implicits._
    val eq = Seq(5L, 5L, 5L, 5L).toDF("w")
    val e = Sampling.kishEss(eq, col("w")).collect()(0)
    assert(e.getAs[Double]("n_eff") == 4.0)
    assert(e.getAs[Double]("design_effect") == 1.0)
    // weights {3,1,1,1}: n_eff = 36/12 = 3; deff = 4·12/36 = 1.333333
    val sk = Seq(3L, 1L, 1L, 1L).toDF("w")
    val s = Sampling.kishEss(sk, col("w")).collect()(0)
    assert(s.getAs[Long]("sum_w") == 6L)
    assert(s.getAs[Double]("n_eff") == 3.0, s"got $s")
    assert(s.getAs[Double]("design_effect") == 1.333333)
    val bad = Seq(1L, 0L).toDF("w")
    val b = Sampling.kishEss(bad, col("w")).collect()(0)
    assert(b.isNullAt(b.fieldIndex("n_eff")))
  }

  test("targetMixturePlan: the binding stratum sets N*; an empty " +
    "recipe stratum pins the plan to zero") {
    import spark.implicits._
    // avail a=10, b=100; 50/50 recipe → caps 20/200 → N*=20
    val df = ((1 to 10).map(i => (s"r$i", "a")) ++
      (1 to 100).map(i => (s"s$i", "b"))).toDF("id", "src")
    val got = Sampling.targetMixturePlan(df, "src",
      Seq("a" -> 500000L, "b" -> 500000L))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("a").getAs[Long]("n_take") == 10L)
    assert(got("b").getAs[Long]("n_take") == 10L)
    assert(got("a").getAs[Long]("utilization_ppm") == 1000000L)
    assert(got("b").getAs[Long]("utilization_ppm") == 100000L)
    assert(got("a").getAs[Boolean]("binding"))
    assert(!got("b").getAs[Boolean]("binding"))
    // a recipe stratum with no rows: N* = 0, visibly binding
    val z = Sampling.targetMixturePlan(df, "src",
      Seq("a" -> 500000L, "zz" -> 500000L))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(z("zz").getAs[Long]("n_avail") == 0L)
    assert(z("a").getAs[Long]("n_take") == 0L)
    assert(z("zz").getAs[Boolean]("binding"))
  }
}
