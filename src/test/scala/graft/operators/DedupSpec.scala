package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpecBase

/** Dedup-family invariants:
  *  - prefix-filtered n-gram pairs EQUAL the brute-force Jaccard join
  *    (the completeness claim the oracle gate relies on);
  *  - hashed shingles preserve set cardinalities;
  *  - MinHash matches an independent Scala reimplementation;
  *  - LSH band math rejects non-divisible configurations.
  */
class DedupSpec extends SparkSpecBase {

  private val vocab = Vector("alpha", "beta", "gamma", "delta")

  /** Overlap-heavy corpus: random short docs over a 4-word vocabulary,
    * plus mutated near-copies of the first few docs, so every threshold
    * level has qualifying pairs. */
  private def corpus(seed: Long, nDocs: Int): Seq[(Long, String)] = {
    val g = for {
      len <- Gen.choose(3, 10)
      ws <- Gen.listOfN(len, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val base = (0 until nDocs).map { i =>
      (i.toLong,
        g.apply(Gen.Parameters.default, Seed(seed + i)).getOrElse("alpha"))
    }
    val nearDups = base.take(5).map { case (i, t) =>
      (i + nDocs, t + " alpha")
    }
    base ++ nearDups
  }

  private def docsDf(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (i, t) => Row(i, t) }, 3),
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))

  /** brute-force exact pairs over string shingles */
  private def brute(docs: DataFrame, t: Double): Set[(Long, Long, Double)] = {
    val sh = Dedup.shingleFrame(docs, "doc_id", col("text"))
    val out = sh.select(col("__id").as("a"), col("__sh").as("sa"))
      .crossJoin(sh.select(col("__id").as("b"), col("__sh").as("sb")))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), Dedup.jaccard(col("sa"), col("sb")).as("j"))
      .filter(col("j") >= t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    sh.unpersist()
    out
  }

  test("ngramJaccardPairs equals brute force for several thresholds") {
    for ((seed, t) <- Seq((11L, 0.2), (23L, 0.5), (37L, 0.8))) {
      val docs = docsDf(corpus(seed, 40))
      val got = Dedup.ngramJaccardPairs(docs, "doc_id", col("text"), t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = brute(docs, t)
      assert(got == want, s"seed=$seed t=$t: got ${got.size}, want ${want.size}")
      assert(want.nonEmpty || t > 0.5, s"degenerate case seed=$seed t=$t")
    }
  }

  test("hashed shingles preserve per-doc set size") {
    val docs = docsDf(corpus(5L, 30))
    val s1 = Dedup.shingleFrame(docs, "doc_id", col("text"))
      .select(col("__id"), size(col("__sh")).as("n"))
    val s2 = Dedup.hashedShingleFrame(docs, "doc_id", col("text"))
      .select(col("__id"), size(col("__sh")).as("n"))
    assert(s1.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      == s2.collect().map(r => (r.getLong(0), r.getInt(1))).toSet)
  }

  test("portable MinHash matches independent Scala model") {
    val text = "alpha beta gamma alpha beta gamma delta"
    val docs = docsDf(Seq((1L, text)))
    val sig = Dedup.minhashSignatures(docs, "doc_id", col("text"),
      numHashes = 8)
      .collect()(0).getSeq[Long](1)
    // independent model: same shingles, polynomial hash, affine family
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val shingles = toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
    def poly(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % Dedup.PortableMod)
    val want = (0 until 8).map { i =>
      shingles.map(s =>
        (poly(s) * Dedup.affineA(i) + Dedup.affineB(i)) % Dedup.PortableMod).min
    }
    assert(sig == want)
  }

  test("lshBanding picks widest bands whose S-curve midpoint <= t") {
    // midpoint (1/b)^(1/r): 8x8 -> 0.771, 16x4 -> 0.5, 32x2 -> 0.177
    assert(Dedup.lshBanding(64, 0.8) == 8)
    assert(Dedup.lshBanding(64, 0.5) == 16)
    assert(Dedup.lshBanding(64, 0.2) == 32)
    assert(Dedup.lshBanding(64, 0.01) == 64) // no r qualifies -> r=1
    // 16 hashes at t=0.5: 4x4 midpoint 0.707 > t, 8x2 midpoint 0.354 ok
    assert(Dedup.lshBanding(16, 0.5) == 8)
  }

  test("pair operators release their corpus caches (r2 advice)") {
    spark.catalog.clearCache() // drop caches owned by earlier tests
    val docs = docsDf(corpus(13L, 30))
    for (mk <- Seq(
        () => Dedup.minhashNearDupPairs(docs, "doc_id", col("text"),
          threshold = 0.8),
        () => Dedup.ngramJaccardPairs(docs, "doc_id", col("text"), 0.8))) {
      val pairs = mk()
      pairs.count() // consume
      pairs.unpersist(true)
      val lingering = spark.sparkContext.getPersistentRDDs
      assert(lingering.isEmpty,
        s"cached RDDs leaked: ${lingering.values.map(_.name).mkString(",")}")
    }
  }

  test("lshCandidatePairs rejects numHashes not divisible by bands") {
    val docs = docsDf(corpus(7L, 5))
    val sigs = Dedup.minhashSignatures(docs, "doc_id", col("text"),
      numHashes = 10)
    assertThrows[IllegalArgumentException] {
      Dedup.lshCandidatePairs(sigs, "doc_id", numHashes = 10, bands = 3)
    }
  }

  test("simhash produces one non-degenerate hash per doc") {
    val rows = corpus(9L, 10)
    val docs = docsDf(rows)
    val out = Dedup.simhash(docs, "doc_id", col("text"))
      .collect().map(_.getLong(1))
    assert(out.length == rows.size)
    assert(out.distinct.length > 1, "degenerate simhash output")
  }

  /** Adversarial unicode corpus for the native-kernel equivalence
    * properties: multi-codepoint characters (emoji = surrogate pairs
    * in UTF-16 — `codePointAt`/`charCount` walking must agree with
    * `split`/`ascii` semantics), CJK, combining marks, punctuation
    * runs, numbers, repeated/odd whitespace (tabs, multiple spaces —
    * the tokenizer must collapse identically), and token counts
    * straddling the shingle width (0..6 tokens around shingleSize 3).
    */
  private def unicodeCorpus(seed: Int): Seq[(Long, String)] = {
    val pool = Vector("héllo", "wörld", "日本語", "数据", "🙂", "🚀🌕",
      "étude", "a", "bb", "x9", "42", "!!", "a-b", "ß", "Ω",
      "😀mix", "tab nb")
    val rnd = new scala.util.Random(seed)
    (0 until 60).map { i =>
      val n = rnd.nextInt(7) // 0..6 tokens
      val seps = Vector(" ", "  ", "\t", " \t ")
      val text = (0 until n)
        .map(_ => pool(rnd.nextInt(pool.size)))
        .mkString(seps(rnd.nextInt(seps.size)))
      (i.toLong, text)
    }
  }

  test("native kernels match the column formulations on an adversarial " +
      "unicode corpus (surrogate pairs, odd whitespace, short docs)") {
    val docs = docsDf(unicodeCorpus(1234))
    // SimHash: native expression vs explode+groupBy
    val perRow = Dedup.simhash(docs, "doc_id", col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val witness = Dedup.simhashViaGroupBy(docs, "doc_id", col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(perRow == witness, "simhash")
    // MinHash: fused token-array kernel vs explode+groupBy(min)
    for (shingleSize <- Seq(1, 3, 4); numHashes <- Seq(16)) {
      val fused = Dedup.minhashSignatures(docs, "doc_id", col("text"),
          numHashes = numHashes, shingleSize = shingleSize)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val exploded = docs
        .select(col("doc_id"),
          explode(Dedup.shingles(col("text"), shingleSize)).as("__s"))
        .withColumn("__h", Dedup.polyHash(col("__s")))
      val mins = (0 until numHashes).map(i =>
        min(pmod(col("__h") * Dedup.affineA(i) + Dedup.affineB(i),
          lit(Dedup.PortableMod))).as(s"h$i"))
      val witness = exploded.groupBy(col("doc_id"))
        .agg(mins.head, mins.tail: _*)
        .select(col("doc_id"),
          array((0 until numHashes).map(i => col(s"h$i")): _*)
            .as("signature"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(fused == witness, s"minhash shingleSize=$shingleSize")
    }
  }

  test("per-row portable MinHash signatures are value-identical to the " +
      "explode+groupBy formulation and plan without an exchange") {
    val fixture = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val docs = fixture.select(col("doc_id"), col("text"))
      .unionAll(docsDf(Seq((100000L, "a"), (100001L, "one two three four"))))
    for (numHashes <- Seq(10, 64)) {
      val perRow = Dedup.minhashSignatures(docs, "doc_id", col("text"),
          numHashes = numHashes)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      // witness: the explode → groupBy(min) formulation, the affine
      // arithmetic reproduced through the public helpers
      val exploded = docs
        .select(col("doc_id"),
          explode(Dedup.shingles(col("text"), 3)).as("__s"))
        .withColumn("__h", Dedup.polyHash(col("__s")))
      val mins = (0 until numHashes).map(i =>
        min(pmod(col("__h") * Dedup.affineA(i) + Dedup.affineB(i),
          lit(Dedup.PortableMod))).as(s"h$i"))
      val viaGroupBy = exploded.groupBy(col("doc_id"))
        .agg(mins.head, mins.tail: _*)
        .select(col("doc_id"),
          array((0 until numHashes).map(i => col(s"h$i")): _*)
            .as("signature"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(perRow == viaGroupBy, s"numHashes=$numHashes")
    }
    val plan = Dedup.minhashSignatures(docs, "doc_id", col("text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"per-row minhash must not shuffle:\n$plan")
  }

  test("per-row simhash is value-identical to the groupBy formulation " +
      "(fixture + empty-doc edge)") {
    // real corpus + an all-whitespace doc (must be DROPPED by both
    // formulations: no tokens ⇒ no simhash row)
    val fixture = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val edge = docsDf(Seq((100000L, "   \t  "), (100001L, "one token")))
      .select(col("doc_id"), col("text"))
    val docs = fixture.unionAll(edge)
    val perRow = Dedup.simhash(docs, "doc_id", col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaGroupBy = Dedup.simhashViaGroupBy(docs, "doc_id", col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(perRow == viaGroupBy)
    assert(!perRow.contains(100000L), "empty-token doc must be dropped")
    assert(perRow.contains(100001L))
    // and the per-row plan has no exchange: the fold runs in the scan
    // stage (the 100 TB contract this formulation exists for)
    val plan = Dedup.simhash(docs, "doc_id", col("text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"per-row simhash must not shuffle:\n$plan")
  }
  // both execution paths must agree: driver union-find (small graphs)
  // and distributed label propagation (localThreshold = 0 forces it)
  for ((label, threshold) <- Seq(("local union-find", 1L << 20),
                                 ("distributed propagation", 0L)))
    test(s"connectedComponents ($label): transitive chains collapse to min label") {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      // chain {1,5,3} via (1,5),(3,5); separate pair {7,8}; and a long
      // path 10-11-...-19 (diameter 9 — propagation must still converge)
      val path = (10L until 19L).map(i => (i, i + 1))
      val pairs = (Seq((1L, 5L), (3L, 5L), (7L, 8L)) ++ path).toDF("a", "b")
      val got = Dedup.connectedComponents(pairs, localThreshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got(1L) == 1L && got(3L) == 1L && got(5L) == 1L)
      assert(got(7L) == 7L && got(8L) == 7L)
      (10L to 19L).foreach(i => assert(got(i) == 10L, s"node $i"))
      assert(got.size == 15)
    }

  test("fuzzyPairsEditDistance: blocked join equals brute force on " +
    "substitution, insertion, and deletion cases") {
    import spark.implicits._
    import org.apache.spark.sql.functions.levenshtein
    val vals = Seq("cat", "car", "cart", "at", "dog", "dig", "dogs",
      "elephant", "elephants", "banana", "bandana", "x", "", "xy")
    val df = vals.toDF("v")
    val got = Dedup.fuzzyPairsEditDistance(df, col("v"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val expected = df.as("a").crossJoin(df.withColumnRenamed("v", "w"))
      .filter(col("v") < col("w") && levenshtein(col("v"), col("w")) <= 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
    assert(got.contains(("car", "cat")))      // substitution
    assert(got.contains(("car", "cart")))     // insertion at end
    assert(got.contains(("at", "cat")))       // insertion at front
    assert(got.contains(("", "x")))           // empty-string edge
  }

  test("incrementalExact: in-batch keep-min-id, then history anti-join") {
    import spark.implicits._
    val batch = Seq((10L, "AA"), (12L, "aa"), (14L, "BB"), (16L, "CC"))
      .toDF("doc_id", "text") // 10/12 duplicate under normalization
    val history = Seq("bb").toDF("t")
      .select(TextAnalysis.fingerprintMd5(col("t")).as("fp"))
    val out = Dedup.incrementalExact(batch, history, "doc_id", col("text"))
      .select("doc_id").as[Long].collect().toSet
    // 12 drops (in-batch dup of 10), 14 drops (fingerprint in history)
    assert(out == Set(10L, 16L))
  }

  test("incrementalExactBloom equals incrementalExact, even at a " +
      "pathological false-positive rate") {
    import spark.implicits._
    val batch = (0L until 60L).map(i => (i, s"doc number $i body"))
      .toDF("doc_id", "text")
    val history = (0L until 60L by 4L).map(i => s"doc number $i body")
      .toDF("t").select(TextAnalysis.fingerprintMd5(col("t")).as("fp"))
    val expected = Dedup
      .incrementalExact(batch, history, "doc_id", col("text"))
      .select("doc_id").as[Long].collect().toSet
    assert(expected == (0L until 60L).filter(_ % 4 != 0).toSet)
    // bits=128 forces bloom false positives (60 digests × 5 hashes on
    // 128 bits); the verify join must remove every one of them.
    for (bits <- Seq(128, 1 << 16)) {
      val got = Dedup.incrementalExactBloom(batch, history, "doc_id",
          col("text"), bits = bits, numHashes = 5)
        .select("doc_id").as[Long].collect().toSet
      assert(got == expected, s"bits=$bits")
    }
  }

  test("incrementalExactBloom: empty history keeps the whole " +
      "deduped batch without touching the anti-join") {
    import spark.implicits._
    val batch = Seq((1L, "x"), (2L, "X "), (3L, "y")).toDF("doc_id", "text")
    val history = Seq.empty[String].toDF("t")
      .select(TextAnalysis.fingerprintMd5(col("t")).as("fp"))
    val got = Dedup.incrementalExactBloom(batch, history, "doc_id",
        col("text"), bits = 128).select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 3L)) // 2 is an in-batch dup of 1 (normalized)
  }

  // string ids must work identically on BOTH paths (ADVICE r3: the
  // local path used to cast ids to long, nulling out strings)
  for ((label, threshold) <- Seq(("local union-find", 1L << 20),
                                 ("distributed propagation", 0L)))
    test(s"connectedComponents ($label): string ids, lexicographic min label") {
      import spark.implicits._
      val pairs = Seq(("docB", "docE"), ("docC", "docE"), ("docX", "docY"))
        .toDF("a", "b")
      val got = Dedup.connectedComponents(pairs, localThreshold = threshold)
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(got == Map("docB" -> "docB", "docC" -> "docB",
        "docE" -> "docB", "docX" -> "docX", "docY" -> "docX"))
    }

  test("windowDupStats matches brute-force window counting") {
    import spark.implicits._
    val width = 10
    val stride = 4
    val rows = Seq(
      (1L, "abcdefghijabcdefghijabcdefghij"), // internal repeats
      (2L, "abcdefghijabcdefghijXYZ"),        // shares windows with 1
      (3L, "tiny"),                           // shorter than width
      (4L, "tiny"),                           // exact dup of 3
      (5L, "a wholly distinct document with no repeats 0123456789"))
    // brute force, mirroring sequence(1, max(len-width+1, 1), stride)
    val wins = rows.flatMap { case (id, t) =>
      val stop = math.max(t.length - (width - 1), 1)
      (1 to stop by stride).map { p =>
        (id, t.substring(p - 1, math.min(p - 1 + width, t.length)))
      }
    }
    val freq = wins.groupBy(_._2).view.mapValues(_.size).toMap
    val nDocs = wins.groupBy(_._2).view
      .mapValues(_.map(_._1).distinct.size).toMap
    val expected = wins.groupBy(_._1).map { case (id, ws) =>
      (id, ws.size.toLong, ws.count(w => freq(w._2) > 1).toLong,
        ws.count(w => nDocs(w._2) > 1).toLong)
    }.toSet
    assert(expected.exists(_._3 > 0) && expected.exists(_._4 > 0))
    val got = Dedup.windowDupStats(rows.toDF("doc_id", "text"),
        "doc_id", col("text"), width, stride)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === expected)
  }

  test("cdcChunks edge inputs: empty text is one empty chunk; " +
      "divisor-1 window text is whole") {
    import spark.implicits._
    val got = Seq((1L, ""), (2L, "abcdefg")) // len 7 < window 8
      .toDF("id", "text")
      .select(col("id"), Dedup.cdcChunks(col("text"), 8, 16).as("ch"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) == Seq(""))
    assert(got(2L) == Seq("abcdefg"))
  }

  test("shingleNovelty: first wave fully novel, repeats decay, " +
      "disjoint waves stay at 1.0") {
    import spark.implicits._
    val rows = Seq(
      (0L, "alpha beta gamma delta"),  // wave 0: 2 shingles, all novel
      (1L, "alpha beta gamma epsilon"), // wave 1: 2 shingles, 1 repeat
      (2L, "wholly new words here now") // wave 2: untouched vocabulary
    ).toDF("wave", "text")
    val got = Dedup.shingleNovelty(rows, col("wave"), col("text"),
        shingleSize = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(0L) == ((2L, 2L, 1.0)))
    assert(got(1L) == ((2L, 1L, 0.5))) // "alpha beta gamma" seen in 0
    assert(got(2L) == ((3L, 3L, 1.0)))
  }

  test("sourceOverlap: exact pairwise Jaccard in ppm, ordered pairs, " +
      "zero-overlap pairs absent") {
    import spark.implicits._
    // s1: shingles {ab g, bg d} via 3-word shingling of 4 tokens;
    // easier to reason per doc: each doc of 4 tokens -> 2 shingles
    val rows = Seq(
      ("s1", "alpha beta gamma delta"), // {abg, bgd}
      ("s2", "alpha beta gamma epsilon"), // {abg, bge}
      ("s3", "wholly new words here") // disjoint
    ).toDF("source", "text")
    val got = Dedup.sourceOverlap(rows, col("source"), col("text"),
        shingleSize = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // s1 ∩ s2 = {abg}: 1 of 3 distinct -> 333333 ppm
    assert(got(("s1", "s2")) == ((2L, 2L, 1L, 333333L)))
    assert(got.size == 1) // s3 pairs share nothing -> absent
  }

  test("cdcChunks: lossless partition, boundary brute-force match, " +
      "edit locality, short docs whole") {
    import spark.implicits._
    def poly(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31 + c) % 1000000007L)
    // deterministic pseudo-random text long enough for several cuts
    val base = (1 to 400).map(i => ('a' + (i * 37 % 26)).toChar).mkString
    val edited = base.substring(0, 200) + "INSERTED!" + base.substring(200)
    val rows = Seq((1L, base), (2L, edited), (3L, "tiny")).toDF("id", "text")
    val got = rows
      .select(col("id"), Dedup.cdcChunks(col("text"), 8, 16).as("ch"))
      .as[(Long, Seq[String])].collect().toMap
    // 1) chunks concatenate back to the exact original
    assert(got(1L).mkString == base)
    assert(got(2L).mkString == edited)
    assert(got(3L) == Seq("tiny")) // shorter than the window: whole doc
    // 2) boundaries equal the brute-force cut rule
    val cuts = (8 to base.length)
      .filter(i => poly(base.substring(i - 8, i)) % 16 == 0)
    val expected = (0 +: cuts).zip(cuts :+ base.length)
      .collect { case (s, e) if e > s => base.substring(s, e) }
    assert(cuts.nonEmpty, "test text produced no cuts — weak fixture")
    assert(got(1L).toList == expected.toList)
    // 3) edit locality: chunks fully outside the edit neighborhood
    //    survive the insertion (content-defined, not offset-defined)
    val shared = got(1L).toSet intersect got(2L).toSet
    assert(shared.nonEmpty, "an insertion destroyed every chunk")
  }

  test("minhashEstimatorAudit: identical docs audit to zero error") {
    import spark.implicits._
    // identical pair → identical signatures AND identical shingle
    // sets: estimate and exact Jaccard are both 1.0, so every error
    // statistic must be exactly zero; the unrelated doc shares no
    // band bucket and contributes no pair
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again"),
      (3L, "completely different content with no overlap at all here"))
      .toDF("doc_id", "text")
    val r = Dedup.minhashEstimatorAudit(docs, "doc_id",
      org.apache.spark.sql.functions.col("text"))
      .collect()(0)
    assert(r.getLong(0) == 1L, s"expected exactly the identical pair: $r")
    assert(r.getDouble(1) == 0.0 && r.getDouble(2) == 0.0 &&
      r.getDouble(3) == 0.0, s"non-zero error on identical docs: $r")
  }

  test("lshSCurveAudit: crafted pairs land in their integer bins, an " +
      "identical pair is always detected, and the theory column is " +
      "the exact fold-chain value") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // doc1/doc3 identical (J = 1 → bin 19); doc1–doc2 and doc2–doc3
    // share 3 of 5 distinct 3-token shingles (J = 0.6 → bin
    // (3·20) div 5 = 12); doc4 is unrelated (below the 0.4 floor)
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "b c d e f g"),
      (3L, "a b c d e f"),
      (4L, "zz yy xx ww vv uu")).toDF("doc_id", "text")
    val rows = Dedup.lshSCurveAudit(docs, "doc_id", col("text"))
      .collect().map(r => r.getAs[Int]("bin") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_detected"),
          r.getAs[Double]("detect_rate"), r.getAs[Double]("theory"),
          r.getAs[Double]("s_mid")))).toMap
    def theory(bin: Int): Double = {
      val s = (bin + 0.5) / 20
      val s4 = ((s * s) * s) * s
      val u = 1.0 - s4
      val u16 = (1 until 16).foldLeft(u)((a, _) => a * u)
      BigDecimal(1.0 - u16)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(rows.keySet == Set(12, 19), s"bins: $rows")
    val (n19, d19, dr19, t19, _) = rows(19)
    assert(n19 == 1L && d19 == 1L && dr19 == 1.0,
      s"identical pair must always be detected: $rows")
    assert(t19 == theory(19), s"theory(19): $rows")
    val (n12, d12, _, t12, s12) = rows(12)
    assert(n12 == 2L, s"two J=0.6 pairs expected: $rows")
    assert(d12 >= 0L && d12 <= 2L)
    assert(t12 == theory(12), s"theory(12): $rows")
    assert(s12 == 0.625)
  }
}
