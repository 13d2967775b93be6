package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpecBase

class TextAnalysisSpec extends SparkSpecBase {

  private def redact(s: String): String = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(s)), 1),
      StructType(Seq(StructField("t", StringType))))
    df.select(TextAnalysis.redactPii(col("t"))).collect()(0).getString(0)
  }

  test("induceVocab ranks count-desc then token-asc; encode keeps " +
    "order and maps OOV to unk") {
    import spark.implicits._
    val docs = Seq((1L, "b b a a c"), (2L, "a b d"))
      .toDF("doc_id", "text")
    // counts: a=3, b=3, c=1, d=1 → vocab(3): a→0, b→1, c→2; d is OOV
    val vocab = TextAnalysis.induceVocab(docs, col("text"), 3)
    val ids = vocab.collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(ids == Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
    val enc = TextAnalysis
      .encodeDocs(docs, "doc_id", col("text"), vocab, unkId = 3L)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    assert(enc(1L) == Seq(1L, 1L, 0L, 0L, 2L),
      "positional order must survive the reassembly shuffle")
    assert(enc(2L) == Seq(0L, 1L, 3L), "OOV token must encode as unk")
  }

  test("redactPii scrubs emails, phones, and IPs with placeholders") {
    assert(redact("mail a.b+c@ex-ample.co.uk now")
      == "mail <EMAIL> now")
    assert(redact("call +1 (555) 123-4567 today")
      == "call <PHONE> today")
    assert(redact("srv at 192.168.001.1 up") == "srv at <IP> up")
    assert(redact("x@y.io or 10.0.0.7 or +44 20 7946 0958")
      == "<EMAIL> or <IP> or <PHONE>")
  }

  test("redactPii leaves clean text and short digit runs alone") {
    assert(redact("a plain sentence with 42 and 3.14 in it")
      == "a plain sentence with 42 and 3.14 in it")
  }

  test("removeBoilerplateSegments drops corpus-frequent segments; " +
    "all-boilerplate docs vanish") {
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "the quick fox jumps over dogs"),
        Row(2L, "the quick fox likes warm sun"),
        Row(3L, "the quick fox")), 2),
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
    val kept = TextAnalysis
      .removeBoilerplateSegments(docs, "doc_id", col("text"),
        segTokens = 3, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    // "the quick fox" occurs in all 3 docs (df=3 > maxDf=2) → dropped
    // everywhere; doc 3 was ALL boilerplate and vanishes entirely.
    assert(kept == Set(1L -> "jumps over dogs", 2L -> "likes warm sun"))
  }

  test("bm25Retrieve: inverted-index top-k per query, set semantics") {
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "x x y"), Row(2L, "x y"), Row(3L, "z z z z"),
        Row(4L, "w q")), 2),
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
    val qs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(10L, "x y x"), Row(20L, "z")), 1),
      StructType(Seq(
        StructField("qid", LongType), StructField("qtext", StringType))))
    val out = TextAnalysis.bm25Retrieve(docs, "doc_id", col("text"),
        qs, "qid", col("qtext"), k = 3)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(4)) ->
        (r.getLong(1), r.getLong(2))).toMap
    out.unpersist()
    // query 10 ("x y x" — duplicate x scores ONCE): docs 1 and 2 match
    // both terms; doc 1's higher tf(x) beats doc 2's shorter length.
    assert(rows((10L, 1L)) == (1L, 2L))
    assert(rows((10L, 2L)) == (2L, 2L))
    // query 20: only doc 3 contains z.
    assert(rows((20L, 1L)) == (3L, 1L))
    assert(rows.size == 3) // non-matching docs never surface
  }

  test("bm25Retrieve edge inputs: unmatched query absent, empty corpus") {
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "x y")), 1),
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
    val qs = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(1L, "x"), Row(2L, "nomatch")), 1),
      StructType(Seq(
        StructField("qid", LongType), StructField("qtext", StringType))))
    val out = TextAnalysis.bm25Retrieve(docs, "doc_id", col("text"),
      qs, "qid", col("qtext"), k = 3)
    val qids = out.collect().map(_.getLong(0)).toSet
    out.unpersist()
    assert(qids == Set(1L)) // the unmatched query yields no rows
    val emptyCorpus = docs.filter(col("doc_id") < 0)
    val out2 = TextAnalysis.bm25Retrieve(emptyCorpus, "doc_id",
      col("text"), qs, "qid", col("qtext"), k = 3)
    assert(out2.count() == 0)
    out2.unpersist()
  }

  test("bm25TopK: saturation and length normalization hold") {
    // doc 1: "x x y" — tf(x)=2; doc 2: "x y" — tf(x)=1; doc 3 pads df.
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "x x y"), Row(2L, "x y"), Row(3L, "z z z z")), 2),
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
    val out = TextAnalysis.bm25TopK(docs, "doc_id", col("text"), k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(4)).toMap
    // saturation: tf 2 vs 1 for the same term must score LESS than 2×
    val s1 = out((1L, "x")); val s2 = out((2L, "x"))
    assert(s1 > s2, "higher tf must score higher")
    assert(s1 < 2 * s2, s"saturation violated: $s1 vs 2*$s2")
    // every score positive (the +1 idf form never goes negative, even
    // for terms appearing in most docs)
    out.values.foreach(v => assert(v > 0))
  }

  test("distributionDivergence: exact rational TVD vs hand computation") {
    // A: "a a b" (p = a:2/3, b:1/3); B: "b c" (p = b:1/2, c:1/2);
    // corpus q = (a:2/5, b:2/5, c:1/5).
    // TVD_A = ½(|2/3−2/5| + |1/3−2/5| + 1/5) = 4/15 = 8/30
    // TVD_B = ½(2/5 + |1/2−2/5| + |1/2−1/5|) = 2/5 = 8/20
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("A", "a a b"), Row("B", "b c")), 2),
      StructType(Seq(
        StructField("src", StringType), StructField("text", StringType))))
    val got = TextAnalysis.distributionDivergence(docs, "src", col("text"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map("A" -> ((3L, 8L, 30L)), "B" -> ((2L, 8L, 20L))))
  }

  test("distributionDivergence: a lone group has zero distance") {
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("only", "x y x z")), 1),
      StructType(Seq(
        StructField("src", StringType), StructField("text", StringType))))
    val r = TextAnalysis.distributionDivergence(docs, "src", col("text"))
      .collect().head
    assert(r.getLong(2) == 0L && r.getLong(1) == 4L)
  }

  test("bpeMerges learns the hand-computed merge table and stops dry") {
    import spark.implicits._
    // words: aaab ×2, aab ×1 → round 1 merges (a,a) freq 5; round 2
    // tie (aa,a)=2 vs (a,b)=2 breaks to the binary-smaller left
    // symbol; rounds 3-4 drain the rest; round 5 has no pairs left
    val docs = Seq("aaab aaab aab").toDF("text")
    val got = TextAnalysis.bpeMerges(docs, col("text"), nMerges = 6)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "a", "a", "aa", 5L),
      (2L, "a", "b", "ab", 2L),
      (3L, "aa", "ab", "aaab", 2L),
      (4L, "aa", "b", "aab", 1L)))
  }

  test("bpeMerges applies merges greedily left-to-right within runs") {
    import spark.implicits._
    // 'a a a a' + merge (a,a) must become 'aa aa' (greedy pairing),
    // NOT 'aa a a' — pins the double-replace application on the JVM
    val docs = Seq("aaaa").toDF("text")
    val got = TextAnalysis.bpeMerges(docs, col("text"), nMerges = 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(4)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a", "a", 3L), (2L, "aa", "aa", 1L)))
  }

  test("bpeTrain: the driver fast path is bit-identical to the " +
    "distributed merge loop — merges AND segmented dict") {
    import spark.implicits._
    val docs = Seq("aaab aaab aab xyz xy", "xy xy zebra aab")
      .toDF("text")
    def run(bound: Long) = {
      val (m, d) = TextAnalysis.bpeTrain(docs, col("text"),
        nMerges = 5, maxDictDriver = bound)
      val ms = m.collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getString(3), r.getLong(4))).sortBy(_._1).toSeq
      val ds = d.collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2))).sortBy(_._1).toSeq
      d.unpersist(false)
      (ms, ds)
    }
    val fast = run(bound = TextAnalysis.MaxBpeDictDriver)
    val dist = run(bound = 0L) // dict never fits → distributed rounds
    assert(fast._1 == dist._1, s"merge tables diverged:\n${fast._1}\n${dist._1}")
    assert(fast._2 == dist._2, s"segmented dicts diverged:\n${fast._2}\n${dist._2}")
  }

  test("bpeSubwordStats encodes via the trained segmented dict") {
    import spark.implicits._
    // after 2 merges ((a,a) then (a,b)): aaab → [aa, ab], aab → [aa, b]
    val docs = Seq(("s1", "aaab aaab aab")).toDF("source", "text")
    val (_, dict) = TextAnalysis.bpeTrain(docs, col("text"), nMerges = 2)
    val r = TextAnalysis.bpeSubwordStats(docs, "source", col("text"),
      dict).collect()
    dict.unpersist(false)
    assert(r.length == 1)
    assert((r(0).getString(0), r(0).getLong(1), r(0).getLong(2),
      r(0).getLong(3), r(0).getLong(4)) == (("s1", 3L, 6L, 0L, 11L)))
  }

  test("vocabCoverage: exact cumulative ppm at the marks, tie-broken " +
      "ranks, marks beyond the vocabulary absent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // freqs: a=4, b=2, c=2, d=1, e=1 (10 occurrences). Rank order
    // breaks the b/c and d/e ties ascending: a,b,c,d,e.
    val docs = Seq("a a b c d", "a a b c e").toDF("text")
    val got = TextAnalysis.vocabCoverage(docs, col("text"),
        Seq(1, 3, 4, 99)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == ((4L, 400000L))) // top-1 = a: 4/10
    assert(got(3L) == ((8L, 800000L))) // a+b+c
    assert(got(4L) == ((9L, 900000L))) // +d
    assert(!got.contains(99L)) // only 5 distinct tokens
  }

  test("zipfFit: an exact 1/r power law fits slope -1 with r2 = 1") {
    import spark.implicits._
    // frequencies 12/r for ranks 1..4 → ln-ln points exactly colinear
    val words = Seq("a" -> 12, "b" -> 6, "c" -> 4, "d" -> 3)
      .flatMap { case (w, n) => Seq.fill(n)(w) }
    val docs = words.grouped(5).map(_.mkString(" ")).toSeq.toDF("text")
    val r = TextAnalysis.zipfFit(docs, org.apache.spark.sql.functions
      .col("text"), topN = 4).collect()(0)
    assert(r.getLong(0) == 4L)
    assert(math.abs(r.getDouble(1) + 1.0) < 1e-4, s"slope ${r.getDouble(1)}")
    assert(r.getDouble(3) > 0.999999, s"r2 ${r.getDouble(3)}")
  }

  test("langIdMarginFromTokens: clear docs margin > 0, ties margin 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lower}
    val docs = Seq(
      "the cat sat on the mat and the dog",  // clearly en
      "xyzzy qwerty plugh")                  // no stopwords: all-zero tie
      .toDF("text")
    val got = docs.select(TextAnalysis.langIdMarginFromTokens(
        TextAnalysis.tokens(lower(col("text")))).as("m"))
      .collect().map(_.getInt(0)).toSeq
    assert(got.head > 0, s"expected positive margin: $got")
    assert(got(1) == 0, s"expected tie margin 0: $got")
  }

  test("bigramSurprisal: hand-computed conditional surprisals") {
    import spark.implicits._
    // c(a,b)=3, c(b,a)=1, c(b,c)=1 → ca(a)=3, ca(b)=2:
    // doc1 terms (0, ln2, 0) → mean ln2/3; doc2 (0); doc3 (ln2)
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "b c"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramSurprisal(docs, "doc_id",
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val ln2 = BigDecimal(math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val third = (ln2 / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(got(1L) == (3L, third.toDouble), s"got $got")
    assert(got(2L) == (1L, 0.0))
    assert(got(3L) == (1L, ln2.toDouble))
  }

  test("vocabGrowth: hand-computed waves, cumulative curves") {
    import spark.implicits._
    val docs = Seq((0L, "a b a"), (1L, "a c")).toDF("w", "text")
    val got = TextAnalysis.vocabGrowth(docs,
        org.apache.spark.sql.functions.col("w"),
        org.apache.spark.sql.functions.col("text"))
      .orderBy("wave").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // wave 0: 3 occurrences, new {a, b}; wave 1: 2 occurrences, new {c}
    assert(got == Seq((0L, 3L, 2L, 3L, 2L), (1L, 2L, 1L, 5L, 3L)))
  }

  test("dropNearDuplicates removes only the larger side of pairs") {
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "x"), Row(2L, "x"), Row(3L, "y"), Row(4L, "x")), 2),
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
    val pairs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, 2L), Row(1L, 4L)), 1),
      StructType(Seq(StructField("a", LongType), StructField("b", LongType))))
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("rrfFuse: doc on both lists outranks single-list docs; " +
      "hand-computed scores") {
    import spark.implicits._
    // list 1 ranks A=1, B=2; list 2 ranks B=1, C=2 (one query)
    val l1 = Seq((1L, 10L, 1L), (1L, 20L, 2L)).toDF("qid", "doc", "rk")
    val l2 = Seq((1L, 20L, 1L), (1L, 30L, 2L)).toDF("qid", "doc", "rk")
    val got = TextAnalysis.rrfFuse(Seq(l1, l2), "qid", "doc", "rk", k = 3)
      .collect().map(r => (r.getAs[Long]("doc"),
        r.getAs[Long]("n_lists"), r.getAs[Double]("rrf"),
        r.getAs[Long]("rk")))
    // B: 1/61 + 1/62 (both rounded to 9 dp), A: 1/61, C: 1/62
    val r61 = BigDecimal(1.0 / 61).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val r62 = BigDecimal(1.0 / 62).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    assert(got.toSeq == Seq(
      (20L, 2L, (r61 + r62).toDouble, 1L),
      (10L, 1L, r61.toDouble, 2L),
      (30L, 1L, r62.toDouble, 3L)))
  }

  test("gopherRules property: Column verdicts equal the plain-Scala " +
      "integer model on random token soups (explicit seeds)") {
    import spark.implicits._
    val words = Seq("the", "a", "of", "and", "to", "in", "is", "cat",
      "table", "12345", "pneumonoultramicroscopic", "x", "##", "b2")
    val rnd = new scala.util.Random(7)
    val docs = (0 until 60).map { i =>
      val n = rnd.nextInt(25)
      (i.toLong, Seq.fill(n)(words(rnd.nextInt(words.size)))
        .mkString(" "))
    }
    def model(text: String): (Boolean, Boolean, Boolean, Boolean) = {
      val tk = text.split("\\s+").filter(_.nonEmpty)
      val n = tk.length.toLong
      val tot = tk.map(_.length.toLong).sum
      val alpha = tk.count(_.exists(c =>
        (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))).toLong
      val stop = tk.count(t => Set("the", "a", "of", "and", "to",
        "in", "is").contains(t.toLowerCase)).toLong
      (n >= 10 && n <= 1000,
        n > 0 && 3 * n <= tot && tot <= 10 * n,
        n > 0 && 5 * alpha >= 4 * n,
        stop >= 2)
    }
    val got = docs.toDF("id", "text")
      .withColumn("tk", TextAnalysis.tokens(col("text")))
      .select(col("id"), col("text"),
        TextAnalysis.gopherRules(col("tk")).as("r"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getStruct(2).getBoolean(0),
        r.getStruct(2).getBoolean(1), r.getStruct(2).getBoolean(2),
        r.getStruct(2).getBoolean(3), r.getStruct(2).getBoolean(4)),
        r.getString(1))).toMap
    docs.foreach { case (id, text) =>
      val m = model(text)
      val ((g1, g2, g3, g4, pass), _) = got(id)
      assert((g1, g2, g3, g4) == m, s"doc $id: '$text'")
      assert(pass == (m._1 && m._2 && m._3 && m._4))
    }
  }

  test("gopherRules: each rule fails on its own crafted doc and " +
      "passes on a healthy one") {
    import spark.implicits._
    val healthy = (("the cat sat on the mat and looked out of " +
      "the window in the sun") + " word" * 5) // 19 tokens, stopwords
    val docs = Seq(
      ("healthy", healthy),
      ("short", "the of one"), // 3 tokens < 10 → r_wordcount fails
      // 12 long tokens (avg len > 10) incl 2 stopwords → r_wordlen
      ("longwords", "the of " + "pneumonoultramicroscopic " * 10),
      // 12 numeric tokens + 2 stopwords → r_alpha fails (alpha 2/12)
      ("numeric", "the of " + "12345 " * 10),
      // 12 plain words, zero stopword hits → r_stopword fails
      ("nostop", "cat " * 12)
    ).toDF("name", "text")
    val got = docs
      .withColumn("tk", TextAnalysis.tokens(col("text")))
      .select(col("name"), TextAnalysis.gopherRules(col("tk")).as("r"))
      .collect()
      .map(r => r.getString(0) -> r.getStruct(1)).toMap
    def flags(n: String) = (0 to 4).map(got(n).getBoolean)
    // (r_wordcount, r_wordlen, r_alpha, r_stopword, pass)
    assert(flags("healthy") == Seq(true, true, true, true, true))
    assert(flags("short").head == false && !got("short").getBoolean(4))
    assert(flags("longwords")(1) == false)
    assert(flags("numeric")(2) == false)
    assert(flags("nostop")(3) == false)
  }

  test("trendingTokens: a token only in the late half tops rising, " +
      "only-early tops falling, stable tokens score near zero") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // base tokens keep both halves the same size (20 occurrences of
    // 'base' each); 'surge' appears 20× late only, 'gone' 20× early
    // only; minCount 20 admits all three
    val early = (1 to 20).map(i => (i.toLong, false, "base gone"))
    val late = (21 to 40).map(i => (i.toLong, true, "base surge"))
    val docs = (early ++ late).toDF("doc_id", "late", "text")
    val rows = TextAnalysis.trendingTokens(docs, col("late"),
        col("text"), minCount = 20, k = 2)
      .collect().map(r => (r.getAs[String]("direction"),
        r.getAs[Int]("rank")) -> ((r.getAs[String]("token"),
        r.getAs[Long]("c_early"), r.getAs[Long]("c_late"),
        r.getAs[Double]("score")))).toMap
    val (riseTok, re, rl, riseScore) = rows(("rising", 1))
    assert(riseTok == "surge" && re == 0L && rl == 20L, s"$rows")
    val (fallTok, fe, fl, fallScore) = rows(("falling", 1))
    assert(fallTok == "gone" && fe == 20L && fl == 0L, s"$rows")
    // halves are the same size (40 tokens each), so the smoothed
    // ratios are symmetric: ln(21/1) and ln(1/21)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(riseScore == r6(math.log(21.0 / 40.0 / (1.0 / 40.0))),
      s"rising score: $riseScore")
    assert(fallScore == r6(math.log(1.0 / 40.0 / (21.0 / 40.0))),
      s"falling score: $fallScore")
    // 'base' is stable: |score| must be the smallest magnitude
    val (stableTok, _, _, stableScore) = rows(("rising", 2))
    assert(stableTok == "base" && math.abs(stableScore) < 0.1,
      s"stable token: $rows")
  }

  test("dsirLogWeights: a raw doc sharing the target's signature " +
      "bigram outranks one that doesn't; runs replay exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    // target docs (t = true) repeat the bigram 'clean prose'; raw
    // doc 100 contains it, raw doc 101 only shares the unigram mass
    // ('clean text' / 'rough text' bigrams hash elsewhere)
    val target = (1 to 10).map(i =>
      (i.toLong, true, "clean prose clean prose"))
    val raw = Seq(
      (100L, false, "clean prose clean text"),
      (101L, false, "rough text rough text"))
    val docs = (target ++ raw).toDF("doc_id", "t", "text")
    def run() = TextAnalysis.dsirLogWeights(docs, "doc_id",
        col("text"), col("t"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Double]("score")))).toMap
    val got = run()
    // every doc has 3 bigrams
    assert(got.values.forall(_._1 == 3L), s"grams: $got")
    // target-resembling raw doc scores strictly higher
    assert(got(100L)._2 > got(101L)._2, s"scores: $got")
    // target docs score highest of all (pure signature mass)
    assert(got(1L)._2 > got(100L)._2, s"scores: $got")
    assert(run() == got, "DSIR weights must replay exactly")
    // a degenerate target slice refuses loudly
    intercept[IllegalArgumentException] {
      TextAnalysis.dsirLogWeights(docs, "doc_id", col("text"),
        lit(true))
    }
  }

  test("vocabCoverage: hand-computed Good-Turing unseen mass and " +
    "Chao1 on a tiny corpus") {
    import spark.implicits._
    // source a: tokens x x y z -> N=4, V=3, N1=2 (y,z), N2=1 (x)
    // unseen = 2/4 = 0.5; chao1 = 3 + 2*1/(2*(1+1)) = 3.5
    // source b: w w w -> N=3, V=1, N1=0, N2=0
    // unseen = 0; chao1 = 1 + 0 = 1
    val docs = Seq(("a", "x x"), ("a", "y z"), ("b", "w w w"))
      .toDF("source", "text")
    val out = TextAnalysis.vocabCoverage(docs, Seq("source"), col("text"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("vocab"),
          r.getAs[Long]("n1"), r.getAs[Long]("n2"),
          r.getAs[Double]("unseen_mass"), r.getAs[Double]("chao1"))).toMap
    assert(out("a") == ((4L, 3L, 2L, 1L, 0.5, 3.5)), s"got ${out("a")}")
    assert(out("b") == ((3L, 1L, 0L, 0L, 0.0, 1.0)), s"got ${out("b")}")
  }

  test("tokenBurstiness: a clumped token scores its hand-computed " +
    "Fano factor, an evenly-spread one scores zero") {
    import spark.implicits._
    // 4 docs; 'f' once per doc (var 0), 'b' 4x in one doc:
    // mean 1, zero-inclusive var = (16 - 4)/3 -> fano 4
    val docs = Seq((1L, "b b b b f"), (2L, "f"), (3L, "f"), (4L, "f"))
      .toDF("id", "text")
    val got = TextAnalysis.tokenBurstiness(docs, col("id"), col("text"),
      minDocs = 1L).collect().map(r => r.getString(0) -> r).toMap
    assert(got("b").getAs[Double]("fano") == 4.0, s"got ${got("b")}")
    assert(got("b").getAs[Long]("n_docs") == 1L)
    assert(got("b").getAs[Long]("n_occurrences") == 4L)
    assert(got("f").getAs[Double]("fano") == 0.0)
    // the bursty token ranks first under the total order
    assert(TextAnalysis.tokenBurstiness(docs, col("id"), col("text"),
      minDocs = 1L).collect()(0).getString(0) == "b")
  }

  test("heldOutCrossEntropy matches a local add-one replica over the " +
    "same idBucket split; an empty train half abstains") {
    import spark.implicits._
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Seq((1L, "the cat sat"), (2L, "the dog sat"),
      (3L, "the cat ran"), (4L, "a new cat"), (5L, "the the the"),
      (6L, "dog ran far")).toDF("id", "text")
    // learn the split the operator uses (idBucket is pinned in
    // CurationSpec) and replicate the LM locally
    val half = Sampling.Buckets / 2
    val split = docs.select(col("id"),
        (Sampling.idBucket(col("id"), 41) < half).as("tr"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val toks = Seq(1L -> "the cat sat", 2L -> "the dog sat",
      3L -> "the cat ran", 4L -> "a new cat", 5L -> "the the the",
      6L -> "dog ran far")
      .flatMap { case (id, t) => t.split("\\s+").map(id -> _.toLowerCase) }
    val trainToks = toks.filter(p => split(p._1)).map(_._2)
    val evalToks = toks.filter(p => !split(p._1)).map(_._2)
    assume(trainToks.nonEmpty && evalToks.nonEmpty)
    val cnt = trainToks.groupBy(identity).map { case (t, o) =>
      t -> o.size.toLong }
    val nTr = trainToks.size.toLong
    val v = cnt.size.toLong
    val terms = evalToks.map { t =>
      r6(math.log((cnt.getOrElse(t, 0L) + 1L).toDouble /
        (nTr + v).toDouble))
    }
    val expected = r6(terms.map(BigDecimal(_)).sum.toDouble * -1.0 /
      evalToks.size.toDouble)
    val r = TextAnalysis.heldOutCrossEntropy(docs, col("id"),
      col("text")).collect()(0)
    assert(r.getAs[Long]("n_train_tok") == nTr &&
      r.getAs[Long]("vocab") == v &&
      r.getAs[Long]("n_eval_tok") == evalToks.size.toLong, s"got $r")
    assert(r.getAs[Double]("cross_entropy") == expected, s"got $r")
    // every doc on the eval side: no model to score under
    val evalOnly = docs.filter(!col("id").isin(
      split.filter(_._2).keys.toSeq.map(Long.box): _*))
    val e = TextAnalysis.heldOutCrossEntropy(evalOnly, col("id"),
      col("text")).collect()(0)
    assert(e.getAs[Long]("n_train_tok") == 0L &&
      e.isNullAt(e.fieldIndex("cross_entropy")), s"got $e")
  }

  test("domainTransfer: hand-computed 2x2 matrix with closed-form " +
    "unseen mass on both off-diagonals") {
    import spark.implicits._
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def h(terms: Seq[(Long, Double)], n: Long) =
      r6(terms.map { case (e, lp) =>
        BigDecimal(e) * BigDecimal(r6(lp)) }.sum.toDouble * -1.0 /
        n.toDouble)
    // a: "x x y" (N=3, V=2, den 5); b: "x z" (N=2, V=2, den 4)
    val docs = Seq(("a", "x x y"), ("b", "x z")).toDF("src", "text")
    val got = TextAnalysis.domainTransfer(docs, col("src"), col("text"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(got.size == 4)
    assert(got(("a", "a")).getAs[Long]("n_eval_tok") == 3L)
    assert(got(("a", "a")).getAs[Double]("cross_entropy") ==
      h(Seq(2L -> math.log(3.0 / 5.0), 1L -> math.log(2.0 / 5.0)), 3L))
    // b under a: x matches (c=2 -> ln 3/5), z is unseen (ln 1/5)
    assert(got(("a", "b")).getAs[Double]("cross_entropy") ==
      h(Seq(1L -> math.log(3.0 / 5.0), 1L -> math.log(1.0 / 5.0)), 2L))
    // a under b: x matches (c=1 -> ln 2/4), y is unseen (ln 1/4)
    assert(got(("b", "a")).getAs[Double]("cross_entropy") ==
      h(Seq(2L -> math.log(2.0 / 4.0), 1L -> math.log(1.0 / 4.0)), 3L))
    assert(got(("b", "b")).getAs[Double]("cross_entropy") ==
      h(Seq(1L -> math.log(2.0 / 4.0), 1L -> math.log(2.0 / 4.0)), 2L))
  }
}
