package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, language ID, quality scoring, and
  * document fingerprinting. All pure `Column` compositions of built-in
  * (codegen'd) functions — no UDFs — so they stay inside whole-stage
  * codegen and scale embarrassingly parallel: every operator is
  * per-row, no shuffle at all until a caller aggregates.
  *
  * New-capability work beyond the reference surface (SURVEY.md §7.2
  * step 7); the reference's only text handling is CSV type coercion.
  */
object TextAnalysis {

  /** Whitespace tokenization; empty tokens removed.
    *
    * NOT `filter(split(text, "\\s+"), len > 0)`: higher-order array
    * functions (`ArrayFilter`) are CodegenFallback expressions, and
    * one in a projection knocks the WHOLE stage out of whole-stage
    * codegen — JFR showed entire text-family aggregates running
    * through interpreted `MutableProjection` because of this one
    * call (guide step "eliminate non-codegen expressions in the hot
    * path"). Trimming the outer whitespace first makes `split` emit
    * no empty tokens at all — `"\\s+"`-split empties can only come
    * from a leading separator match or a trailing one (Spark splits
    * with limit −1, keeping trailing empties) — so the filter is
    * unnecessary: identical array for every input, including
    * NULL (both forms propagate NULL) and empty/all-whitespace text
    * (the explicit empty-array branch; a bare split would yield
    * [""]). Everything here is codegen-capable. */
  def tokens(text: Column): Column = {
    // btrim with exactly Java-regex \s = [ \t\n\x0B\f\r]: one linear
    // scan (an anchored-alternation regexp_replace backtracks per
    // whitespace run at every position — measurably slower on prose)
    val t = btrim(text, lit(" \t\n\u000B\f\r"))
    when(t === "", array().cast(ArrayType(StringType)))
      .otherwise(split(t, "\\s+"))
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish sub-word token count: runs of letters, runs of digits, and
    * single non-space symbols each count as one token — a cheap,
    * deterministic proxy for a BPE tokenizer's token count. */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"))

  /** Letter count (ASCII alphabetic only — the Coleman–Liau input;
    * a fixed class keeps both engines' regex semantics identical). */
  def letterCount(text: Column): Column =
    length(regexp_replace(text, "[^A-Za-z]", ""))

  /** Sentence-terminator RUN count ([.!?]+ as one terminator — "..."
    * is one sentence end, not three). */
  def sentenceCount(text: Column): Column =
    regexp_count(text, lit("[.!?]+"))

  /** Mean whitespace-token length in characters (0 for empty docs).
    * Convenience form — tokenizes inline twice; hot paths should stage
    * the token array and call [[meanTokenLengthFromTokens]]. */
  def meanTokenLength(text: Column): Column =
    meanTokenLengthFromTokens(tokens(text))

  /** [[meanTokenLength]] over a pre-staged token array. When `toks` is
    * a projected attribute (not an inline expression tree) the array
    * materializes once per row, regardless of how many times this
    * expression references it — higher-order functions defeat Catalyst
    * subexpression elimination, so inline trees re-tokenize per
    * reference. */
  def meanTokenLengthFromTokens(toks: Column): Column = {
    val n = size(toks)
    when(n > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t))
        .cast(DoubleType) / n)
      .otherwise(lit(0.0))
  }

  /** Punctuation-character ratio (punctuation chars / total chars). */
  def punctRatio(text: Column): Column = {
    val total = length(text)
    when(total > 0,
      (total - length(regexp_replace(text, "\\p{Punct}", "")))
        .cast(DoubleType) / total)
      .otherwise(lit(0.0))
  }

  /** A small function-word table per language for the n-gram/stopword
    * language-ID heuristic. Deterministic and SQL-expressible so the
    * DuckDB oracle can replicate it verbatim. */
  val StopwordsByLang: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los"),
    "fr" -> Seq("le", "la", "de", "et", "que", "les", "des"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "nicht"),
    "zh" -> Seq("的", "是", "了", "在", "我")
  )

  /** Stopword-hit ratio against one language's function words.
    * Convenience form — hot paths should stage the lowercased token
    * array and call [[stopwordRatioFromTokens]]. */
  def stopwordRatio(text: Column, words: Seq[String]): Column =
    stopwordRatioFromTokens(tokens(lower(text)), words)

  /** [[stopwordRatio]] over a pre-staged lowercased token array. */
  def stopwordRatioFromTokens(toks: Column, words: Seq[String]): Column = {
    val hits = size(filter(toks, t => t.isin(words.map(lit(_)): _*)))
    when(size(toks) > 0, hits.cast(DoubleType) / size(toks))
      .otherwise(lit(0.0))
  }

  /** Language-ID heuristic: score each candidate language by its
    * function-word hit count; pick the argmax (ties resolved by the
    * fixed language order above; all-zero → "und").
    *
    * Convenience form only — the token expression is inlined into all
    * five language scores plus the argmax fold, and higher-order
    * functions defeat Catalyst subexpression elimination, so every row
    * re-tokenizes ~6×. Hot paths MUST stage
    * `tokens(lower(text)).as("__tk")` as a projected attribute and call
    * [[langIdFromTokens]] (the q_text_repetition staging pattern). */
  def langId(text: Column): Column =
    langIdFromTokens(tokens(lower(text)))

  /** [[langId]] over a pre-staged lowercased token array. With `toks`
    * a projected attribute the array materializes once per row; the
    * five `filter(toks, …)` scores then re-scan a cached array instead
    * of re-running split+filter over the raw text. */
  def langIdFromTokens(toks: Column): Column = {
    val scores = StopwordsByLang.map { case (lang, words) =>
      lang -> size(filter(toks, t => t.isin(words.map(lit(_)): _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(when(best <= 0, lit("und"))) { case (acc, (lang, s)) =>
      acc.when(s === best, lit(lang))
    }.otherwise(lit("und"))
  }

  /** Language-ID confidence margin: best − second of the per-language
    * function-word scores (over a pre-staged lowercased token array,
    * the [[langIdFromTokens]] staging contract). Margin 0 means the
    * argmax was a tie — the doc [[langIdFromTokens]] labels
    * arbitrarily-by-language-order; real pipelines threshold the
    * margin before trusting the label. Pure integer arithmetic. */
  def langIdMarginFromTokens(toks: Column): Column = {
    val scores = StopwordsByLang.map { case (_, words) =>
      size(filter(toks, t => t.isin(words.map(lit(_)): _*)))
    }
    val arr = array_sort(array(scores: _*))
    element_at(arr, scores.size) - element_at(arr, scores.size - 1)
  }

  /** Composite quality score in [0,1]: rewards mid-length docs, healthy
    * mean token length, low punctuation density. Deterministic,
    * SQL-expressible; thresholds are Gopher-rules-inspired. */
  def qualityScore(text: Column): Column =
    qualityScoreFromTokens(tokens(text), text)

  /** [[qualityScore]] over a pre-staged token array (`toks` must be
    * `tokens(text)` projected as an attribute): the length and
    * mean-token-length terms read the materialized array instead of
    * re-tokenizing per term (three split+filter passes collapse to
    * one); the punctuation term still reads the raw text. */
  def qualityScoreFromTokens(toks: Column, text: Column): Column = {
    val n       = size(toks).cast(DoubleType)
    val lenOk   = when(n >= 10 && n <= 1000, lit(1.0))
      .when(n > 0, lit(0.5)).otherwise(lit(0.0))
    val mtl     = meanTokenLengthFromTokens(toks)
    val mtlOk   = when(mtl >= 3 && mtl <= 10, lit(1.0)).otherwise(lit(0.5))
    val punctOk = lit(1.0) - least(punctRatio(text) * 5, lit(1.0))
    round((lenOk + mtlOk + punctOk) / 3.0, 6)
  }

  /** The token-count window of [[gopherRules]]' `r_wordcount` rule. */
  private val GopherMinWords = 10
  private val GopherMaxWords = 1000

  /** Gopher-style HARD rule gate (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * App. A quality filters) — the reject/keep verdict that runs ahead
    * of the soft [[qualityScoreFromTokens]] in a curation pipeline.
    * Four rules over a pre-staged token array (the staging contract of
    * [[langIdFromTokens]]):
    *
    *  - `r_wordcount`: token count in [10, 1000]
    *    ([[GopherMinWords]], [[GopherMaxWords]]);
    *  - `r_wordlen`: mean token length in [3, 10] chars — evaluated in
    *    INTEGER form (3·n ≤ Σlen ≤ 10·n), no division;
    *  - `r_alpha`: ≥ 80% of tokens contain an ASCII letter
    *    (5·n_alpha ≥ 4·n — the "fraction of words with an alphabetic
    *    character" rule, ASCII-scoped to stay SQL-portable);
    *  - `r_stopword`: ≥ 2 hits of the English function-word table
    *    (Gopher's "at least 2 stop words" rule).
    *
    * Every comparison is exact integer arithmetic — no doubles — so
    * the verdicts replay bit-identically in any SQL engine. Returns a
    * struct column (r_wordcount, r_wordlen, r_alpha, r_stopword,
    * pass); per-row, shuffle-free, codegen'd. */
  def gopherRules(toks: Column): Column = {
    val n = size(toks).cast(LongType)
    val totLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val nAlpha = size(filter(toks, t => t.rlike("[A-Za-z]")))
      .cast(LongType)
    val stopHits = size(filter(toks, t =>
      lower(t).isin(StopwordsByLang.head._2.map(lit(_)): _*)))
    val r1 = n >= GopherMinWords && n <= GopherMaxWords
    val r2 = n > 0 && lit(3L) * n <= totLen && totLen <= lit(10L) * n
    val r3 = n > 0 && lit(5L) * nAlpha >= lit(4L) * n
    val r4 = stopHits >= 2
    struct(r1.as("r_wordcount"), r2.as("r_wordlen"), r3.as("r_alpha"),
      r4.as("r_stopword"), (r1 && r2 && r3 && r4).as("pass"))
  }

  /** PII redaction for training corpora: emails, international-ish
    * phone numbers, and bare IPv4 addresses become fixed placeholder
    * tokens. Pure regexp_replace chain — codegen'd, shuffle-free, and
    * replicable in any SQL engine with RE2-compatible regexes. The
    * patterns are deliberately simple and documented: recall-oriented
    * scrubbing, not validation. */
  def redactPii(text: Column): Column = {
    // order is load-bearing: IPs are digit-and-dot strings the phone
    // pattern would otherwise swallow, so they redact first
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\+?\\d[\\d\\s().-]{7,}\\d", "<PHONE>")
  }

  /** Exact-content fingerprint: md5 of whitespace-normalized, lowercased
    * text. Identical function exists in DuckDB, so it doubles as the
    * oracle-compatible dedup key. */
  def fingerprintMd5(text: Column): Column =
    md5(to_binary(regexp_replace(lower(trim(text)), "\\s+", " "), lit("utf-8")))

  /** Rolling polynomial hash over characters (base 31, mod 1e9+7) of
    * the whitespace-normalized, lowercased text — a driver-free,
    * shuffle-free content fingerprint, computed by the native
    * codegen'd [[graft.functions.PolyHash]] expression (value-identical
    * to the original split/ascii HOF fold; see its scaladoc). */
  def fingerprintRolling(text: Column): Column =
    graft.functions.GraftFunctions.polyHash(
      regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Per-document mean unigram surprisal — the simplest
    * language-model quality score: how "surprising" a doc's tokens
    * are under the corpus's own unigram distribution
    * (mean of −ln p(tok) = ln N − ln c_tok over token occurrences).
    * Boilerplate and keyword-stuffed docs score low, rare-token noise
    * scores high; real pipelines threshold both tails.
    *
    * Scale shape: one groupBy(token) for the frequency table, one
    * join back on token (broadcast when the vocab is small, shuffle
    * otherwise), one groupBy(doc). Determinism: each token's
    * surprisal is rounded to 6 dp then summed as DECIMAL — the mean
    * is order-independent and engine-portable (the dsum rule).
    *
    * Returns (idCol, n_tok, mean_surprisal). */
  def unigramSurprisal(
      docs: DataFrame,
      idCol: String,
      text: Column): DataFrame = {
    val occ = docs.select(col(idCol), explode(tokens(lower(text))).as("__tok"))
    // freq is PERSISTED (vocabulary-sized) and the total derives from
    // it: rooting freq, total, and the join all at occ would re-scan
    // and re-tokenize the corpus three times (measured); this way the
    // corpus is read twice — once into freq, once through the join —
    // the floor for a join-back topology whose probe side is the
    // full token stream. The persist is LAZY and never released here:
    // the result is per-document (corpus-proportional), so pinning IT
    // to free freq would trade a vocabulary-sized cache for a
    // corpus-sized one. freq materializes once at the caller's first
    // action and stays for the session — bounded by vocabulary size,
    // which does not scale with the corpus.
    val freq = occ.groupBy(col("__tok")).agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = freq.agg(sum(col("__c")).as("__n"))
    occ.join(freq, "__tok")
      .crossJoin(broadcast(total))
      .select(col(idCol),
        round(log(col("__n").cast(DoubleType)) -
          log(col("__c").cast(DoubleType)), 6)
          .cast(DecimalType(18, 6)).as("__s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"),
        round(sum(col("__s")).cast(DoubleType) / count(lit(1)), 6)
          .as("mean_surprisal"))
  }

  private val HeldOutSeed = 41

  /** Held-out cross-entropy of an add-one-smoothed unigram LM: train
    * on one deterministic hash-half of the corpus, score mean
    * −ln p̂(tok) on the other — the VALIDATION-LOSS twin of
    * [[unigramSurprisal]], which scores tokens under the corpus's
    * own distribution and therefore cannot see distribution shift; a
    * held-out loss rises when the halves genuinely differ (and it is
    * the number a "did the new crawl drop change the corpus?" gate
    * actually wants). p̂(t) = (c_train(t)+1)/(N_train+V), V the
    * train vocabulary (unseen eval tokens get the smoothing mass).
    *
    * Scale shape: the train frequency table is vocab-bounded and
    * persisted for its two consumers; EVAL REDUCES TO PER-DISTINCT-
    * TOKEN COUNTS BEFORE THE JOIN, so the join probes a vocab-sized
    * frame, never the token stream. Determinism: per-token ln terms
    * round at 6 dp and weight by exact integer eval counts as
    * DECIMAL(19,0)×(18,6) products; the split is the portable
    * [[Sampling.idBucket]] at seed [[HeldOutSeed]].
    *
    * Returns one row: (n_train_tok, vocab, n_eval_tok,
    * cross_entropy) in nats/token; NULL when either half is
    * empty. */
  def heldOutCrossEntropy(
      docs: DataFrame,
      idCol: Column,
      text: Column): DataFrame = {
    val toks = docs
      .select(idCol.cast(LongType).as("__id"),
        explode(tokens(lower(text))).as("__tok"))
      .filter(col("__id").isNotNull)
    val isTrain = Sampling.idBucket(col("__id"), HeldOutSeed) <
      Sampling.Buckets / 2
    val trainC = toks.filter(isTrain).groupBy(col("__tok"))
      .agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = trainC.agg(
      coalesce(sum(col("__c")), lit(0L)).as("__ntr"),
      count(lit(1)).as("__v"))
    val evalC = toks.filter(!isTrain).groupBy(col("__tok"))
      .agg(count(lit(1)).as("__e"))
    val joined = evalC.join(trainC, Seq("__tok"), "left")
      .crossJoin(broadcast(tot))
      .select(col("__e"),
        when(col("__ntr") + col("__v") > 0,
          round(log((coalesce(col("__c"), lit(0L)) + lit(1L))
              .cast(DoubleType) /
            (col("__ntr") + col("__v")).cast(DoubleType)), 6)
            .cast(DecimalType(18, 6)))
          .otherwise(lit(null).cast(DecimalType(18, 6))).as("__lp"))
    val one = joined.agg(
      coalesce(sum(col("__e")), lit(0L)).as("__ne"),
      sum(col("__e").cast(DecimalType(19, 0)) * col("__lp")).as("__s"))
      .crossJoin(broadcast(tot))
    val ok = col("__ne") > 0 && col("__ntr") > 0
    one.select(col("__ntr").as("n_train_tok"), col("__v").as("vocab"),
      col("__ne").as("n_eval_tok"),
      when(ok, round((col("__s").cast(DoubleType) * lit(-1.0)) /
        col("__ne").cast(DoubleType), 6))
        .otherwise(lit(null).cast(DoubleType)).as("cross_entropy"))
  }

  /** Cross-domain unigram TRANSFER MATRIX: H(b‖a) = mean −ln p̂_a(tok)
    * of source b's tokens under source a's add-one unigram LM, for
    * every (a, b) pair — which domains predict which (the number
    * behind "will adding source a help or hurt a model evaluated on
    * b's distribution"; the diagonal is the in-domain overfit
    * reference). The grouped generalization of
    * [[heldOutCrossEntropy]].
    *
    * Scale shape: ONE (source, token) count frame serves train and
    * eval sides (persisted — the multi-consumer rule); the pair
    * cross-terms come from a TOKEN-keyed join of that vocab-bounded
    * frame with itself (≤ |vocab|·S² rows — never the token stream),
    * and the UNSEEN mass never materializes: tokens of b absent from
    * a's vocabulary contribute the closed form
    * (n_b − matched)·(−ln(1/(N_a+V_a))), so the left-anti side is
    * pure arithmetic. Per-source totals are a bounded broadcast.
    * Determinism: 6-dp ln terms weighted by exact integer counts as
    * DECIMAL(19,0)×(18,6) products.
    *
    * Returns one row per pair: (train_src, eval_src, n_eval_tok,
    * cross_entropy) in nats/token. */
  def domainTransfer(
      docs: DataFrame,
      srcCol: Column,
      text: Column): DataFrame = {
    val cnt = docs
      .select(srcCol.cast(StringType).as("__src"),
        explode(tokens(lower(text))).as("__tok"))
      .filter(col("__src").isNotNull)
      .groupBy(col("__src"), col("__tok"))
      .agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = cnt.groupBy(col("__src"))
      .agg(coalesce(sum(col("__c")), lit(0L)).as("__n"),
        count(lit(1)).as("__v"))
    val dec6 = DecimalType(18, 6)
    val tr = cnt.join(broadcast(tot), Seq("__src"))
      .select(col("__src").as("__ta"), col("__tok"),
        round(log((col("__c") + lit(1L)).cast(DoubleType) /
          (col("__n") + col("__v")).cast(DoubleType)), 6)
          .cast(dec6).as("__lp"))
    val ev = cnt.select(col("__src").as("__tb"), col("__tok"),
      col("__c").as("__e"))
    val zero = lit(0).cast(DecimalType(38, 6))
    val matched = ev.join(tr, Seq("__tok"))
      .groupBy(col("__ta"), col("__tb"))
      .agg(coalesce(sum(col("__e").cast(DecimalType(19, 0)) *
        col("__lp")), zero).as("__sm"),
        coalesce(sum(col("__e")), lit(0L)).as("__em"))
    val grid = tot.select(col("__src").as("__ta"),
        (col("__n") + col("__v")).as("__den"))
      .crossJoin(tot.select(col("__src").as("__tb"),
        col("__n").as("__nb")))
    val unseenLp = round(log(lit(1.0) /
      col("__den").cast(DoubleType)), 6).cast(dec6)
    val out = grid.join(matched, Seq("__ta", "__tb"), "left")
      .select(col("__ta").as("train_src"), col("__tb").as("eval_src"),
        col("__nb").as("n_eval_tok"),
        when(col("__nb") > 0,
          round((coalesce(col("__sm"), zero) +
            (col("__nb") - coalesce(col("__em"), lit(0L)))
              .cast(DecimalType(19, 0)) * unseenLp)
            .cast(DoubleType) * lit(-1.0) /
            col("__nb").cast(DoubleType), 6))
          .otherwise(lit(null).cast(DoubleType)).as("cross_entropy"))
      .localCheckpoint(true) // S² rows; free cnt afterwards
    cnt.unpersist(false)
    out
  }

  /** Per-document mean BIGRAM surprisal — the conditional-model step
    * up from [[unigramSurprisal]]: mean of −ln p(w₂|w₁) =
    * ln c(w₁·) − ln c(w₁w₂) over the doc's bigram occurrences, with
    * c(w₁·) the left-context total over observed bigrams (the proper
    * conditional normalizer). Formulaic/templated text (predictable
    * continuations) scores near 0, incoherent token soup scores high
    * — a sharper fluency proxy than unigram frequency alone. Docs
    * under 2 tokens carry no bigram and are absent from the result.
    *
    * Scale shape: one map-side-combined bigram-count shuffle; the
    * left-context totals derive FROM the bigram counts (vocab-sized —
    * never a second corpus scan); one join back on the bigram key,
    * one groupBy(doc). The count frame is persisted for its two
    * consumers and released after the result materializes. Same
    * rounding discipline as [[unigramSurprisal]]: each term is ln of
    * exact integers, rounded to 6 dp, DECIMAL-summed.
    *
    * Returns (idCol, n_bigrams, mean_surprisal). */
  def bigramSurprisal(
      docs: DataFrame,
      idCol: String,
      text: Column): DataFrame = {
    val toks = docs.select(col(idCol), tokens(lower(text)).as("__tk"))
      .filter(size(col("__tk")) >= 2)
    def bigrams(t: DataFrame): DataFrame = t
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(__tk) - 2), " +
          "i -> struct(__tk[i] AS w1, __tk[i + 1] AS w2))")).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bg = bigrams(toks)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bgc = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("__cab"))
      .persist(lvl)
    val lc = bgc.groupBy(col("w1")).agg(sum(col("__cab")).as("__ca"))
    val out = bg.join(bgc, Seq("w1", "w2")).join(lc, Seq("w1"))
      .select(col(idCol),
        round(log(col("__ca").cast(DoubleType)) -
          log(col("__cab").cast(DoubleType)), 6)
          .cast(DecimalType(18, 6)).as("__s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("__s")).cast(DoubleType) / count(lit(1)), 6)
          .as("mean_surprisal"))
      .persist(lvl)
    out.count()
    bgc.unpersist(false)
    out
  }

  /** Lexical diversity per group — the standard corpus-quality
    * trio: distinct types, total tokens, hapax legomena (types seen
    * exactly once corpus-group-wide), plus the type-token ratio.
    * Template-generated or heavily-duplicated feeds show a collapsed
    * TTR and hapax share; rich natural text runs high. Integer counts
    * end-to-end, ratio rounded once at the edge.
    *
    * One map-side-combined (group, token) count + one group
    * re-aggregate of that (vocab-sized) frame — single corpus scan,
    * the [[distributionDivergence]] derivation discipline.
    *
    * Returns (groupCol, n_types, n_tokens, n_hapax, ttr). */
  def lexicalDiversity(
      docs: DataFrame,
      groupCol: String,
      text: Column): DataFrame = {
    val cst = docs
      .select(col(groupCol), explode(tokens(lower(text))).as("__tok"))
      .groupBy(col(groupCol), col("__tok"))
      .agg(count(lit(1)).as("__c"))
    cst.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_types"),
        sum(col("__c")).as("n_tokens"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        round(count(lit(1)).cast(DoubleType) / sum(col("__c")), 6)
          .as("ttr"))
  }

  /** Mixture diagnostics: how far each group's (source's, language's)
    * unigram distribution sits from the corpus-wide one, as total
    * variation distance — TVD(s) = ½·Σ_t |c_st/N_s − c_t/N|. Sources
    * whose token mix diverges hardest are the ones skewing a training
    * blend (templated/spammy feeds score high); re-weight or cap them
    * first.
    *
    * TVD instead of KL because it stays in EXACT RATIONAL arithmetic:
    * with everything over the common denominator N_s·N the per-token
    * term is |c_st·N − c_t·N_s| — pure integers, no log/float whose
    * last-ulp engine differences could flip a rounded result (the
    * portability rule every oracle here lives by). Absent tokens
    * (c_st = 0) contribute Σ c_t·N_s over tokens missing from s, which
    * folds to N_s·(N − Σ_{t∈s} c_t) — no (group × vocab) outer join is
    * ever materialized. Returned as the integer pair (tvd_num,
    * tvd_den = 2·N_s·N); num/den is the distance in [0, 1].
    *
    * Scale shape: two map-side-combined counts (group×token, token) +
    * one broadcast-or-shuffle join back on token — the standard
    * corpus-statistics topology; group totals and the 1-row corpus
    * total are control-plane aggregates. Range contract: c_st·N must
    * fit a Long — exact through ~3e9-token corpora; past that, widen
    * the two products to DECIMAL(38,0) (same plan, wider lanes).
    *
    * Returns (groupCol, n_tok, tvd_num, tvd_den). */
  def distributionDivergence(
      docs: DataFrame,
      groupCol: String,
      text: Column): DataFrame = {
    val occ = docs.select(col(groupCol), explode(tokens(lower(text))).as("__tok"))
    // Every total derives from the (group, token) counts, NOT from
    // occ — and cst is PERSISTED for the derivation: its four
    // consumers prune different columns, so their exchange subtrees
    // canonicalize differently and AQE reuses nothing (measured: four
    // full corpus scans + tokenizations without the persist, one
    // with). cst is the distinct (group × vocab) counts — orders of
    // magnitude under the corpus; the result is materialized before
    // release so the handle can be freed eagerly.
    val cst = occ.groupBy(col(groupCol), col("__tok"))
      .agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ct = cst.groupBy(col("__tok")).agg(sum(col("__c")).as("__ct"))
    val ns = cst.groupBy(col(groupCol)).agg(sum(col("__c")).as("__ns"))
    val n = cst.agg(sum(col("__c")).as("__n")) // 1 row
    val joined = cst.join(ct, "__tok")
      .join(ns, groupCol)
      .crossJoin(broadcast(n))
      .groupBy(col(groupCol))
      .agg(
        first(col("__ns")).as("n_tok"),
        // present tokens' |c_st·N − c_t·N_s| plus the folded absent mass
        (sum(abs(col("__c") * col("__n") - col("__ct") * col("__ns"))) +
          first(col("__ns")) * (first(col("__n")) - sum(col("__ct"))))
          .as("tvd_num"),
        (lit(2L) * first(col("__ns")) * first(col("__n"))).as("tvd_den"))
    val out = joined.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize the |groups|-row result, then free cst
    cst.unpersist(false)
    out
  }

  /** Sliding token windows for retrieval/context prep: chunks of
    * `window` tokens every `stride` tokens, the last window clamped at
    * the end (never an empty trailing chunk; a doc at or under
    * `window` tokens is one chunk). Pure array expressions — row-local,
    * shuffle-free, codegen'd; explode downstream to one row per
    * chunk. Returns `array<array<string>>`. */
  def chunkTokens(toks: Column, window: Int, stride: Int): Column = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    val n = size(toks)
    // number of extra windows past the first: ceil((n - window)/stride)
    val k = when(n <= window, lit(0L)).otherwise(
      floor((n - window + stride - 1).cast(DoubleType) / stride).cast(LongType))
    transform(
      sequence(lit(0L), k * stride, lit(stride.toLong)),
      s => slice(toks, (s + 1).cast(IntegerType), lit(window)))
  }

  /** C4-style boilerplate removal at fixed segment granularity: every
    * doc is cut into consecutive `segTokens`-token segments (the
    * corpus has no line structure, so segments stand in for lines) and
    * segments occurring more than `maxDf` times ACROSS THE CORPUS are
    * dropped — repeated navigation chrome, disclaimers, and templated
    * spans disappear while unique content survives.
    *
    * Scale shape: one explode, then the corpus-wide document frequency
    * as an unordered count-over-partition window on the segment key —
    * ONE shuffle of the segment frame, no join back, and the tokenize/
    * chunk lineage runs once (the groupBy+rejoin alternative shuffles
    * the frame twice and recomputes the explode on the probe side).
    * Token arrays are staged as an attribute before the chunking HOF
    * fans out (the staging rule: per-element work must not re-evaluate
    * the tokenizer). Segments key by their text, exactly as the
    * oracle replays them; the shuffle payload is the segment text
    * itself.
    *
    * Returns surviving (idCol, seg_id, seg_text, seg_df) rows;
    * reassemble with array_join over seg_id order if full text is
    * needed. */
  def removeBoilerplateSegments(
      docs: DataFrame,
      idCol: String,
      text: Column,
      segTokens: Int = 8,
      maxDf: Int = 2): DataFrame = {
    require(segTokens > 0 && maxDf > 0, "segTokens and maxDf must be > 0")
    val segs = docs
      .select(col(idCol), tokens(lower(text)).as("__toks"))
      .select(col(idCol),
        posexplode(chunkTokens(col("__toks"), segTokens, segTokens))
          .as(Seq("seg_id", "seg")))
      .select(col(idCol), col("seg_id"),
        array_join(col("seg"), " ").as("seg_text"))
    // unordered full-frame window on the segment key (the accepted
    // corpus-statistics idiom — no ordering, so no sort-based rank)
    val byPseg = Window.partitionBy(col("seg_text"))
    segs
      .withColumn("seg_df", count(lit(1)).over(byPseg))
      .filter(col("seg_df") <= maxDf)
      .select(col(idCol), col("seg_id"), col("seg_text"), col("seg_df"))
  }

  /** TF-IDF keyword extraction: the top-`k` terms of every document by
    * `tf · (ln N − ln df)` (N = corpus doc count, df = docs containing
    * the term), ties broken by term ascending.
    *
    * Scale shape: term frequencies are one map-side-combined shuffle
    * on (doc, term); document frequencies aggregate FROM the tf frame
    * (term-level, far smaller than the token stream) and join back on
    * term — vocabulary-sized, so it stays a shuffle join (a 100 TB
    * corpus's vocab does not broadcast); the scalar N broadcasts. The
    * final per-doc top-k is one row_number window on the doc key.
    *
    * Determinism (the dsum discipline): the idf is rounded to 6 dp
    * and fixed as DECIMAL(18,6), then multiplied by the integral tf —
    * exact decimal arithmetic, so scores and therefore ranks are
    * engine-portable; only the display cast back to double rounds.
    *
    * Returns (idCol, term, tf, df, score, rk), rk ∈ [1, k]. The
    * returned frame is PERSISTED (operator-owned: ≤ k rows per doc,
    * far under the freed tf intermediate) — callers holding it past
    * their final action should `unpersist()` it. */
  def tfIdfTopK(
      docs: DataFrame,
      idCol: String,
      text: Column,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    // tf is PERSISTED: its two consumers (dfreq, the score join) would
    // otherwise each re-derive it from the corpus — two full scans +
    // tokenizations instead of one. The per-doc top-k result (≤ k rows
    // per doc, far under tf's distinct doc-term pairs) is materialized
    // before the tf cache is freed.
    val tf = docs
      .select(col(idCol), explode(tokens(lower(text))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // metadata-only parquet count — cheaper than a distinct over tf
    val nDocs = docs.select(countDistinct(col(idCol)).as("__n"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("__score",
        (col("tf") * round(log(col("__n").cast(DoubleType)) -
          log(col("df").cast(DoubleType)), 6).cast(DecimalType(18, 6)))
          .cast(DecimalType(18, 6)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("__score").desc, col("term").asc)
    val out = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("__score").cast(DoubleType).as("score"),
        col("rk").cast(LongType).as("rk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    tf.unpersist(false)
    out
  }

  /** BM25 term-frequency saturation k1 of [[bm25TopK]] and
    * [[bm25Retrieve]] (the Okapi default), read by their oracles. */
  private[graft] val Bm25K1 = 1.2

  /** BM25 document-length normalization b (the Okapi default). */
  private[graft] val Bm25B = 0.75

  /** BM25 relevance scoring of every (doc, term) pair — the standard
    * retrieval score TF-IDF lacks: term-frequency SATURATION (k1) and
    * document-length normalization (b), so long documents and
    * keyword-stuffed repetition stop dominating. Okapi form with
    * k1 = [[Bm25K1]], b = [[Bm25B]]:
    *   idf = ln((N − df + 0.5)/(df + 0.5) + 1)   [never negative]
    *   score = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Same one-corpus-scan shape as [[tfIdfTopK]]: tf persists (its
    * consumers: df aggregate, doc lengths, the score join), the
    * scalar (N, avgdl) pair broadcasts, top-k per doc is one window.
    * Determinism: score computed in DOUBLE (correctly-rounded IEEE
    * ops; ln agrees across engines at the 6 dp we keep — the same
    * empirical contract q_text_tfidf/q_text_pmi already pin), rounded
    * to 6 dp and fixed as DECIMAL before ranking, ties broken by term.
    *
    * Returns (idCol, term, tf, df, score, rk), rk ∈ [1, k]. Like
    * [[tfIdfTopK]], the returned frame is persisted (≤ k rows per
    * doc); `unpersist()` it when done at session scale. */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      text: Column,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val k1 = Bm25K1
    val b = Bm25B
    val tf = docs
      .select(col(idCol), explode(tokens(lower(text))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("__dl"))
    val totals = dl.agg(count(lit(1)).as("__n"),
      (sum(col("__dl")).cast(DoubleType) / count(lit(1))).as("__avgdl"))
    val scored = tf.join(dfreq, Seq("term"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(totals))
      .withColumn("__idf",
        log((col("__n").cast(DoubleType) - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("__score",
        round(col("__idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) +
            lit(b) * col("__dl").cast(DoubleType) / col("__avgdl"))), 6)
          .cast(DecimalType(18, 6)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("__score").desc, col("term").asc)
    val out = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("__score").cast(DoubleType).as("score"),
        col("rk").cast(LongType).as("rk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    tf.unpersist(false)
    out
  }

  /** BM25 retrieval: top-`k` corpus documents per query, scored by the
    * same Okapi formula as [[bm25TopK]] summed over the query's terms
    * (set semantics — duplicate query words score once, the standard
    * bag-of-words retrieval contract).
    *
    * Scale shape — the inverted-index join: the corpus is scanned once
    * into a persisted (doc, term, tf) postings frame; the QUERY side
    * (thousands of rows even in a large eval suite) broadcasts, so
    * restricting the postings to the query vocabulary is a map-side
    * hash probe, never a shuffle on `term`. Everything downstream of
    * that restriction is |query-vocab postings|-sized, not
    * corpus-sized: df comes from the restricted postings (df of term t
    * only ever counts rows with term = t, so restriction first is
    * lossless), the (qid, doc) score aggregation shuffles only
    * candidate pairs. Document length joins on the doc key from the
    * full postings (length must count ALL terms, not just query
    * terms); the scalar (N, avgdl) pair broadcasts.
    *
    * Determinism (the dsum discipline): each per-term score is rounded
    * to 6 dp and FIXED as DECIMAL(18,6) before the per-(query, doc)
    * sum — exact decimal addition is order-independent, so total
    * scores and therefore ranks are engine-portable; ties break by doc
    * id ascending.
    *
    * Returns (qid, idCol, n_terms, score, rk), rk ∈ [1, k]; `n_terms`
    * is how many distinct query terms the document matched. */
  def bm25Retrieve(
      docs: DataFrame,
      idCol: String,
      text: Column,
      queries: DataFrame,
      qidCol: String,
      qtext: Column,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val k1 = Bm25K1
    val b = Bm25B
    val tf = docs
      .select(col(idCol), explode(tokens(lower(text))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qterms = queries.select(col(qidCol),
      explode(array_distinct(tokens(lower(qtext)))).as("term"))
    // map-side probe: postings restricted to the query vocabulary
    val cand = tf.join(broadcast(qterms), Seq("term"))
    val dfreq = cand.select(col(idCol), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("__dl"))
    val totals = dl.agg(count(lit(1)).as("__n"),
      (sum(col("__dl")).cast(DoubleType) / count(lit(1))).as("__avgdl"))
    val scored = cand.join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(totals))
      .withColumn("__sc",
        round(log((col("__n").cast(DoubleType) - col("df") + lit(0.5)) /
            (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) +
            lit(b) * col("__dl").cast(DoubleType) / col("__avgdl"))), 6)
          .cast(DecimalType(18, 6)))
    val agg = scored.groupBy(col(qidCol), col(idCol))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("__sc")).cast(DecimalType(18, 6)).as("__score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col("__score").desc, col(idCol).asc)
    val out = agg.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(qidCol), col(idCol), col("n_terms"),
        col("__score").cast(DoubleType).as("score"),
        col("rk").cast(LongType).as("rk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    tf.unpersist(false)
    out
  }

  private val RrfC = 60

  /** Reciprocal-rank fusion of ranked retrieval lists — the standard
    * hybrid-search combiner (Cormack et al.'s RRF): each list
    * contributes 1/(c + rank) per (query, doc) and the fused order is
    * the score sum, so lists with incomparable score scales (BM25 vs
    * cosine) fuse on RANK alone. [[RrfC]] = 60 is the published
    * default.
    *
    * Input frames each carry (qidCol, idCol, rankCol); ranks are
    * small integers, so 1/(c+rank) rounds to 9 dp and fixes as
    * DECIMAL before the sum — the fused score, and therefore the
    * fused rank, is exact arithmetic over emitted-precision values
    * in any engine (ties break by doc id ascending).
    *
    * Scale shape: ranked lists are top-k-per-query frames — k·|q|
    * rows each, control-plane-sized next to the corpus that produced
    * them; the union + groupBy here shuffles only those. Returns
    * (qidCol, idCol, n_lists, rrf, rk) with rk ≤ `k`. */
  def rrfFuse(
      lists: Seq[DataFrame],
      qidCol: String,
      idCol: String,
      rankCol: String,
      k: Int): DataFrame = {
    require(lists.nonEmpty, "need at least one ranked list")
    require(k > 0)
    val u = lists
      .map(_.select(col(qidCol), col(idCol),
        col(rankCol).cast(LongType).as("__rk0")))
      .reduce(_ unionAll _)
    val agg = u
      .withColumn("__sc",
        round(lit(1.0) / (lit(RrfC.toDouble) + col("__rk0")), 9)
          .cast(DecimalType(18, 9)))
      .groupBy(col(qidCol), col(idCol))
      .agg(count(lit(1)).as("n_lists"), sum(col("__sc")).as("__s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col("__s").desc, col(idCol).asc)
    agg.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(qidCol), col(idCol), col("n_lists"),
        col("__s").cast(DoubleType).as("rrf"),
        col("rk").cast(LongType).as("rk"))
  }

  /** Bigram collocation mining by pointwise mutual information:
    * PMI(a,b) = ln p(a,b) − ln p(a) − ln p(b) computed from corpus
    * unigram/bigram counts as `ln c_ab + 2·ln U − ln T − ln c_a −
    * ln c_b` (U = total unigram occurrences, T = total bigram
    * occurrences) — all five terms are ln of exact integers, summed
    * then rounded to 6 dp, so both engines see identical values.
    * Bigrams under `minCount` occurrences are cut (PMI of rare pairs
    * is noise), and the global top-`k` is ordered (pmi desc, bigram
    * asc) — a TakeOrderedAndProject, never a full result sort.
    *
    * Scale shape: one shuffle each for bigram and unigram counts
    * (both map-side combined); the unigram table joins the
    * `minCount`-filtered bigram table twice on a word key —
    * vocabulary-sized shuffle joins; the two scalar totals broadcast.
    *
    * Returns (w1, w2, n_ab, pmi) — the top-`k` collocations. */
  def pmiCollocations(
      docs: DataFrame,
      text: Column,
      minCount: Int,
      k: Int): DataFrame = {
    require(minCount > 0 && k > 0, "minCount and k must be positive")
    val toks = docs.select(tokens(lower(text)).as("__tk"))
      .filter(size(col("__tk")) >= 2)
    val bigrams = toks.select(explode(expr(
        "transform(sequence(0, size(__tk) - 2), " +
          "i -> struct(__tk[i] AS w1, __tk[i + 1] AS w2))")).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    // Persist the two count frames: uni has three consumers (w1 join,
    // w2 join, the __u total) and the bigram counts two (the filtered
    // candidates and the unfiltered __t total) — without the persists
    // those re-derive from the CORPUS per consumer (five full scans +
    // tokenizations, measured). Both frames are vocab-/distinct-bigram-
    // sized, orders of magnitude under the corpus; totals derive from
    // them, so the corpus is scanned exactly twice (once per n-gram
    // order). The top-k result is driver-tiny, so caches free eagerly.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val uni = docs.select(explode(tokens(lower(text))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
      .persist(lvl)
    val bgAll = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_ab"))
      .persist(lvl)
    val bg = bgAll.filter(col("n_ab") >= minCount)
    val totals = bgAll.agg(sum(col("n_ab")).as("__t"))
      .crossJoin(uni.agg(sum(col("cw")).as("__u")))
    val out = bg
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("cw", "ca"),
        Seq("w1"))
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("cw", "cb"),
        Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_ab"),
        round(log(col("n_ab").cast(DoubleType)) +
          lit(2d) * log(col("__u").cast(DoubleType)) -
          log(col("__t").cast(DoubleType)) -
          log(col("ca").cast(DoubleType)) -
          log(col("cb").cast(DoubleType)), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
      .persist(lvl)
    out.count()
    uni.unpersist(false)
    bgAll.unpersist(false)
    out
  }

  /** Bigram collocation mining by Dunning's log-likelihood ratio
    * (Dunning 1993, "Accurate Methods for the Statistics of Surprise
    * and Coincidence") — the SMALL-COUNT-SAFE sibling of
    * [[pmiCollocations]]: PMI explodes for rare pairs (it divides by
    * tiny expected counts), while G² weights evidence by how much
    * data supports it, so high-G² pairs are both associated AND
    * well-attested. Over the bigram 2×2 table (first-word = a) ×
    * (second-word = b) with cell k11 = c_ab, margins c_a· (bigrams
    * starting with a), c_·b (ending with b), total T:
    *
    *   G² = 2·[ Σ_cells xlx − Σ_rows xlx − Σ_cols xlx + xlx(T) ]
    *
    * with xlx(n) = n·ln n (0 at n = 0) — the entropy form, all
    * arguments exact integers.
    *
    * Scale shape: one bigram count shuffle (map-side combined); the
    * two margin frames are aggregates of that persisted
    * vocabulary-sized frame joined back on a word key; T broadcasts;
    * the global top-`k` is a TakeOrderedAndProject.
    *
    * Determinism: ln of each exact integer fixes at 9 dp as
    * DECIMAL(18,9), multiplies by the exact long count (DECIMAL
    * (38,9), exact), the nine ±terms fold as DECIMAL, one 6-dp edge
    * round — both engines replay bit-for-bit.
    *
    * Returns (w1, w2, n_ab, g2) — the top-`k` by (g2 desc, w1, w2). */
  def gtestCollocations(
      docs: DataFrame,
      text: Column,
      minCount: Int,
      k: Int): DataFrame = {
    require(minCount > 0 && k > 0, "minCount and k must be positive")
    val toks = docs.select(tokens(lower(text)).as("__tk"))
      .filter(size(col("__tk")) >= 2)
    val bigrams = toks.select(explode(expr(
        "transform(sequence(0, size(__tk) - 2), " +
          "i -> struct(__tk[i] AS w1, __tk[i + 1] AS w2))")).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // one corpus pass; margins and the total derive from this frame
    val bgAll = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_ab"))
      .persist(lvl)
    val rowM = bgAll.groupBy(col("w1")).agg(sum(col("n_ab")).as("ca"))
    val colM = bgAll.groupBy(col("w2")).agg(sum(col("n_ab")).as("cb"))
    val totals = bgAll.agg(sum(col("n_ab")).as("__t"))
    // exact decimal product: DECIMAL(19,0)·DECIMAL(18,9) fits the
    // 38-precision cap at scale 9 — a (38,9)·(18,9) multiply would
    // trip Spark's precision-loss rule and silently reduce the scale
    // each term narrows to DECIMAL(28,9) (values ≤ T·ln T ≈ 10¹⁷/10⁹
    // — 17 digits, fits with room) so the nine chained ±adds stay
    // under the 38-digit width cap in BOTH engines
    def xlx(c: Column): Column =
      when(c > 0, (c.cast(DecimalType(19, 0)) *
          round(log(c.cast(DoubleType)), 9).cast(DecimalType(18, 9)))
          .cast(DecimalType(28, 9)))
        .otherwise(lit(0).cast(DecimalType(28, 9)))
    val out = bgAll.filter(col("n_ab") >= minCount)
      .join(rowM, Seq("w1"))
      .join(colM, Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_ab"),
        // the nine ±terms fold exactly in DECIMAL; the ×2 happens
        // after the cast to double (doubling a double is exact)
        round((xlx(col("n_ab")) + xlx(col("ca") - col("n_ab")) +
            xlx(col("cb") - col("n_ab")) +
            xlx(col("__t") - col("ca") - col("cb") + col("n_ab")) -
            xlx(col("ca")) - xlx(col("__t") - col("ca")) -
            xlx(col("cb")) - xlx(col("__t") - col("cb")) +
            xlx(col("__t"))).cast(DoubleType) * lit(2.0), 6).as("g2"))
      .orderBy(col("g2").desc, col("w1").asc, col("w2").asc)
      .limit(k)
      .persist(lvl)
    out.count()
    bgAll.unpersist(false)
    out
  }

  /** Word n-grams WITH multiplicity (the bag the DSIR bucket model
    * counts — [[graft.operators.Dedup.shinglesOfTokens]] dedups, this
    * must not): consecutive `n`-token windows joined by one space;
    * a doc under `n` tokens contributes nothing. */
  private def gramsOfTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
      .otherwise(array().cast(ArrayType(StringType)))

  /** Hash cells of the DSIR bigram model (B below), shared by the
    * streaming twin and the oracles. */
  private[graft] val DsirBuckets = 4096

  /** DSIR-style importance log-weights over hashed bigrams (Xie,
    * Santurkar, Ma, Liang — "Data Selection for Language Models via
    * Importance Resampling", NeurIPS 2023): every document scores
    * Σ_g [ln p̂_target(b(g)) − ln p̂_raw(b(g))] over its bigram bag,
    * where b hashes a bigram into one of [[DsirBuckets]] cells with the
    * portable polynomial hash and both distributions are Laplace-
    * smoothed bucket frequencies ((c+1)/(N+B)) — p̂_target from
    * the `isTarget` rows (the corpus slice that LOOKS like what you
    * want more of), p̂_raw from the whole frame. High scores mark raw
    * documents that resemble the target distribution: rank by score
    * and keep the head (or Gumbel-resample) — the standard
    * quality-data selection step between dedup and mixing.
    *
    * Scale shape: one corpus pass to the ≤B-row hashed count
    * frame (map-side combined — the bucket model is WHY DSIR scales:
    * the vocabulary never materializes), the log-ratio table is a
    * ≤B-row broadcast, and scoring is one more pass + a
    * per-doc aggregate. Nothing grows with corpus size except the
    * two linear scans.
    *
    * Determinism (the gate discipline): the per-bucket log-ratio is
    * rounded to 6 dp and fixed as DECIMAL(18,6) — per-doc scores are
    * then exact decimal sums (order-free), and ties rank by doc id
    * downstream.
    *
    * Returns (idCol, n_grams, score) for every document with at
    * least one bigram; score reported at 6 dp. */
  def dsirLogWeights(
      docs: DataFrame,
      idCol: String,
      text: Column,
      isTarget: Column): DataFrame = {
    val grams = dsirGrams(docs, idCol, text, isTarget, DsirBuckets)
    val counts = grams
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("__cr"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("__ct"))
      .localCheckpoint(true)
    dsirScore(grams, counts, idCol, DsirBuckets)
  }

  /** The hashed-bigram bag of [[dsirLogWeights]]: one row per gram
    * occurrence — (idCol, __b bucket, __t target flag). Shared by the
    * batch scorer and the streaming bucket-count state so both sides
    * hash identically. */
  private[graft] def dsirGrams(
      docs: DataFrame,
      idCol: String,
      text: Column,
      isTarget: Column,
      buckets: Int): DataFrame =
    docs
      .select(col(idCol), tokens(lower(text)).as("__toks"),
        isTarget.as("__t"))
      .select(col(idCol), explode(gramsOfTokens(col("__toks"), 2))
        .as("__g"), col("__t"))
      .select(col(idCol),
        pmod(graft.operators.Dedup.polyHash(col("__g")), lit(buckets))
          .as("__b"), col("__t"))

  /** [[dsirLogWeights]]'s scoring tail over an ALREADY-BUILT bucket
    * count frame (__b, __cr, __ct) — counts are associative integer
    * folds, so the frame can come from the one-pass batch groupBy or
    * from drained streaming state ([[graft.streaming.Streams
    * .dsirBucketCountsState]]) and the scores are identical. */
  private[graft] def dsirScore(
      grams: DataFrame,
      counts: DataFrame,
      idCol: String,
      buckets: Int): DataFrame = {
    val tot = counts.agg(sum(col("__cr")).as("nr"), sum(col("__ct"))
      .as("nt")).collect()(0)
    require(!tot.isNullAt(0) && !tot.isNullAt(1),
      "dsirScore: empty bucket-count frame (no document has a bigram)")
    val (nr, nt) = (tot.getLong(0), tot.getLong(1))
    require(nt >= 1 && nt < nr,
      "dsirLogWeights: the target slice must be a proper subset")
    // same literal op order as the oracle: +ln(ct+1) − ln(nt+B)
    // − ln(cr+1) + ln(nr+B), rounded ONCE at 6 dp
    val lr = counts.select(col("__b"),
      round(log(col("__ct").cast(DoubleType) + 1.0) -
        log(lit((nt + buckets).toDouble)) -
        log(col("__cr").cast(DoubleType) + 1.0) +
        log(lit((nr + buckets).toDouble)), 6)
        .cast(DecimalType(18, 6)).as("__lr"))
    grams
      .join(broadcast(lr), Seq("__b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        round(sum(col("__lr")).cast(DoubleType), 6).as("score"))
  }

  /** Trending tokens between two corpus halves: the top-k RISING and
    * top-k FALLING tokens by smoothed log-rate-ratio
    * ln(((c_late+1)/n_late) / ((c_early+1)/n_early)) — the "what
    * changed in this crawl" monitor (a token surging between
    * ingestion waves is a template, a spam campaign, or a topic
    * shift; one collapsing is a source going dark). Add-one
    * smoothing keeps tokens absent from one half finite.
    *
    * Scale shape: one corpus pass to a vocab-sized (token, early,
    * late) count frame (map-side combined); totals are a 1-row
    * broadcast; each direction's top-k plans as
    * TakeOrderedAndProject (per-partition top-k, driver merge) — a
    * global sort never happens — and the rank window runs over the
    * k-row result.
    *
    * Returns 2k rows: (direction, rank, token, c_early, c_late,
    * score), direction ∈ {rising, falling}. */
  def trendingTokens(
      docs: DataFrame,
      lateFlag: Column,
      text: Column,
      minCount: Int = 20,
      k: Int = 15): DataFrame = {
    require(minCount > 0 && k > 0, "minCount and k must be positive")
    trendingFromCounts(docs
      .select(lateFlag.cast(BooleanType).as("__late"),
        explode(tokens(lower(text))).as("w"))
      .groupBy(col("w"))
      .agg(sum(when(col("__late"), 0L).otherwise(1L)).as("c_early"),
        sum(when(col("__late"), 1L).otherwise(0L)).as("c_late")),
      minCount, k)
  }

  /** The scoring tail of [[trendingTokens]], split out so the
    * STREAMING twin (a drained cross-batch cumulative token-count
    * state, `Streams.tokenCountsState`) can feed the exact same
    * smoothed log-rate-ratio + top-k machinery and be gated against
    * the batch oracle (the q_stream_drift pattern). `countsIn` must
    * carry (w, c_early, c_late), one row per token. */
  def trendingFromCounts(
      countsIn: DataFrame,
      minCount: Int = 20,
      k: Int = 15): DataFrame = {
    require(minCount > 0 && k > 0, "minCount and k must be positive")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val counts = countsIn.persist(lvl)
    val tot = counts.agg(sum(col("c_early")).as("__ne"),
      sum(col("c_late")).as("__nl"))
    val scored = counts
      .filter(col("c_early") + col("c_late") >= minCount)
      .crossJoin(broadcast(tot))
      .select(col("w"), col("c_early"), col("c_late"),
        round(log(((col("c_late") + 1).cast(DoubleType) /
          col("__nl").cast(DoubleType)) /
          ((col("c_early") + 1).cast(DoubleType) /
            col("__ne").cast(DoubleType))), 6).as("score"))
    def side(direction: String, ord: Seq[Column]): DataFrame = {
      // limit(k) already bounds the frame; the guard keeps the
      // no-raw-unpartitioned-window contract uniform
      val top = Guards.boundedSeries(
        scored.orderBy(ord: _*).limit(k), s"trendingTokens $direction")
      top.withColumn("rank",
          row_number().over(Guards.seriesWindow(ord: _*)))
        .select(lit(direction).as("direction"), col("rank"),
          col("w").as("token"), col("c_early"), col("c_late"),
          col("score"))
    }
    val out = side("rising",
        Seq(col("score").desc, col("w").asc))
      .unionByName(side("falling",
        Seq(col("score").asc, col("w").asc)))
      .persist(lvl)
    out.count()
    counts.unpersist(false)
    out
  }

  /** Per-group keyphrase extraction: top-k bigrams per group by PMI
    * computed WITHIN the group's own token distribution — "what
    * phrases characterize this source/shard" (a bigram ubiquitous in
    * one crawl but rare in its own unigram mix scores high there
    * even if the global corpus drowns it). The grouped sibling of
    * [[pmiCollocations]], same five-ln-term formula per group.
    *
    * Scale shape: the corpus tokenizes twice (once per n-gram order,
    * the pmiCollocations contract); both count frames are
    * (group × vocab)-sized and persisted across their consumers;
    * per-group totals broadcast; the top-k is a group-partitioned
    * rank window over the scored-bigram frame, never a global sort.
    *
    * Returns (groupCol, w1, w2, n_ab, pmi, rank), rank 1..k. */
  def keyphrasesPerGroup(
      docs: DataFrame,
      groupCol: String,
      text: Column,
      minCount: Int,
      k: Int): DataFrame = {
    require(minCount > 0 && k > 0, "minCount and k must be positive")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val toks = docs.select(col(groupCol).as("__g"),
      tokens(lower(text)).as("__tk"))
    val uni = toks.select(col("__g"), explode(col("__tk")).as("w"))
      .groupBy(col("__g"), col("w")).agg(count(lit(1)).as("cw"))
      .persist(lvl)
    val bgAll = toks.filter(size(col("__tk")) >= 2)
      .select(col("__g"), explode(expr(
        "transform(sequence(0, size(__tk) - 2), " +
          "i -> struct(__tk[i] AS w1, __tk[i + 1] AS w2))")).as("bg"))
      .select(col("__g"), col("bg.w1"), col("bg.w2"))
      .groupBy(col("__g"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_ab"))
      .persist(lvl)
    val totals = bgAll.groupBy(col("__g")).agg(sum(col("n_ab")).as("__t"))
      .join(uni.groupBy(col("__g")).agg(sum(col("cw")).as("__u")),
        Seq("__g"))
    val scored = bgAll.filter(col("n_ab") >= minCount)
      .join(uni.withColumnRenamed("w", "w1")
        .withColumnRenamed("cw", "ca"), Seq("__g", "w1"))
      .join(uni.withColumnRenamed("w", "w2")
        .withColumnRenamed("cw", "cb"), Seq("__g", "w2"))
      .join(broadcast(totals), Seq("__g"))
      .select(col("__g"), col("w1"), col("w2"), col("n_ab"),
        round(log(col("n_ab").cast(DoubleType)) +
          lit(2d) * log(col("__u").cast(DoubleType)) -
          log(col("__t").cast(DoubleType)) -
          log(col("ca").cast(DoubleType)) -
          log(col("cb").cast(DoubleType)), 6).as("pmi"))
    val w = Window.partitionBy(col("__g"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
    val out = scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__g").as(groupCol), col("w1"), col("w2"),
        col("n_ab"), col("pmi"), col("rank"))
      .persist(lvl)
    out.count()
    uni.unpersist(false)
    bgAll.unpersist(false)
    out
  }

  /** Zipf rank-frequency fit over the top-`topN` tokens: OLS slope of
    * ln(frequency) on ln(rank) — natural text runs near −1; templated
    * or keyword-stuffed corpora flatten (slope → 0) and synthetic
    * near-uniform feeds collapse r². The corpus-health twin of
    * [[lexicalDiversity]] at the distribution-shape level.
    *
    * Scale shape: ONE corpus-scale shuffle (map-side-combined token
    * counts); the top-N cut plans as `TakeOrderedAndProject`
    * (per-partition top-N, driver merge); the rank window and the
    * regression run on the N-row result — control-plane by
    * construction.
    *
    * Determinism (the dsum discipline): each ln is rounded to 6 dp
    * and fixed as DECIMAL(18,6); the five OLS sums are exact decimal
    * arithmetic (order-independent, engine-portable); only the final
    * slope/intercept/r² arithmetic runs in double, on identical
    * decimal inputs, rounded once at the edge.
    *
    * Returns one row (n_ranks, slope, intercept, r2). */
  /** Vocabulary coverage curve: the share of all corpus token
    * OCCURRENCES covered by the top-V most frequent tokens, at each
    * requested V — the tokenizer-design diagnostic (read the vocab
    * size off the curve instead of guessing it). Coverage is integer
    * ppm (cum·10⁶ div total), ties in the frequency ranking broken
    * token-ascending so the cut is engine-portable. A V beyond the
    * distinct-vocabulary size yields no row (nothing ranks there) —
    * same in the oracle.
    *
    * Scale shape: one map-side-combined token count, persisted for
    * its two consumers (the corpus scans once); the global occurrence
    * total is a full-table aggregate over the counts; the top-max(V)
    * cut is a TakeOrderedAndProject (per-partition top-N + driver
    * merge — no global sort at any vocabulary size), and the rank +
    * cumulative window runs over ≤ max(V) control-plane rows.
    *
    * Returns (v, n_covered, coverage_ppm), one row per V. */
  def vocabCoverage(
      docs: DataFrame,
      textCol: Column,
      vs: Seq[Int]): DataFrame = {
    require(vs.nonEmpty && vs.forall(_ > 0),
      s"coverage marks must be positive: $vs")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val cnt = docs.select(explode(tokens(lower(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("__c"))
      .persist(lvl)
    val total = cnt.agg(sum(col("__c")).as("__tot"))
    val w = Guards.seriesWindow(col("__c").desc, col("token").asc)
    val out = Guards.boundedSeries(
        cnt.orderBy(col("__c").desc, col("token").asc).limit(vs.max),
        "coverageCurve top ranks")
      .withColumn("__r", row_number().over(w))
      .withColumn("__cum", sum(col("__c")).over(w))
      .filter(col("__r").isInCollection(vs))
      .crossJoin(broadcast(total))
      .select(col("__r").cast(LongType).as("v"),
        col("__cum").as("n_covered"),
        expr("__cum * 1000000 div __tot").as("coverage_ppm"))
      .persist(lvl)
    out.count()
    cnt.unpersist(false)
    out
  }

  /** Good–Turing vocabulary coverage per group: from each group's
    * token counts-of-counts, the UNSEEN-MASS estimate P₀ = N₁/N (the
    * probability the next token drawn is a type never seen — Good
    * 1953) and the bias-corrected Chao1 richness estimate
    * V + N₁(N₁−1)/(2(N₂+1)) (Chao 1984) — the "how much vocabulary
    * does this source still hide" gauge that tells a crawl planner
    * whether another pass pays off. A HIGH unseen mass means the
    * corpus is still discovering the source's vocabulary; Chao1 ≈ V
    * means it is tapped out.
    *
    * Scale shape: one corpus pass to per-(group, token) counts
    * (map-side combined), then a group-level aggregate over the
    * vocab-sized frame — no windows, no sorts. Determinism: N, V,
    * N₁, N₂ are exact longs; the only doubles are the final two
    * divisions of exact integers (IEEE-identical in every engine),
    * rounded to 6 dp.
    *
    * Returns one row per group: (groupCols..., n_tokens, vocab, n1,
    * n2, unseen_mass, chao1). */
  def vocabCoverage(
      docs: DataFrame,
      groupCols: Seq[String],
      textCol: Column): DataFrame = {
    val grp = groupCols.map(col)
    val counts = docs
      .select(grp :+ explode(tokens(lower(textCol))).as("__w"): _*)
      .groupBy(grp :+ col("__w"): _*)
      .agg(count(lit(1)).as("__c"))
    counts.groupBy(grp: _*)
      .agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("__c") === 2, 1L).otherwise(0L)).as("n2"))
      .select(grp ++ Seq(col("n_tokens"), col("vocab"), col("n1"),
        col("n2"),
        round(col("n1").cast(DoubleType) /
          col("n_tokens").cast(DoubleType), 6).as("unseen_mass"),
        round(col("vocab").cast(DoubleType) +
          (col("n1") * (col("n1") - 1)).cast(DoubleType) /
            (lit(2.0) * (col("n2") + 1).cast(DoubleType)), 6)
          .as("chao1")): _*)
  }

  private val BurstinessTopK = 20

  /** Token burstiness — the Fano factor (variance-to-mean ratio) of
    * each token's PER-DOCUMENT count, absent documents counting as
    * zero: function words spread evenly (Fano ≈ 1, Poisson-like)
    * while topical and boilerplate tokens clump into few documents
    * (Fano ≫ 1) — the dispersion lens [[zipfFit]]'s raw frequency
    * ranking can't see (a navigation-bar token and a common verb can
    * share a total count and differ 100× in burstiness; the bursty
    * one is the template-contamination signal).
    *
    * Scale shape: one corpus tokenize pass to map-side-combined
    * (doc, token) counts, one token-keyed aggregate to the
    * vocabulary-sized (n_docs, Σc, Σc²) frame, the 1-row corpus doc
    * count broadcast back, and the top-k cut under the total (fano
    * desc, token asc) order plans as TakeOrderedAndProject.
    *
    * Determinism: Σc/Σc² are exact longs; mean and the zero-
    * inclusive sample variance derive in literal oracle order
    * ((Σc² − Σc²/N)/(N−1) over Σc/N), identical IEEE doubles in both
    * engines, so the ranking replays. `minDocs` filters the
    * rare-token noise floor (a 1-doc token is maximally bursty and
    * meaningless).
    *
    * Returns ≤ [[BurstinessTopK]] rows: (token, n_docs,
    * n_occurrences, fano). */
  def tokenBurstiness(
      docs: DataFrame,
      idCol: Column,
      textCol: Column,
      minDocs: Long = 10L): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).as("__nd"))
    val perDoc = docs
      .select(idCol.as("__id"),
        explode(tokens(lower(textCol))).as("token"))
      .groupBy(col("__id"), col("token"))
      .agg(count(lit(1)).as("__c"))
    val perTok = perDoc.groupBy(col("token"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__c")).as("__s"),
        sum(col("__c") * col("__c")).as("__ss"))
      .filter(col("n_docs") >= minDocs)
    def d(c: Column) = c.cast(DoubleType)
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    val nD = d(col("__nd"))
    val varZ = (d(col("__ss")) - d(col("__s")) * d(col("__s")) / nD) /
      safe(nD - lit(1.0))
    val mean = d(col("__s")) / nD
    perTok.crossJoin(broadcast(nDocs)) // 1-row control plane
      .select(col("token"), col("n_docs"),
        col("__s").as("n_occurrences"),
        when(col("__nd") > 1, round(varZ / safe(mean), 6))
          .otherwise(lit(null).cast(DoubleType)).as("fano"))
      .orderBy(col("fano").desc, col("token").asc)
      .limit(BurstinessTopK)
  }

  def zipfFit(
      docs: DataFrame,
      textCol: Column,
      topN: Int): DataFrame = {
    require(topN > 1, s"topN must be > 1: $topN")
    val cnt = docs.select(explode(tokens(lower(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("__c"))
    val top = Guards.boundedSeries(
      cnt.orderBy(col("__c").desc, col("token").asc).limit(topN),
      "zipfFit top ranks")
    val w = Guards.seriesWindow(col("__c").desc, col("token").asc)
    val ranked = top.withColumn("__r", row_number().over(w))
    val dec = (c: Column) =>
      round(log(c.cast(DoubleType)), 6).cast(DecimalType(18, 6))
    val pts = ranked.select(dec(col("__r")).as("__x"), dec(col("__c")).as("__y"))
    logLogOls(pts, "n_ranks")
  }

  /** Shared log-log OLS finale over a (__x, __y) DECIMAL(18,6) point
    * frame: exact decimal moment sums, then the slope / intercept /
    * r² closed form in a fixed double op order — the [[zipfFit]]
    * arithmetic, reused by [[heapsFit]]. `nName` labels the point
    * count in the output. */
  private def logLogOls(pts: DataFrame, nName: String): DataFrame = {
    val agg = pts.agg(count(lit(1)).as(nName),
      sum(col("__x")).as("__sx"),
      sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__y")).as("__sy"),
      sum(col("__x") * col("__y")).as("__sxy"),
      sum(col("__y") * col("__y")).as("__syy"))
    val nD = col(nName).cast(DoubleType)
    val sx = col("__sx").cast(DoubleType)
    val sy = col("__sy").cast(DoubleType)
    val num = nD * col("__sxy").cast(DoubleType) - sx * sy
    val den = nD * col("__sxx").cast(DoubleType) - sx * sx
    val denY = nD * col("__syy").cast(DoubleType) - sy * sy
    agg.select(col(nName),
      when(den =!= 0.0, round(num / den, 6)).as("slope"),
      when(den =!= 0.0,
        round((sy - num / den * sx) / nD, 6)).as("intercept"),
      when(den =!= 0.0 && denY =!= 0.0,
        round(num * num / (den * denY), 6)).as("r2"))
  }

  /** Heaps-law exponent fit: OLS of ln(cum_types) on ln(cum_tokens)
    * over a [[vocabGrowth]] curve — V(N) ≈ K·N^β, so the slope IS β
    * (healthy natural text sits near 0.4–0.6; β → 0 means new waves
    * re-crawl known vocabulary, β → 1 means near-random token soup).
    * The vocabulary-budget planner's one-number answer to "how fast
    * does vocab grow if we 10× the corpus". Intercept = ln K (emitted
    * as-is — no exp(), which is not correctly-rounded across
    * engines). Waves with a zero cumulative are excluded (ln
    * undefined); the fit runs on the |waves|-row control frame. */
  def heapsFit(growth: DataFrame): DataFrame = {
    val dec = (c: Column) =>
      round(log(c.cast(DoubleType)), 6).cast(DecimalType(18, 6))
    val pts = growth
      .filter(col("cum_tokens") > 0 && col("cum_types") > 0)
      .select(dec(col("cum_tokens")).as("__x"),
        dec(col("cum_types")).as("__y"))
    logLogOls(pts, "n_waves")
  }

  /** Heaps-law vocabulary-growth table: per ingestion wave (shard,
    * crawl batch, snapshot day — any integral ordinal), token
    * occurrences and NEW types (tokens seen in no earlier wave), plus
    * both cumulative curves. Healthy natural-text growth follows
    * V(N) ≈ K·N^β with β ≈ 0.4–0.6 — a flattening cum_types curve
    * means new waves re-crawl known vocabulary (the token-level twin
    * of [[graft.operators.Dedup.shingleNovelty]]); plot ln(cum_types)
    * against ln(cum_tokens) or fit it with the [[zipfFit]] OLS.
    *
    * Scale shape: ONE corpus-scale shuffle (map-side-combined
    * (wave, token) counts); first-seen is a min-per-token aggregate of
    * that vocab-sized frame; the cumulative window runs over the
    * |waves|-row result — control-plane by construction. Pure integer
    * counts end-to-end: no float surface at all (the TVD-portability
    * rule).
    *
    * Returns (wave, n_tokens, n_new_types, cum_tokens, cum_types)
    * sorted by wave. */
  def vocabGrowth(
      docs: DataFrame,
      waveCol: Column,
      textCol: Column): DataFrame = {
    val cnt = docs
      .select(waveCol.cast(LongType).as("wave"),
        explode(tokens(lower(textCol))).as("__tok"))
      .groupBy(col("wave"), col("__tok"))
      .agg(count(lit(1)).as("__c"))
    val perWave = cnt.groupBy(col("wave"))
      .agg(sum(col("__c")).as("n_tokens"))
    val firstSeen = cnt.groupBy(col("__tok"))
      .agg(min(col("wave")).as("wave"))
      .groupBy(col("wave"))
      .agg(count(lit(1)).as("n_new_types"))
    val w = Guards.seriesWindow(col("wave"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Guards.boundedSeries(perWave.join(firstSeen, Seq("wave"), "left"),
        "heapsGrowth waves")
      .select(col("wave"), col("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_types", sum(col("n_new_types")).over(w))
  }

  /** Frequency-ranked vocabulary induction: the top `vocabSize`
    * whitespace tokens by (count desc, token asc), densely numbered
    * 0..vocabSize−1 in that order. Returns (token, id: long).
    *
    * The count aggregation is the only corpus-scale shuffle; the
    * top-V cut plans as `TakeOrderedAndProject` (per-partition top-V,
    * driver merge — never a global sort of the distinct-token set),
    * and the id-assignment window runs on the V-row result, which is
    * control-plane by construction. */
  def induceVocab(
      docs: DataFrame,
      textCol: Column,
      vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val cnt = docs.select(explode(tokens(textCol)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("__c"))
    val top = Guards.boundedSeries(
      cnt.orderBy(col("__c").desc, col("token").asc).limit(vocabSize),
      "vocab build")
    val w = Guards.seriesWindow(col("__c").desc, col("token").asc)
    top.withColumn("id", (row_number().over(w) - 1).cast(LongType))
      .select(col("token"), col("id"))
  }

  /** Byte-pair-encoding merge induction (Sennrich et al. 2016,
    * arXiv:1508.07909) over the corpus's whitespace-word frequency
    * dict: each word becomes a space-delimited symbol sequence
    * (initially characters), and each round merges the globally
    * most-frequent adjacent symbol pair — ties broken (freq DESC,
    * left ASC, right ASC), so the merge list is deterministic.
    * Returns the learned merge table (step, l, r, merged, pair_freq),
    * the artifact a tokenizer trainer ships.
    *
    * Shape at 100 TB: ONE corpus pass builds the word-frequency dict
    * (the only corpus-scale shuffle — BPE statistics are a function
    * of the dict, not the raw corpus); every merge round then runs on
    * the dict alone (vocab-sized: bounded by distinct words, millions
    * of rows at web scale vs billions of documents). Per round: one
    * adjacent-pair aggregation over the dict (map-side combined), a
    * 1-row argmax collect (control-plane), and a per-row double
    * `replace` applying the merge. The dict is re-materialized per
    * round, so lineage stays one generation deep (the pageRank
    * discipline).
    *
    * Portability: the double literal replace (` l r ` → ` lr ` on the
    * space-wrapped sequence, applied twice) reproduces greedy
    * left-to-right BPE application exactly — a first pass misses an
    * occurrence only when it abuts a replaced one (the shared
    * delimiter space is consumed), such misses are never adjacent to
    * each other, so a second pass catches them all; Java and DuckDB
    * `replace` share the resume-after-replacement scan, verified on
    * the adjacent-run cases. Pure string/integer arithmetic — no
    * float surface at all. */
  def bpeMerges(
      docs: DataFrame,
      textCol: Column,
      nMerges: Int): DataFrame = {
    val (merges, dict) = bpeTrain(docs, textCol, nMerges)
    dict.unpersist(false)
    merges
  }

  /** Dict-size bound under which [[bpeTrain]]'s merge loop runs on
    * the DRIVER over the collected word dict: 2²⁰ distinct words
    * (the union-find collect idiom — tens of MB), far above any
    * gate corpus and a deliberate, documented ceiling. Above it the
    * distributed per-round loop takes over unchanged. */
  val MaxBpeDictDriver = 1L << 20

  /** The full BPE training artifact pair: the merge table of
    * [[bpeMerges]] AND the final segmented dict (word, s, f) with `s`
    * the space-delimited subword split of each distinct word after
    * all merges — persisted, caller-owned (the encode path joins the
    * corpus against it; see [[bpeSubwordStats]]).
    *
    * Action count (VERDICT r10 item 7): the dict is VOCAB-sized, so
    * when it fits the documented [[MaxBpeDictDriver]] bound the whole
    * merge loop runs driver-side over the collected dict — ONE
    * corpus-scale action total instead of two Spark jobs per merge
    * (nMerges × (aggregate + materialize) ≈ 17 scheduler round-trips
    * for 8 merges, pure overhead on a vocab-sized frame). The driver
    * loop replays the distributed arithmetic exactly: the same
    * adjacent-pair frequency sums, the same (freq DESC, l ASC UTF-8,
    * r ASC UTF-8) tie-break, and the same double space-wrapped
    * literal replace — so the fast path is bit-identical (gated by
    * q_bpe_merges / q_bpe_encode and pinned by TextAnalysisSpec's
    * path-equality test). Past the bound, the distributed per-round
    * loop below is the 100 TB contract (one map-side-combined pair
    * aggregate + 1-row argmax per round). */
  def bpeTrain(
      docs: DataFrame,
      textCol: Column,
      nMerges: Int,
      maxDictDriver: Long = MaxBpeDictDriver): (DataFrame, DataFrame) = {
    require(nMerges > 0 && nMerges <= 64,
      s"nMerges out of range: $nMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var dict = docs.select(explode(tokens(textCol)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .select(col("w"),
        trim(regexp_replace(col("w"), "(.)", "$1 ")).as("s"),
        col("f"))
      .persist(lvl)
    val nWords = dict.count()
    if (nWords <= maxDictDriver) {
      val rows = dict.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      dict.unpersist(false)
      return bpeTrainDriver(spark, rows, nMerges)
    }
    val merges =
      scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    var step = 0
    var exhausted = false
    while (step < nMerges && !exhausted) {
      step += 1
      val a = split(col("s"), " ")
      val best = dict
        .select(col("f"), explode(zip_with(
          slice(a, lit(1), size(a) - 1),
          slice(a, lit(2), size(a) - 1),
          (l, r) => struct(l.as("l"), r.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("f")).as("pf"))
        .orderBy(col("pf").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, pf) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((step.toLong, l, r, l + r, pf))
        val pat = lit(s" $l $r ")
        val rep = lit(s" $l$r ")
        val applied = trim(replace(replace(
          concat(lit(" "), col("s"), lit(" ")), pat, rep), pat, rep))
        val next = dict
          .select(col("w"), applied.as("s"), col("f")).persist(lvl)
        next.count()
        dict.unpersist(false)
        dict = next
      }
    }
    (merges.toSeq.toDF("step", "l", "r", "merged", "pair_freq"), dict)
  }

  /** UTF-8 byte order — what Spark's string ASC sort compares; the
    * driver tie-break must match it, not UTF-16 compareTo (they
    * disagree above the BMP). */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver-side BPE merge loop over the collected (word, seq, freq)
    * dict — the [[bpeTrain]] fast path. Identical arithmetic to the
    * distributed rounds: adjacent-pair frequency sums over every
    * occurrence, (freq DESC, l, r ASC UTF-8) argmax, and the same
    * double space-wrapped literal replace (Java `String.replace`
    * shares the resume-after-replacement scan with Spark and
    * DuckDB). */
  private def bpeTrainDriver(
      spark: org.apache.spark.sql.SparkSession,
      rows: Array[(String, String, Long)],
      nMerges: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val segs = rows.map { case (w, s, f) => (w, s, f) }
    val merges =
      scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    var step = 0
    var exhausted = false
    while (step < nMerges && !exhausted) {
      step += 1
      val pf = scala.collection.mutable.HashMap[(String, String), Long]()
      segs.foreach { case (_, s, f) =>
        val a = s.split(" ")
        var i = 0
        while (i + 1 < a.length) {
          val k = (a(i), a(i + 1))
          pf(k) = pf.getOrElse(k, 0L) + f
          i += 1
        }
      }
      if (pf.isEmpty) exhausted = true
      else {
        val ((l, r), best) = pf.foldLeft(
          (("", ""), Long.MinValue)) { case (acc @ ((bl, br), bf), ((cl, cr), cf)) =>
          if (cf > bf ||
            (cf == bf && (utf8Lt(cl, bl) ||
              (cl == bl && utf8Lt(cr, br)))))
            ((cl, cr), cf)
          else acc
        }
        merges += ((step.toLong, l, r, l + r, best))
        val pat = s" $l $r "
        val rep = s" $l$r "
        var i = 0
        while (i < segs.length) {
          val (w, s, f) = segs(i)
          segs(i) = (w,
            (" " + s + " ").replace(pat, rep).replace(pat, rep).trim, f)
          i += 1
        }
      }
    }
    (merges.toSeq.toDF("step", "l", "r", "merged", "pair_freq"),
      segs.toSeq.toDF("w", "s", "f"))
  }

  /** Tokenizer-fertility audit: encode the corpus with a trained BPE
    * dict ([[bpeTrain]]'s segmented dict, broadcast — vocab-sized)
    * and report per-group subword statistics: word occurrences,
    * subword tokens emitted, single-token words, and the character
    * total (the compression denominator). Fertility (subwords/word)
    * is THE tokenizer-quality number a training pipeline watches —
    * a rising value means the vocab no longer fits the corpus.
    *
    * Shape at 100 TB: one corpus pass (token explode), a broadcast
    * hash join against the dict, one group-key shuffle of partial
    * sums. */
  def bpeSubwordStats(
      docs: DataFrame,
      groupCol: String,
      textCol: Column,
      segmentedDict: DataFrame): DataFrame = {
    val nSub = size(split(col("s"), " "))
    docs.select(col(groupCol), explode(tokens(textCol)).as("w"))
      .join(broadcast(segmentedDict.select(col("w"), col("s"))),
        Seq("w"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_words"),
        sum(nSub.cast(LongType)).as("n_subwords"),
        sum(when(nSub === 1, 1L).otherwise(0L)).as("n_whole_words"),
        sum(length(col("w")).cast(LongType)).as("n_chars"))
  }

  /** Encode documents as fixed-vocabulary id sequences: whitespace
    * tokens map through `vocab` ((token, id), broadcast — the vocab
    * is control-plane by construction), out-of-vocabulary tokens map
    * to `unkId`, token order is preserved. Returns
    * (idCol, ids: array<long>).
    *
    * Shape at 100 TB: one corpus pass (posexplode), a broadcast hash
    * join against the vocab, one shuffle on the document id to
    * reassemble the sequence — the tokenize-encode step every
    * training run performs on its way to packing. */
  def encodeDocs(
      docs: DataFrame,
      idCol: String,
      textCol: Column,
      vocab: DataFrame,
      unkId: Long): DataFrame = {
    val toks = docs.select(col(idCol),
      posexplode(tokens(textCol)).as(Seq("__pos", "token")))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .select(col(idCol), col("__pos"),
        coalesce(col("id"), lit(unkId)).as("__id"))
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("__pos"), col("__id")))),
        s => s.getField("__id")).as("ids"))
  }
}
