package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

/** Distribution statistics for the 100 TB regime.
  *
  * Exact quantiles need a full sort (or Spark's `percentile`, which
  * collects per-group value multisets); `approx_percentile` is
  * KLL/GK-based and no external engine can reproduce its estimate.
  * The histogram quantile here is the classic fixed-bin compromise:
  * one narrow shuffle of (group, bin-id, count) integer triples —
  * bounded state like a sketch, error bounded by the bin width — and
  * every arithmetic step is integer counts + one closed-form
  * interpolation, so the estimate is DETERMINISTIC and replicable in
  * DuckDB SQL for the value-level gate.
  */
object Stats {

  /** Value ranges of the histogram-refined global rank
    * ([[globalRankByValue]], [[kthValue]]) and the rank tests on it. */
  private val RankRanges = 256

  /** Largest candidate bin [[kthValue]] finishes on the driver. */
  private val KthMaxLocal = 1 << 20

  /** The period cap of the all-pairs trend and rank-correlation
    * operators: p periods make p(p−1)/2 pairs, so a longer series must
    * aggregate to coarser periods first. */
  private val MaxPeriods = 10000L

  /** The quantiles, in permille, of [[quantileTreatmentEffect]] and
    * [[quantileSketchByGroup]]: p10, the median and p90. */
  private val QuantilePermilles = Seq(100, 500, 900)

  /** Quantile estimates from a fixed-domain equal-width histogram.
    *
    * Values are clamped into `nBins` bins over [lo, hi); the q-th
    * quantile interpolates linearly inside the first bin whose
    * cumulative count reaches q·N:
    * `lo + width·(bin + (qN − cumBefore)/binCount)`.
    *
    * Returns one row per group: (groupCols*, n, q_<label> per q).
    * Cost: one map-side-combined groupBy on (group, bin) — at any
    * scale the shuffle carries ≤ |groups|·nBins integer rows.
    */
  def histogramQuantiles(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      qs: Seq[(String, Double)],
      lo: Double,
      hi: Double,
      nBins: Int = 100): DataFrame = {
    require(hi > lo && nBins > 0)
    val width = (hi - lo) / nBins
    val bin = least(lit(nBins - 1), greatest(lit(0),
      floor((col(valueCol).cast(DoubleType) - lo) / width).cast(IntegerType)))
    val counts = df
      .groupBy((groupCols.map(col) :+ bin.as("__bin")): _*)
      .agg(count(lit(1)).as("__c"))
    quantilesFromBinCounts(counts, groupCols, qs, lo, hi, nBins)
  }

  /** The [[histogramQuantiles]] tail over pre-aggregated
    * (groupCols*, __bin, __c) counts — shared with the STREAMING
    * cumulative histogram (the psiFromBinCounts treatment): a drained
    * keyed-state histogram feeds the IDENTICAL interpolation
    * arithmetic, so a streamed quantile must equal the batch quantile
    * row for row. */
  def quantilesFromBinCounts(
      counts: DataFrame,
      groupCols: Seq[String],
      qs: Seq[(String, Double)],
      lo: Double,
      hi: Double,
      nBins: Int): DataFrame = {
    require(hi > lo && nBins > 0)
    val width = (hi - lo) / nBins
    val wOrd = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__bin").asc)
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    val cum = counts
      .withColumn("__cum", sum(col("__c")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", sum(col("__c")).over(wAll))
    val qCols = qs.map { case (label, q) =>
      val target = lit(q) * col("__n")
      // EXACTLY the first bin reaching the target: cumBefore < qN ≤ cum
      // (later bins would interpolate with a negative fraction and a
      // bare min() could pick them)
      val hit = col("__cum") >= target &&
        (col("__cum") - col("__c")) < target
      val est = lit(lo) + lit(width) *
        (col("__bin") + (target - (col("__cum") - col("__c"))) / col("__c"))
      min(when(hit, round(est, 6))).as(s"q_$label")
    }
    cum.groupBy(groupCols.map(col): _*)
      .agg(max(col("__n")).as("n"), qCols: _*)
  }

  /** Population stability index of every group against a reference
    * group, over a fixed-domain equal-width binning of `valueCol` —
    * THE drift gate a production feature pipeline runs before
    * retraining: PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i), with q the
    * reference group's bin shares. Common reading: < 0.1 stable,
    * 0.1–0.25 drifting, > 0.25 act. Zero bins clamp to the standard
    * 1e-6 share floor so the log stays finite (deterministic, both
    * engines see the identical clamp). NULL values carry no bin and
    * are excluded from the shares.
    *
    * Scale shape: one map-side-combined (group, bin) count — the
    * shuffle carries ≤ |groups|·nBins integer rows at any corpus
    * size; the bin spine crossJoin and the reference join are
    * nBins-row control-plane frames. Determinism: shares divide
    * integers in double (identical inputs → identical IEEE results),
    * each bin term rounds to 6 dp and fixes as DECIMAL(18,6) before
    * the sum (exact, order-independent).
    *
    * Returns (groupCol, n_rows, psi) for every group ≠ `refGroup`. */
  def psiByGroup(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      refGroup: String,
      lo: Double,
      hi: Double,
      nBins: Int = 10): DataFrame =
    psiFromBinCounts(
      binCounts(df, valueCol, groupCol, lo, hi, nBins), refGroup, nBins,
      groupCol)

  /** The fixed-domain equal-width bin of `valueCol`: values clamp into
    * [0, nBins); NULL values stay NULL (callers exclude them). Shared
    * by the batch PSI and its streaming twin so both sides bin
    * identically. */
  def binExpr(valueCol: String, lo: Double, hi: Double,
      nBins: Int): Column = {
    require(hi > lo && nBins > 0, "need hi > lo and nBins > 0")
    val width = (hi - lo) / nBins
    least(lit(nBins - 1), greatest(lit(0),
      floor((col(valueCol).cast(DoubleType) - lo) / width)
        .cast(IntegerType)))
  }

  /** Per-(group, bin) occupancy counts — the sufficient statistic the
    * PSI needs: one map-side-combined shuffle of ≤ |groups|·nBins
    * integer rows at any corpus size. */
  def binCounts(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      lo: Double,
      hi: Double,
      nBins: Int): DataFrame =
    df.select(col(groupCol).as("__g"),
        binExpr(valueCol, lo, hi, nBins).as("__bin"))
      .filter(col("__bin").isNotNull)
      .groupBy(col("__g"), col("__bin"))
      .agg(count(lit(1)).as("__c"))

  /** PSI of every group against `refGroup`, from pre-aggregated
    * (__g, __bin, __c) counts — the shared tail of [[psiByGroup]] and
    * the streaming drift monitor ([[graft.streaming.Streams]]): a
    * drained cumulative histogram feeds the IDENTICAL arithmetic, so
    * the streamed PSI must equal the batch PSI row for row. */
  def psiFromBinCounts(
      counts: DataFrame,
      refGroup: String,
      nBins: Int,
      outGroupCol: String): DataFrame = {
    val spine = counts.select(col("__g")).distinct()
      .crossJoin(broadcast(
        counts.sparkSession.range(nBins)
          .select(col("id").cast(IntegerType).as("__bin"))))
    val full = spine.join(counts, Seq("__g", "__bin"), "left")
      .select(col("__g"), col("__bin"),
        coalesce(col("__c"), lit(0L)).as("__c"))
    val tot = full.groupBy(col("__g")).agg(sum(col("__c")).as("__n"))
    val share = full.join(tot, Seq("__g"))
      .select(col("__g"), col("__bin"), col("__n"),
        greatest(col("__c").cast(DoubleType) /
          col("__n").cast(DoubleType), lit(1e-6)).as("__p"))
    val ref = share.filter(col("__g") === refGroup)
      .select(col("__bin"), col("__p").as("__q"))
    share.filter(col("__g") =!= refGroup)
      .join(broadcast(ref), Seq("__bin"))
      .select(col("__g"), col("__n"),
        round((col("__p") - col("__q")) * log(col("__p") / col("__q")), 6)
          .cast(DecimalType(18, 6)).as("__t"))
      .groupBy(col("__g"))
      .agg(first(col("__n")).as("n_rows"),
        round(sum(col("__t")).cast(DoubleType), 6).as("psi"))
      .withColumnRenamed("__g", outGroupCol)
  }

  /** CountMin sketch over an item stream — the bounded-state answer to
    * "which items are frequent?" at 100 TB, where an exact
    * groupBy(item) shuffles the full distinct domain (for tokens:
    * billions of keys). The sketch is a (depth × width) grid of
    * counters; every occurrence increments one counter per row, chosen
    * by that row's hash of the item. The shuffle carries at most
    * depth·width counter cells per map partition (map-side combined),
    * REGARDLESS of domain size; estimates overcount on collision,
    * never undercount.
    *
    * The hash family is the portable one ([[Dedup.polyHash]] +
    * per-depth affine transforms), so a DuckDB oracle can replicate
    * every counter and estimate exactly — including the collision
    * overcounts, which is what makes the gate meaningful.
    *
    * Returns the sketch as a frame of (depth, bucket, cnt) cells —
    * cells never touched stay absent (zero).
    */
  /** Incremental maintenance of a grouped aggregate: merge yesterday's
    * AGGREGATE STATE with today's batch — never re-reading history —
    * and get exactly what a full recompute over (history ∪ batch)
    * would return. The daily-sync counting discipline (A2) applied to
    * analytics rollups: at 100 TB the history aggregate is |groups|
    * rows while the history corpus is the 100 TB, so maintenance cost
    * is O(batch), not O(corpus).
    *
    * Works for the MERGEABLE aggregate vector (count, sum, min, max —
    * anything with an associative-commutative merge); avg derives as
    * sum/count downstream, never merged directly. Both inputs must
    * have the shape (groupCols*, n, sum_<c>, min_<c>, max_<c>) as
    * produced by [[groupedAggState]]. One shuffle of |groups| rows.
    * Output sums re-cast to the state's DECIMAL(38,4), so merged state
    * round-trips through this function with a stable schema. */
  def mergeAggState(
      state: DataFrame,
      batchState: DataFrame,
      groupCols: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    val merged = state.unionByName(batchState)
      .groupBy(groupCols.map(col): _*)
    val aggs = sum(col("n")).as("n") +: valueCols.flatMap { c =>
      Seq(sum(col(s"sum_$c")).cast(DecimalType(38, 4)).as(s"sum_$c"),
        min(col(s"min_$c")).as(s"min_$c"),
        max(col(s"max_$c")).as(s"max_$c"))
    }
    merged.agg(aggs.head, aggs.tail: _*)
  }

  /** The mergeable aggregate state of a frame: (groupCols*, n, and
    * sum/min/max per value column). Sums are exact DECIMAL carried at
    * (38,4) — narrowing the group sum back to (18,4) would overflow to
    * NULL past 10^14 (reached trivially at 100 TB history scale) and
    * mergeAggState's null-skipping sum would then silently drop the
    * overflowed side; 38 digits hold ~10^34 before that cliff. */
  def groupedAggState(
      df: DataFrame,
      groupCols: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n") +: valueCols.flatMap { c =>
      Seq(sum(col(c).cast(DecimalType(18, 4))).cast(DecimalType(38, 4))
          .as(s"sum_$c"),
        min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c"))
    }
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-group ordinary-least-squares trend: slope + intercept of
    * `y` against an integer ordinal `x` (a day index, an iteration
    * number), via the closed form
    *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²).
    *
    * Scale shape: ONE map-side-combined groupBy carrying five exact
    * accumulators (n, Σx, Σx², Σy, Σxy) — |groups| rows of shuffle, the
    * same topology as [[groupedAggState]]; the closed form is scalar
    * arithmetic on the aggregated row. Never a per-group sort, never a
    * window.
    *
    * Determinism (the dsum discipline): the accumulators are exact —
    * counts and DECIMAL sums are order-independent — and the closed
    * form is a FIXED sequence of IEEE double ops on those exact values,
    * so both engines produce bit-identical slopes. `x` must be a small
    * ordinal (|x| ≤ ~10^5: x² must hold exactly in a long before the
    * decimal cast; sums carry decimal headroom for ~10^12-row groups).
    * Degenerate groups (all x equal — zero variance) yield NULL slope
    * and intercept rather than a division blow-up; constant-y groups
    * yield NULL r² (0/0).
    *
    * Returns (groupCols*, n, slope, intercept, r2), 6 dp. */
  def groupedTrend(
      df: DataFrame,
      groupCols: Seq[String],
      x: Column,
      y: Column): DataFrame = {
    val base = df.select(groupCols.map(col) ++ Seq(
      x.cast(LongType).as("__x"),
      y.cast(DecimalType(18, 4)).as("__y")): _*)
    val agg = base.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast(DecimalType(18, 0))).as("__sx"),
        sum((col("__x") * col("__x")).cast(DecimalType(18, 0)))
          .as("__sxx"),
        sum(col("__y")).as("__sy"),
        sum(col("__x").cast(DecimalType(18, 0)) * col("__y")).as("__sxy"),
        sum(col("__y") * col("__y")).as("__syy"))
    val nD = col("n").cast(DoubleType)
    val sxD = col("__sx").cast(DoubleType)
    val syD = col("__sy").cast(DoubleType)
    val num = nD * col("__sxy").cast(DoubleType) - sxD * syD
    val den = nD * col("__sxx").cast(DoubleType) - sxD * sxD
    val denY = nD * col("__syy").cast(DoubleType) - syD * syD
    val slope = when(den =!= lit(0.0), round(num / den, 6))
    val intercept = when(den =!= lit(0.0),
      round((col("__sy").cast(DoubleType) - num / den * sxD) / nD, 6))
    val r2 = when(den =!= lit(0.0) && denY =!= lit(0.0),
      round(num * num / (den * denY), 6))
    agg.select(groupCols.map(col) ++ Seq(col("n"),
      slope.as("slope"), intercept.as("intercept"), r2.as("r2")): _*)
  }

  /** Durbin–Watson autocorrelation check on the residuals of an OLS
    * trend fit — "is the trend line's error structure serially
    * correlated", i.e. can you trust the fit's error bars at all
    * (positively autocorrelated residuals make every trend CI
    * optimistic; the classic post-fit diagnostic). DW =
    * Σ(e_t − e_{t−1})² / Σe_t² ∈ [0, 4]; ≈ 2 means independent,
    * < 1.5 positive, > 2.5 negative autocorrelation (rule-of-thumb
    * literals, no table lookup).
    *
    * Residuals use the EMITTED 6-dp slope/intercept from
    * [[groupedTrend]] (the gate-replays-emitted rule) and round to
    * 6 dp themselves; both DW sums fold as 9-dp DECIMAL(28,9)
    * (order-free). The series is [[Guards.boundedSeries]]-guarded
    * control plane; the 1-row fit broadcasts back.
    *
    * Returns one row: (n_periods, slope, intercept, dw, verdict). */
  def durbinWatson(
      series: DataFrame,
      orderCol: String,
      valueCol: String): DataFrame = {
    val idx = Guards.boundedSeries(series, "durbinWatson series")
      .select(col(valueCol).cast(DecimalType(18, 4)).as("__y"),
        row_number().over(Guards.seriesWindow(col(orderCol).asc))
          .as("__i"))
    val fit = groupedTrend(idx, Seq.empty, col("__i"), col("__y"))
    val joined = idx.crossJoin(broadcast(fit)) // 1-row control plane
      .withColumn("__e", round(col("__y").cast(DoubleType) -
        (col("intercept") + col("slope") * col("__i")), 6))
      .withColumn("__ep",
        lag(col("__e"), 1).over(Guards.seriesWindow(col("__i").asc)))
    val fold = DecimalType(28, 9)
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    val agg = joined.agg(
      count(lit(1)).as("n_periods"),
      max(col("slope")).as("slope"), max(col("intercept")).as("intercept"),
      coalesce(sum(when(col("__ep").isNotNull,
        Guards.fastRoundDec(
          (col("__e") - col("__ep")) * (col("__e") - col("__ep")),
          9, fold))), lit(0).cast(fold)).as("__num"),
      coalesce(sum(Guards.fastRoundDec(col("__e") * col("__e"), 9,
        fold)), lit(0).cast(fold)).as("__den"))
    val dw = when(col("n_periods") >= 3 &&
      col("__den").cast(DoubleType) > 0.0,
      round(col("__num").cast(DoubleType) /
        safe(col("__den").cast(DoubleType)), 6))
      .otherwise(lit(null).cast(DoubleType))
    agg.select(col("n_periods"), col("slope"), col("intercept"),
      dw.as("dw"))
      .withColumn("verdict",
        when(col("dw").isNull, lit(null).cast(StringType))
          .when(col("dw") < 1.5, lit("positive"))
          .when(col("dw") > 2.5, lit("negative"))
          .otherwise(lit("none")))
  }

  /** Wald–Wolfowitz runs test: is the sequence of above/below-median
    * periods RANDOM, or does it clump (regimes, level shifts) or
    * alternate (overcorrection)? The distribution-free companion of
    * [[durbinWatson]] — DW needs a fitted trend and measures linear
    * lag-1 correlation; the runs test sees any non-randomness in the
    * signs with no model at all.
    *
    * Signs split at the series' exact order-statistic median (the
    * quantilesByGroup rank convention; equal-to-median periods drop,
    * the textbook rule). R = #runs; z = (R − μ)/σ with
    * μ = 2n₁n₀/n + 1, σ² = 2n₁n₀(2n₁n₀ − n)/(n²(n−1)) — exact
    * integer counts into one literal-order double formula. The
    * series is [[Guards.boundedSeries]]-guarded control plane; the
    * 1-row median broadcasts back.
    *
    * Returns one row: (n_periods, n_above, n_below, runs, z,
    * verdict ∈ {reject, keep, NULL}) — |z| vs the literal 1.96. */
  def runsTest(
      series: DataFrame,
      orderCol: String,
      valueCol: String): DataFrame = {
    val base = Guards.boundedSeries(series, "runsTest")
      .select(col(orderCol).as("__o"),
        col(valueCol).cast(DoubleType).as("__x"))
      .filter(col("__x").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wRk = Guards.seriesWindow(col("__x").asc, col("__o").asc)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val med = base
      .withColumn("__rk", row_number().over(wRk))
      .withColumn("__nn", count(lit(1)).over(wAll))
      .agg(min(when(col("__rk") ===
        expr("greatest(1, (__nn * 500 + 999) div 1000)"), col("__x")))
        .as("__med"))
    val w = Guards.seriesWindow(col("__o").asc)
    val lg = lag(col("__s"), 1).over(w)
    val signs = base.crossJoin(broadcast(med))
      .filter(col("__x") =!= col("__med"))
      .withColumn("__s", col("__x") > col("__med"))
      .withColumn("__new",
        when(lg.isNull || col("__s") =!= lg, 1L).otherwise(0L))
    val one = signs.agg(
      count(lit(1)).as("__n"),
      coalesce(sum(when(col("__s"), 1L).otherwise(0L)), lit(0L))
        .as("__n1"),
      coalesce(sum(col("__new")), lit(0L)).as("__r"))
    val nd = col("__n").cast(DoubleType)
    val n1d = col("__n1").cast(DoubleType)
    val n0d = (col("__n") - col("__n1")).cast(DoubleType)
    val mu = lit(2.0) * n1d * n0d / nd + lit(1.0)
    val sig2 = lit(2.0) * n1d * n0d *
      (lit(2.0) * n1d * n0d - nd) / (nd * nd * (nd - lit(1.0)))
    val zRaw = (col("__r").cast(DoubleType) - mu) / sqrt(sig2)
    val ok = col("__n1") > 0 && (col("__n") - col("__n1")) > 0 &&
      col("__n") > 1 && sig2 > 0.0
    val out = one.select(col("__n").as("n_periods"),
      col("__n1").as("n_above"),
      (col("__n") - col("__n1")).as("n_below"),
      col("__r").as("runs"),
      when(ok, round(zRaw, 6)).otherwise(lit(null).cast(DoubleType))
        .as("z"),
      when(ok, when(abs(zRaw) > 1.96, lit("reject"))
        .otherwise(lit("keep")))
        .otherwise(lit(null).cast(StringType)).as("verdict"))
      .localCheckpoint(true) // 1 row; free base afterwards
    base.unpersist(false)
    out
  }

  /** Per-group trimmed mean: drop the lowest and highest
    * `trimPermille`/1000 of rows by value rank (ties broken by id, so
    * the trimmed SET is deterministic — a value-only cutoff would make
    * borderline duplicates engine-dependent), then average the middle
    * through an exact DECIMAL sum. The robust-mean answer to outliers
    * when a z-score filter (q_anomaly_zscore) is itself dragged by
    * them. k = n·trim div 1000 rows are cut from EACH side — exact
    * integer arithmetic, no float percentile.
    *
    * Cost: the [[capPerStratum]] topology — one shuffle on the group
    * key + one rank window — then the averaging aggregate. Same
    * mega-stratum caveat as every rank window.
    *
    * Returns (groupCols*, n_kept, trimmed_mean), 6 dp. */
  def trimmedMean(
      df: DataFrame,
      groupCols: Seq[String],
      value: Column,
      idCol: Column,
      trimPermille: Int): DataFrame = {
    require(trimPermille >= 0 && trimPermille < 500,
      s"trimPermille must be in [0, 500): $trimPermille")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__v").asc, col("__id").asc)
    val cnt = Window.partitionBy(groupCols.map(col): _*)
    val k = expr(s"(__n * $trimPermille) div 1000")
    df.select(groupCols.map(col) ++ Seq(value.as("__v"),
        idCol.as("__id")): _*)
      .withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(cnt))
      .filter(col("__rk") > k && col("__rk") <= col("__n") - k)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_kept"),
        round(sum(col("__v").cast(DecimalType(18, 4))).cast(DoubleType) /
          count(lit(1)), 6).as("trimmed_mean"))
  }

  /** Per-group winsorized mean: the [[trimmedMean]] twin that CLAMPS
    * the tails instead of cutting them — the lowest k rows (by the
    * same deterministic (value, id) rank) take the value at rank k+1,
    * the highest k take the value at rank n−k, and everything is
    * averaged through an exact DECIMAL sum. Winsorization keeps n
    * constant (every row still votes, outliers just vote at the
    * fence), which is what you want when downstream weights depend on
    * group sizes.
    *
    * Single-exchange topology: the rank window, the count window, and
    * the two fence lookups (window-max over `when(rk = fencerank, v)`)
    * all share the group-key partitioning, so Catalyst plans ONE
    * exchange + one sort — no bounds-table join-back, no second scan.
    *
    * Returns (groupCols*, n_rows, lo_fence, hi_fence,
    * winsorized_mean), 6 dp. */
  def winsorizedMean(
      df: DataFrame,
      groupCols: Seq[String],
      value: Column,
      idCol: Column,
      winsorPermille: Int): DataFrame = {
    require(winsorPermille >= 0 && winsorPermille < 500,
      s"winsorPermille must be in [0, 500): $winsorPermille")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__v").asc, col("__id").asc)
    val cnt = Window.partitionBy(groupCols.map(col): _*)
    val k = expr(s"(__n * $winsorPermille) div 1000")
    df.select(groupCols.map(col) ++ Seq(value.as("__v"),
        idCol.as("__id")): _*)
      .withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(cnt))
      .withColumn("__k", k)
      .withColumn("__lo",
        max(when(col("__rk") === col("__k") + 1, col("__v"))).over(cnt))
      .withColumn("__hi",
        max(when(col("__rk") === col("__n") - col("__k"), col("__v")))
          .over(cnt))
      .withColumn("__wv",
        when(col("__rk") <= col("__k"), col("__lo"))
          .when(col("__rk") > col("__n") - col("__k"), col("__hi"))
          .otherwise(col("__v")))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        min(col("__lo")).as("lo_fence"), min(col("__hi")).as("hi_fence"),
        round(sum(col("__wv").cast(DecimalType(18, 4))).cast(DoubleType) /
          count(lit(1)), 6).as("winsorized_mean"))
  }

  /** Per-group median/MAD outlier detection — the robust twin of the
    * 3σ z-score audit (q_anomaly_zscore), immune to the outliers
    * dragging the fence itself. A row is flagged when
    * |v − median| > c · MAD (MAD = median of |v − median|).
    *
    * EXACT by doubling: medians are rank statistics — with the
    * (value, id) tie-break, the two middle ranks (n+1) div 2 and
    * (n+2) div 2 are deterministic rows — and instead of dividing
    * their sum by 2 (a float op), everything stays on DOUBLED decimal
    * values: M2 = v_a + v_b (= 2·median, exact), per-row deviation
    * D = |2v − M2| (= 2·dev, exact), MAD doubled the same way
    * (D2 = D_a + D_b = 4·MAD), and the flag test |v − median| > c·MAD
    * multiplies through by 4 into 2·D > c·D2 with integer c: every
    * comparison is exact DECIMAL arithmetic, no float anywhere until
    * the final reporting columns.
    *
    * Topology: one exchange on the group key, reused by both rank
    * windows (the second orders by the derived deviation — same
    * partitioning, extra sort only), then one aggregate. The corpus
    * never re-shuffles and no stats table joins back.
    *
    * Returns per group: (groupCols*, n_outliers, min_val, max_val,
    * median, mad) with median/mad reported at 6 dp. */
  def madOutliers(
      df: DataFrame,
      groupCols: Seq[String],
      value: Column,
      idCol: Column,
      c: Int = 3): DataFrame = {
    require(c > 0, s"MAD multiplier must be positive: $c")
    val grp = groupCols.map(col)
    val cnt = Window.partitionBy(grp: _*)
    val wv = Window.partitionBy(grp: _*)
      .orderBy(col("__v").asc, col("__id").asc)
    val wd = Window.partitionBy(grp: _*)
      .orderBy(col("__d").asc, col("__id").asc)
    val dec = DecimalType(18, 4)
    // integer div — Spark's `/` on integral columns is double division
    val midLo = expr("(__n + 1) div 2")
    val midHi = expr("(__n + 2) div 2")
    def medianDoubled(rk: Column, v: Column): Column =
      max(when(rk === midLo, v)).over(cnt) +
        max(when(rk === midHi, v)).over(cnt)
    df.select(grp ++ Seq(value.cast(dec).as("__v"), idCol.as("__id")): _*)
      .withColumn("__n", count(lit(1)).over(cnt))
      .withColumn("__rk", row_number().over(wv))
      .withColumn("__m2", medianDoubled(col("__rk"), col("__v")))
      .withColumn("__d", abs(col("__v") * 2 - col("__m2")))
      .withColumn("__rkd", row_number().over(wd))
      .withColumn("__d2", medianDoubled(col("__rkd"), col("__d")))
      .filter(col("__d") * 2 > col("__d2") * c)
      .groupBy(grp: _*)
      .agg(count(lit(1)).as("n_outliers"),
        min(col("__v")).cast(DoubleType).as("min_val"),
        max(col("__v")).cast(DoubleType).as("max_val"),
        round(min(col("__m2")).cast(DoubleType) / 2, 6).as("median"),
        round(min(col("__d2")).cast(DoubleType) / 4, 6).as("mad"))
  }

  /** Tukey IQR fences per group — the third member of the outlier
    * trio (z-score assumes normality, [[madOutliers]] maximizes
    * breakdown, the 1.5·IQR boxplot fence is what every reviewer
    * already knows how to read). Quartiles are EXACT order statistics
    * (q1 at rank ⌈n/4⌉, q3 at ⌈3n/4⌉, ties by id — no interpolation,
    * no percentile sketch), and the fence comparisons run entirely in
    * scaled DECIMAL integers (v·10 vs q1·10 − 15·IQR) so not a single
    * double participates in the verdict.
    *
    * Scale shape: the madOutliers topology — one exchange on the
    * group for the rank window, then one aggregate. Group row counts
    * bound the window partitions (the per-group series contract).
    *
    * Returns one row per group: (groupCols*, n, n_outliers, q1, q3,
    * iqr, lo_fence, hi_fence). */
  def iqrOutliers(
      df: DataFrame,
      groupCols: Seq[String],
      value: Column,
      idCol: Column): DataFrame = {
    val grp = groupCols.map(col)
    val cnt = Window.partitionBy(grp: _*)
    val wv = Window.partitionBy(grp: _*)
      .orderBy(col("__v").asc, col("__id").asc)
    val dec = DecimalType(18, 4)
    val r1 = expr("(__n + 3) div 4")
    val r3 = expr("(3 * __n + 3) div 4")
    val staged = df
      .select(grp ++ Seq(value.cast(dec).as("__v"), idCol.as("__id")): _*)
      .filter(col("__v").isNotNull)
      .withColumn("__n", count(lit(1)).over(cnt))
      .withColumn("__rk", row_number().over(wv))
      .withColumn("__q1", max(when(col("__rk") === r1, col("__v"))).over(cnt))
      .withColumn("__q3", max(when(col("__rk") === r3, col("__v"))).over(cnt))
    val iqr = col("__q3") - col("__q1")
    val out = col("__v") * 10 < col("__q1") * 10 - iqr * 15 ||
      col("__v") * 10 > col("__q3") * 10 + iqr * 15
    staged.groupBy(grp: _*)
      .agg(count(lit(1)).as("n"),
        sum(when(out, 1L).otherwise(0L)).as("n_outliers"),
        min(col("__q1")).cast(DoubleType).as("q1"),
        min(col("__q3")).cast(DoubleType).as("q3"),
        (min(col("__q3")) - min(col("__q1"))).cast(DoubleType).as("iqr"),
        ((min(col("__q1")) * 10 -
          (min(col("__q3")) - min(col("__q1"))) * 15).cast(DoubleType) /
          10.0).as("lo_fence"),
        ((min(col("__q3")) * 10 +
          (min(col("__q3")) - min(col("__q1"))) * 15).cast(DoubleType) /
          10.0).as("hi_fence"))
  }

  /** EXACT per-group percentiles as order statistics: for each group
    * and each requested permille p, the value at rank
    * max(1, ⌈p·n/1000⌉) under the total (value, id) order — no
    * interpolation, no sketch, engine-portable (the grouped sibling
    * of the global exact-percentile family; use
    * [[histogramQuantiles]]/[[profileApprox]] when groups are huge
    * and approximation is acceptable).
    *
    * Scale shape: the [[iqrOutliers]] topology — one exchange on the
    * group for the rank window, one aggregate; group sizes bound the
    * window partitions.
    *
    * Returns one row per group: (groupCols*, n, p_<permille>…). */
  def quantilesByGroup(
      df: DataFrame,
      groupCols: Seq[String],
      value: Column,
      idCol: Column,
      permilles: Seq[Int] = Seq(100, 500, 900)): DataFrame = {
    require(permilles.nonEmpty &&
      permilles.forall(p => p > 0 && p < 1000),
      s"permilles must be in (0, 1000): $permilles")
    val grp = groupCols.map(col)
    val cnt = Window.partitionBy(grp: _*)
    val wv = Window.partitionBy(grp: _*)
      .orderBy(col("__v").asc, col("__id").asc)
    val staged = df
      .select(grp ++ Seq(value.cast(DecimalType(18, 4)).as("__v"),
        idCol.as("__id")): _*)
      .filter(col("__v").isNotNull)
      .withColumn("__n", count(lit(1)).over(cnt))
      .withColumn("__rk", row_number().over(wv))
    val qs = permilles.map { p =>
      min(when(col("__rk") ===
        expr(s"greatest(1, (__n * $p + 999) div 1000)"), col("__v")))
        .cast(DoubleType).as(s"p_$p")
    }
    staged.groupBy(grp: _*)
      .agg(count(lit(1)).as("n"), qs: _*)
  }

  /** Quantile treatment effect — WHERE in the distribution an
    * experiment's effect landed: the per-permille difference between
    * the two arms' EXACT order-statistic quantiles (a mean shift of
    * +2% can be a +10% tail improvement and a flat median, or the
    * reverse — the mean-based readouts can't tell them apart).
    * Composes [[quantilesByGroup]] with the variant as the group;
    * same (value, id) total order, no interpolation.
    *
    * Scale shape: the grouped-quantile rank machinery (one exchange,
    * per-arm window sort), then everything runs on the 2-row
    * quantile frame — localCheckpointed both to avoid a second
    * corpus scan per arm and to break the self-join lineage (the
    * bounded-frame rule).
    *
    * Returns one row per permille: (permille, n_a, n_b, q_a, q_b,
    * qte = q_b − q_a rounded to 6 dp). */
  def quantileTreatmentEffect(
      df: DataFrame,
      variantCol: Column,
      value: Column,
      idCol: Column,
      variantA: String,
      variantB: String): DataFrame = {
    val staged = df
      .select(variantCol.cast(StringType).as("__variant"),
        value.as("__val"), idCol.as("__qid"))
      .filter(col("__variant").isin(variantA, variantB))
    val q = quantilesByGroup(staged, Seq("__variant"), col("__val"),
      col("__qid"), QuantilePermilles)
      .localCheckpoint(true) // 2 rows; two consumers below
    val a = q.filter(col("__variant") === variantA)
      .select(col("n").as("n_a") +:
        QuantilePermilles.map(p => col(s"p_$p").as(s"__a$p")): _*)
    val b = q.filter(col("__variant") === variantB)
      .select(col("n").as("n_b") +:
        QuantilePermilles.map(p => col(s"p_$p").as(s"__b$p")): _*)
    val one = a.crossJoin(broadcast(b)) // 1×1 control plane
    val stacked = QuantilePermilles.map { p =>
      struct(lit(p).as("permille"), col("n_a"), col("n_b"),
        col(s"__a$p").as("q_a"), col(s"__b$p").as("q_b"),
        round(col(s"__b$p") - col(s"__a$p"), 6).as("qte"))
    }
    one.select(explode(array(stacked: _*)).as("x")).select(col("x.*"))
  }

  /** Per-group histogram-sketch STATE for [[quantileSketchByGroup]]:
    * values scale to exact 10⁻⁴ integers (`DECIMAL(18,4) · 10⁴`,
    * exact in both engines), each group gets `bins` equal-width
    * integer bins over its [min, max] (width = (max − min) div bins
    * + 1, so every index lands in [0, bins)), and the state is one
    * (group, bin) count row — ≤ `bins` rows per group, O(bins)
    * memory, fully MERGEABLE: two shards sketched against the SAME
    * bounds merge by summing counts ([[quantileSketchMerge]];
    * StatsSpec pins merge(A, B) = sketch(A ∪ B)). At 100 TB this is
    * the two-pass layout: pass 1 computes global per-group bounds (a
    * map-side-combined min/max), pass 2 builds per-shard histograms
    * that merge associatively — no value ever travels, unlike the
    * exact [[quantilesByGroup]] rank machinery that shuffles every
    * row through a per-group sort.
    *
    * `bounds`: pre-computed (group, __min, __max) frame to sketch
    * against (the shard-merge contract); None derives bounds from
    * `df` itself (the single-input convenience).
    *
    * Returns (groupCols..., __min, __w, __idx, __cnt) — all integer
    * columns, so downstream estimates replay bitwise in any engine
    * with 64-bit integer division. */
  def quantileSketchState(
      df: DataFrame,
      groupCols: Seq[String],
      value: Column,
      bins: Int = 256,
      bounds: Option[DataFrame] = None): DataFrame = {
    require(bins >= 2 && bins <= 65536, s"bins out of range: $bins")
    val grp = groupCols.map(col)
    val v = df
      .select(grp :+ value.cast(DecimalType(18, 4)).as("__v"): _*)
      .filter(col("__v").isNotNull)
      .select(grp :+ (col("__v") * lit(10000))
        .cast(LongType).as("__e4"): _*)
    val b = bounds.getOrElse(
      v.groupBy(grp: _*)
        .agg(min(col("__e4")).as("__min"), max(col("__e4")).as("__max")))
    v.join(b, groupCols)
      .select(grp ++ Seq(col("__min"),
        expr(s"(__max - __min) div $bins + 1").as("__w"),
        col("__e4")): _*)
      .withColumn("__idx", expr("(__e4 - __min) div __w"))
      .groupBy(grp ++ Seq(col("__min"), col("__w"), col("__idx")): _*)
      .agg(count(lit(1)).as("__cnt"))
  }

  /** Merge two [[quantileSketchState]] frames built against the SAME
    * bounds: counts add per (group, bin). Associative and commutative
    * by construction — the property that lets 1000 executors sketch
    * independently and a tree-reduce combine the shards. */
  def quantileSketchMerge(
      a: DataFrame,
      b: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val grp = groupCols.map(col)
    a.unionByName(b)
      .groupBy(grp ++ Seq(col("__min"), col("__w"), col("__idx")): _*)
      .agg(sum(col("__cnt")).as("__cnt"))
  }

  /** Quantile ESTIMATES from a [[quantileSketchState]]: for each
    * requested permille p, rank r = max(1, ⌈n·p/1000⌉) (exact integer
    * arithmetic), the estimate is the LOWER BOUND of the first bin
    * whose cumulative count reaches r, and `max_err` is one bin
    * width — the true quantile provably lies in [estimate, estimate
    * + max_err). The cumulative walk is a window over ≤ `bins` rows
    * per group (control-plane by construction); the only doubles are
    * final divisions of exact integers by 10⁴ — IEEE-identical in
    * every engine.
    *
    * Returns (groupCols..., n, p_<p>... , max_err). */
  def quantilesFromSketch(
      state: DataFrame,
      groupCols: Seq[String],
      permilles: Seq[Int] = Seq(100, 500, 900)): DataFrame = {
    require(permilles.nonEmpty &&
      permilles.forall(p => p > 0 && p < 1000),
      s"permilles must be in (0, 1000): $permilles")
    val grp = groupCols.map(col)
    val wg = Window.partitionBy(grp: _*)
    val wCum = Window.partitionBy(grp: _*).orderBy(col("__idx").asc)
    val c = state
      .withColumn("__n", sum(col("__cnt")).over(wg))
      .withColumn("__cum", sum(col("__cnt")).over(wCum))
    val picks = permilles.map { p =>
      min(when(col("__cum") >=
        expr(s"greatest(1L, (__n * $p + 999) div 1000)"), col("__idx")))
        .as(s"__i$p")
    }
    val agged = c.groupBy(grp: _*)
      .agg(max(col("__n")).as("n"), (picks ++ Seq(
        max(col("__min")).as("__min"), max(col("__w")).as("__w"))): _*)
    val ests = permilles.map { p =>
      ((col("__min") + col(s"__i$p") * col("__w")).cast(DoubleType) /
        lit(10000.0)).as(s"p_$p")
    }
    agged.select(grp ++ Seq(col("n")) ++ ests :+
      (col("__w").cast(DoubleType) / lit(10000.0)).as("max_err"): _*)
  }

  /** Histogram bins per group of [[quantileSketchByGroup]]. */
  private val SketchBins = 256

  /** Mergeable grouped-quantile sketch, end to end: the at-scale
    * escape hatch for [[quantilesByGroup]] (VERDICT r9 item 3 — the
    * `profileApprox`-for-quantiles). Two corpus passes (bounds, then
    * histogram), O(bins) state per group, and a deterministic
    * estimate with a PROVEN error bound of one bin width — every
    * intermediate is 64-bit integer arithmetic, so the DuckDB oracle
    * replays the exact same estimate bit for bit. */
  def quantileSketchByGroup(
      df: DataFrame,
      groupCols: Seq[String],
      value: Column): DataFrame =
    quantilesFromSketch(
      quantileSketchState(df, groupCols, value, SketchBins),
      groupCols, QuantilePermilles)

  /** Nelson–Aalen cumulative-hazard estimator over per-key activity
    * spans — survival analysis for churn ("how fast do users go
    * quiet, accounting for the ones still active"): each key's
    * duration is first-to-last event in days; a key whose last event
    * falls within `censorDays` of the corpus end is CENSORED (still
    * alive — counting it as churn would bias every study toward
    * doom). At each distinct duration t: n_t = keys with duration ≥ t
    * (at risk), d_t = uncensored spells ending at t, hazard = d_t/n_t,
    * and H(t) = Σ_{s≤t} d_s/n_s — the cumulative hazard (Nelson 1972,
    * Aalen 1978). The SUM-based estimator is chosen over the
    * Kaplan–Meier product deliberately: sums of 9-dp-rounded exact
    * rationals fold order-free in DECIMAL and replay bitwise in any
    * engine, a running float product does not.
    *
    * Scale shape: one exchange to per-key spans (map-side combined
    * min/max), a duration-keyed aggregate, then two windows over the
    * DISTINCT-duration frame — bounded by the observation span in
    * days (control-plane by construction; [[Guards.boundedSeries]]
    * makes a mis-use fail loudly). The corpus-end anchor is a 1-row
    * broadcast.
    *
    * Returns one row per distinct duration: (t_days, n_at_risk,
    * n_events, n_censored, hazard, cum_hazard). */
  def nelsonAalen(
      df: DataFrame,
      idCol: Column,
      tsCol: Column,
      censorDays: Int = 7): DataFrame = {
    require(censorDays >= 0 && censorDays <= 3650,
      s"censorDays out of range: $censorDays")
    val spans = df
      .select(idCol.as("__id"), tsCol.cast(TimestampType).as("__ts"))
      .filter(col("__id").isNotNull && col("__ts").isNotNull)
      .groupBy(col("__id"))
      .agg(min(col("__ts")).as("__first"), max(col("__ts")).as("__last"))
    val end = spans.agg(max(col("__last")).as("__end"))
    val marked = spans.crossJoin(broadcast(end))
      .select(
        datediff(to_date(col("__last")), to_date(col("__first")))
          .cast(LongType).as("t_days"),
        when(datediff(to_date(col("__end")), to_date(col("__last")))
          < censorDays, 1L).otherwise(0L).as("__cens"))
    val byT = marked.groupBy(col("t_days"))
      .agg(sum(lit(1L) - col("__cens")).as("n_events"),
        sum(col("__cens")).as("n_censored"))
    // at-risk: everyone whose spell (event or censor) ends at or
    // after t — a descending cumulative over the duration frame
    val wDesc = Guards.seriesWindow(col("t_days").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Guards.seriesWindow(col("t_days").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    Guards.boundedSeries(byT, "nelsonAalen durations")
      .withColumn("n_at_risk",
        sum(col("n_events") + col("n_censored")).over(wDesc))
      .withColumn("hazard",
        round(col("n_events").cast(DoubleType) /
          safe(col("n_at_risk").cast(DoubleType)), 6))
      .withColumn("cum_hazard",
        round(sum(Guards.fastRoundDec(
          col("n_events").cast(DoubleType) /
          safe(col("n_at_risk").cast(DoubleType)), 9,
          DecimalType(28, 9))).over(wAsc).cast(DoubleType), 6))
      .select(col("t_days"), col("n_at_risk"), col("n_events"),
        col("n_censored"), col("hazard"), col("cum_hazard"))
  }

  /** Kaplan–Meier product-limit survival over per-key activity
    * spans — [[nelsonAalen]]'s PRODUCT twin (Kaplan & Meier 1958):
    * S(t) = Π_{s≤t} (n_s − d_s)/n_s with identical span/censoring
    * semantics. The hazard op's doc names why the product was
    * deferred there: a running FLOAT product neither folds order-free
    * nor replays across engines. This one is INTEGER: each factor
    * fixes as f₆ = (10⁶·(n−d)) div n and the running product steps
    * S₆ ← (S₆·f₆) div 10⁶ — 64-bit floors both engines replay
    * bitwise (f₆, S₆ ≤ 10⁶ ⇒ the product ≤ 10¹², no overflow) at the
    * price of a deterministic downward drift ≤ t·10⁻⁶ against the
    * real-valued KM — invisible at the 6-dp reporting resolution the
    * whole catalog uses.
    *
    * Scale shape: one exchange to per-key spans (map-side combined
    * min/max); the product is sequential BY NATURE and runs on the
    * driver over the distinct-duration control frame (bounded by the
    * observation span in days, never the corpus — the [[holtLinear]]
    * discipline, ceiling enforced loudly before the collect).
    *
    * Returns one row per distinct duration: (t_days, n_at_risk,
    * n_events, n_censored, survival DECIMAL(18,6)). */
  def kaplanMeier(
      df: DataFrame,
      idCol: Column,
      tsCol: Column,
      censorDays: Int = 7): DataFrame = {
    require(censorDays >= 0 && censorDays <= 3650,
      s"censorDays out of range: $censorDays")
    val spans = df
      .select(idCol.as("__id"), tsCol.cast(TimestampType).as("__ts"))
      .filter(col("__id").isNotNull && col("__ts").isNotNull)
      .groupBy(col("__id"))
      .agg(min(col("__ts")).as("__first"), max(col("__ts")).as("__last"))
    val end = spans.agg(max(col("__last")).as("__end"))
    val byT = spans.crossJoin(broadcast(end))
      .select(
        datediff(to_date(col("__last")), to_date(col("__first")))
          .cast(LongType).as("t_days"),
        when(datediff(to_date(col("__end")), to_date(col("__last")))
          < censorDays, 1L).otherwise(0L).as("__cens"))
      .groupBy(col("t_days"))
      .agg(sum(lit(1L) - col("__cens")).as("n_events"),
        sum(col("__cens")).as("n_censored"))
    // one collect with the bound guard riding it (the holtLinear
    // discipline: limit bound+1 → TakeOrdered, no counting scan)
    val pts = byT.orderBy(col("t_days").asc)
      .limit(Guards.MaxSeriesRows.toInt + 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    require(pts.length >= 1, "kaplanMeier: no spans")
    require(pts.length <= Guards.MaxSeriesRows,
      s"kaplanMeier: the duration frame exceeds the " +
        s"${Guards.MaxSeriesRows}-row control-plane bound")
    // at-risk = spells ending at or after t: suffix sums, then the
    // integer floor-product walk
    val totals = pts.map(p => p._2 + p._3)
    val atRisk = new Array[Long](pts.length)
    var acc = 0L
    var i = pts.length - 1
    while (i >= 0) { acc += totals(i); atRisk(i) = acc; i -= 1 }
    val out = Array.newBuilder[org.apache.spark.sql.Row]
    var s6 = 1000000L
    i = 0
    while (i < pts.length) {
      val (t, d, c) = pts(i)
      val f6 = 1000000L * (atRisk(i) - d) / atRisk(i)
      s6 = s6 * f6 / 1000000L
      // integer walk internally, DOUBLE at the boundary (catalog emit
      // convention, VERDICT r12): s6 ≤ 10⁶ so long→double is exact
      // and the one IEEE division replays the oracle's
      // `CAST(s6 AS DOUBLE) / 1000000.0` bit for bit
      out += org.apache.spark.sql.Row(t, atRisk(i), d, c,
        s6.toDouble / 1e6)
      i += 1
    }
    val schema = StructType(Seq(
      StructField("t_days", LongType, nullable = false),
      StructField("n_at_risk", LongType, nullable = false),
      StructField("n_events", LongType, nullable = false),
      StructField("n_censored", LongType, nullable = false),
      StructField("survival", DoubleType, nullable = false)))
    df.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(out.result(): _*)), schema)
  }

  /** Log-rank test between two groups' survival — "did the variant
    * change churn AT ALL", the significance companion of
    * [[nelsonAalen]]'s hazard curve (Mantel 1966; the standard
    * two-sample censored-survival test). At each distinct duration
    * t, group A's observed events d_A compare against the
    * expectation under equal hazards E_A = d·n_A/n with
    * hypergeometric variance d·(n_A/n)·(n_B/n)·(n−d)/(n−1);
    * Z = Σ(d_A − E_A)/√ΣV. Censoring (via `censorDays`, same spell
    * semantics as [[nelsonAalen]]) reduces the at-risk sets without
    * contributing events.
    *
    * Scale shape: one exchange to per-key spans; everything after
    * runs on the distinct-duration control frame (bounded by the
    * observation span in days — [[Guards.boundedSeries]] enforced),
    * with the two at-risk curves as descending cumulative windows.
    * `groupExpr` must be key-functional (evaluated per row, min per
    * key — a user in both arms is an assignment bug upstream).
    *
    * Determinism: d/n counts are exact longs; each duration's
    * (d_A − E_A) and variance terms compute in literal oracle order,
    * round to 9 dp and fold as DECIMAL(28,9) (order-free); Z is one
    * division + IEEE sqrt on the 1-row frame, verdict vs the
    * literal 1.96. NULL-gated when ΣV = 0.
    *
    * Returns one row: (n_a, n_b, n_times, o_minus_e, var_sum, z,
    * verdict). */
  def logRank(
      df: DataFrame,
      idCol: Column,
      tsCol: Column,
      groupExpr: Column,
      groupA: String,
      groupB: String,
      censorDays: Int = 7): DataFrame = {
    require(censorDays >= 0 && censorDays <= 3650,
      s"censorDays out of range: $censorDays")
    val spans = df
      .select(idCol.as("__id"), tsCol.cast(TimestampType).as("__ts"),
        groupExpr.cast(StringType).as("__g"))
      .filter(col("__id").isNotNull && col("__ts").isNotNull &&
        col("__g").isin(groupA, groupB))
      .groupBy(col("__id"))
      .agg(min(col("__ts")).as("__first"), max(col("__ts")).as("__last"),
        min(col("__g")).as("__g"))
    val end = spans.agg(max(col("__last")).as("__end"))
    val marked = spans.crossJoin(broadcast(end))
      .select(col("__g"),
        datediff(to_date(col("__last")), to_date(col("__first")))
          .cast(LongType).as("__t"),
        when(datediff(to_date(col("__end")), to_date(col("__last")))
          < censorDays, 1L).otherwise(0L).as("__cens"))
    def cnt(g: String, c: Column) =
      coalesce(sum(when(col("__g") === g, c)), lit(0L))
    val byT = marked.groupBy(col("__t"))
      .agg(cnt(groupA, lit(1L) - col("__cens")).as("__da"),
        cnt(groupB, lit(1L) - col("__cens")).as("__db"),
        cnt(groupA, lit(1L)).as("__ea"),
        cnt(groupB, lit(1L)).as("__eb"))
    val wDesc = Guards.seriesWindow(col("__t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def d(c: Column) = c.cast(DoubleType)
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    val curves = Guards.boundedSeries(byT, "logRank durations")
      .withColumn("__na", sum(col("__ea")).over(wDesc))
      .withColumn("__nb", sum(col("__eb")).over(wDesc))
    val dTot = col("__da") + col("__db")
    val nTot = col("__na") + col("__nb")
    val e1 = d(dTot) * d(col("__na")) / safe(d(nTot))
    val v = d(dTot) * (d(col("__na")) / safe(d(nTot))) *
      (d(col("__nb")) / safe(d(nTot))) *
      (d(nTot) - d(dTot)) / safe(d(nTot) - lit(1.0))
    val fold = DecimalType(28, 9)
    val agg = curves
      .filter(dTot > 0 && nTot > 1)
      .agg(count(lit(1)).as("n_times"),
        coalesce(sum(Guards.fastRoundDec(d(col("__da")) - e1, 9,
          fold)), lit(0).cast(fold)).as("__oe"),
        coalesce(sum(Guards.fastRoundDec(v, 9, fold)),
          lit(0).cast(fold)).as("__v"))
    val sizes = marked.groupBy()
      .agg(coalesce(sum(when(col("__g") === groupA, 1L)), lit(0L))
        .as("n_a"),
        coalesce(sum(when(col("__g") === groupB, 1L)), lit(0L))
          .as("n_b"))
    val z = when(col("__v").cast(DoubleType) > 0.0,
      round(col("__oe").cast(DoubleType) /
        safe(sqrt(col("__v").cast(DoubleType))), 6))
      .otherwise(lit(null).cast(DoubleType))
    sizes.crossJoin(broadcast(agg)) // 1-row control plane
      .select(col("n_a"), col("n_b"), col("n_times"),
        round(col("__oe").cast(DoubleType), 6).as("o_minus_e"),
        round(col("__v").cast(DoubleType), 6).as("var_sum"),
        z.as("z"))
      .withColumn("verdict",
        when(col("z").isNotNull,
          when(abs(col("z")) > 1.96, lit("reject")).otherwise(lit("keep")))
          .otherwise(lit(null).cast(StringType)))
  }

  /** Type I (α) and type II (β) error rates of [[sprtBernoulli]]. */
  private val SprtAlpha = 0.05
  private val SprtBeta = 0.05

  /** Wald's Sequential Probability Ratio Test over an
    * ALREADY-AGGREGATED daily (n, successes) series — the
    * group-sequential "stop the experiment early" monitor (Wald
    * 1945): after each period, the cumulative log-likelihood ratio
    * for H₁: p = p1 against H₀: p = p0 is
    * LLR = s·ln(p1/p0) + (n−s)·ln((1−p1)/(1−p0)); crossing
    * ln((1−β)/α) accepts H₁, crossing ln(β/(1−α)) accepts H₀,
    * in between the test CONTINUES — the sequential design spends
    * its error budget across every look, where a fixed-n z-test
    * peeked daily would inflate α several-fold.
    *
    * Determinism: the weights and boundaries are DRIVER-SIDE double
    * literals (the oracle inlines the same formatted constants — no
    * engine ln runs on them), the cumulative counts are exact longs,
    * and each period's LLR is the same two-product closed form
    * s·w1 + f·w0 — order-free by construction, no running float sum.
    * The decision compares the 6-dp EMITTED llr (the
    * gate-replays-emitted rule). The series is per-period
    * control-plane ([[Guards.boundedSeries]]).
    *
    * Returns one row per period: (orderCol, n, s, n_cum, s_cum, llr,
    * decision ∈ {accept_h1, accept_h0, continue}). */
  def sprtBernoulli(
      series: DataFrame,
      orderCol: String,
      nCol: Column,
      sCol: Column,
      p0: Double,
      p1: Double): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      s"need distinct p0/p1 in (0,1): $p0, $p1")
    val w1 = math.log(p1 / p0)
    val w0 = math.log((1.0 - p1) / (1.0 - p0))
    val hi = math.log((1.0 - SprtBeta) / SprtAlpha)
    val lo = math.log(SprtBeta / (1.0 - SprtAlpha))
    val wAsc = Guards.seriesWindow(col(orderCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lt = LongType
    Guards.boundedSeries(
        series.select(col(orderCol), nCol.cast(lt).as("n"),
          sCol.cast(lt).as("s")),
        "sprtBernoulli periods")
      .withColumn("n_cum", sum(col("n")).over(wAsc))
      .withColumn("s_cum", sum(col("s")).over(wAsc))
      .withColumn("llr",
        round(col("s_cum").cast(DoubleType) * lit(w1) +
          (col("n_cum") - col("s_cum")).cast(DoubleType) * lit(w0), 6))
      .withColumn("decision",
        when(col("llr") >= hi, lit("accept_h1"))
          .when(col("llr") <= lo, lit("accept_h0"))
          .otherwise(lit("continue")))
      .select(col(orderCol), col("n"), col("s"), col("n_cum"),
        col("s_cum"), col("llr"), col("decision"))
  }

  /** Literal constants [[sprtBernoulli]] uses, formatted for the
    * oracle so BOTH engines compare the identical doubles:
    * (w1, w0, hi, lo) as round-trip-exact strings. */
  def sprtConstants(
      p0: Double, p1: Double):
      (String, String, String, String) = {
    def f(v: Double): String =
      java.lang.Double.toString(v) // shortest round-trip-exact form
    (f(math.log(p1 / p0)), f(math.log((1.0 - p1) / (1.0 - p0))),
      f(math.log((1.0 - SprtBeta) / SprtAlpha)),
      f(math.log(SprtBeta / (1.0 - SprtAlpha))))
  }

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM
    * 2013): adjust each experiment unit's metric by its PRE-period
    * covariate — ŷ = y − θ(x − x̄) with θ = Cov(x, y)/Var(x) pooled
    * across variants — so the experiment readout sheds the variance
    * the pre-period already explains (ρ² of it; a ρ = 0.7 covariate
    * halves the sample a test needs). The industry-standard
    * experiment accelerator next to [[propZTest]] (which tests) and
    * [[sprtBernoulli]] (which stops early) — this one SHRINKS the
    * error bars.
    *
    * Scale shape: one exchange to per-unit (x, y) totals (map-side
    * combined), then ONE 1-row global moment aggregate (broadcast)
    * and a per-variant aggregate — no windows. Determinism: per-unit
    * totals are exact DECIMAL; cross-moments fold 2-dp-rounded
    * DECIMAL(28,2) products (the corrMatrix/autocorr discipline —
    * order-free); θ, ρ² and the adjusted means are closed-form
    * doubles over those exact aggregates in the same literal op
    * order the oracle writes.
    *
    * Returns one row per variant: (variant, n_units, mean_raw,
    * mean_adj, theta, rho2) — theta/rho2 NULL when Var(x) or Var(y)
    * is zero (no covariate signal to use). */
  def cupedAdjust(
      df: DataFrame,
      unitCol: Column,
      variantCol: Column,
      xCol: Column,
      yCol: Column): DataFrame = {
    val dec = DecimalType(18, 4)
    def fix2(c: Column) = round(c, 2).cast(DecimalType(28, 2))
    val per = df
      .select(unitCol.as("__u"), variantCol.as("__v"),
        xCol.cast(dec).as("__x"), yCol.cast(dec).as("__y"))
      .filter(col("__u").isNotNull)
      .groupBy(col("__u"), col("__v"))
      .agg(sum(col("__x")).as("__x"), sum(col("__y")).as("__y"))
      .select(col("__v"),
        coalesce(col("__x"), lit(0).cast(dec)).as("__x"),
        coalesce(col("__y"), lit(0).cast(dec)).as("__y"))
    val g = per.agg(count(lit(1)).as("__n"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(fix2(col("__x") * col("__y"))).as("__sxy"),
      sum(fix2(col("__x") * col("__x"))).as("__sxx"),
      sum(fix2(col("__y") * col("__y"))).as("__syy"))
    val v = per.groupBy(col("__v"))
      .agg(count(lit(1)).as("n_units"),
        sum(col("__x")).as("__svx"), sum(col("__y")).as("__svy"))
    def d(c: Column) = c.cast(DoubleType)
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    val nD = d(col("__n"))
    val covN = nD * d(col("__sxy")) - d(col("__sx")) * d(col("__sy"))
    val varX = nD * d(col("__sxx")) - d(col("__sx")) * d(col("__sx"))
    val varY = nD * d(col("__syy")) - d(col("__sy")) * d(col("__sy"))
    val theta = when(varX =!= 0.0, covN / safe(varX))
    v.crossJoin(broadcast(g))
      .select(col("__v").as("variant"), col("n_units"),
        round(d(col("__svy")) / safe(d(col("n_units"))), 6)
          .as("mean_raw"),
        when(varX =!= 0.0,
          round(d(col("__svy")) / safe(d(col("n_units"))) -
            (covN / safe(varX)) *
            (d(col("__svx")) / safe(d(col("n_units"))) -
              d(col("__sx")) / safe(nD)), 6)).as("mean_adj"),
        when(varX =!= 0.0, round(covN / safe(varX), 6)).as("theta"),
        when(varX =!= 0.0 && varY =!= 0.0,
          round(covN * covN / safe(varX * varY), 6)).as("rho2"))
  }

  /** Post-stratified average treatment effect: the per-stratum arm
    * difference, weighted by stratum size — the ADJUSTMENT-BY-
    * STRATIFICATION member of the experiment family ([[cupedAdjust]]
    * adjusts by a pre-period covariate, [[didEstimate]] by a control
    * series; this one by a categorical confounder like cohort or
    * platform, and it is the estimator that survives when the arms'
    * stratum mix is imbalanced — a naive diff would confound the
    * treatment with the mix).
    *
    * ATE = Σ_s w_s·(ȳ₁ₛ − ȳ₀ₛ), w_s = n_s/N over RETAINED strata
    * (both arms present; an unrepresented stratum has no within-
    * stratum contrast — dropped and the weights renormalize,
    * documented standard practice). SE² = Σ w_s²·(s₁ₛ²/n₁ₛ +
    * s₀ₛ²/n₀ₛ); NULL when any retained stratum has a single-unit
    * arm (no variance — loud abstention, the [[powerMde]] rule).
    *
    * Scale shape: one exchange to per-UNIT totals (randomization-
    * unit variance, the [[cupedAdjust]] staging; the frame persists
    * for its two consumers), one groupBy to the ≤ |strata| cell
    * frame, full-frame windows over that bounded frame, 9-dp
    * DECIMAL(28,9) folds for both cross-stratum sums. Exact decimal
    * accumulators with the 2-dp-fixed squares throughout.
    *
    * Returns one row: (n_units, k_strata, diff_naive, ate, se,
    * ci_lo, ci_hi). */
  def ateStratified(
      df: DataFrame,
      unitCol: Column,
      variantCol: Column,
      strataCol: Column,
      yCol: Column,
      variantA: String,
      variantB: String): DataFrame = {
    val dec = DecimalType(18, 4)
    def fix2(c: Column) = round(c, 2).cast(DecimalType(28, 2))
    val per = df
      .select(unitCol.cast(LongType).as("__u"),
        variantCol.cast(StringType).as("__v"),
        strataCol.cast(StringType).as("__st"),
        yCol.cast(dec).as("__y"))
      .filter(col("__u").isNotNull && col("__st").isNotNull &&
        col("__v").isin(variantA, variantB))
      .groupBy(col("__u"), col("__v"), col("__st"))
      .agg(coalesce(sum(col("__y")), lit(0).cast(dec)).as("__y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def arm(v: String, c: Column) = when(col("__v") === v, c)
    val cells = per.groupBy(col("__st")).agg(
      coalesce(sum(arm(variantA, lit(1L))), lit(0L)).as("__n0"),
      coalesce(sum(arm(variantA, col("__y"))), lit(0).cast(dec))
        .as("__s0"),
      coalesce(sum(arm(variantA, fix2(col("__y") * col("__y")))),
        lit(0).cast(DecimalType(28, 2))).as("__ss0"),
      coalesce(sum(arm(variantB, lit(1L))), lit(0L)).as("__n1"),
      coalesce(sum(arm(variantB, col("__y"))), lit(0).cast(dec))
        .as("__s1"),
      coalesce(sum(arm(variantB, fix2(col("__y") * col("__y")))),
        lit(0).cast(DecimalType(28, 2))).as("__ss1"))
    val kept = cells.filter(col("__n0") > 0 && col("__n1") > 0)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val staged = kept
      .withColumn("__nr", sum(col("__n0") + col("__n1")).over(wAll))
    def d(c: Column) = c.cast(DoubleType)
    val w = d(col("__n0") + col("__n1")) / d(col("__nr"))
    val diff = d(col("__s1")) / d(col("__n1")) -
      d(col("__s0")) / d(col("__n0"))
    def va(ss: String, s: String, n: String) =
      (d(col(ss)) - d(col(s)) * d(col(s)) / d(col(n))) /
        (d(col(n)) - lit(1.0))
    val termV = when(col("__n0") > 1 && col("__n1") > 1,
      round(w * w * (va("__ss1", "__s1", "__n1") / d(col("__n1")) +
        va("__ss0", "__s0", "__n0") / d(col("__n0"))), 9))
      .otherwise(lit(0.0))
    val fold = DecimalType(28, 9)
    val agg1 = staged.agg(
      count(lit(1)).as("__k"),
      max(col("__nr")).as("__nu"),
      coalesce(sum(when(col("__n0") < 2 || col("__n1") < 2, 1L)
        .otherwise(0L)), lit(0L)).as("__small"),
      coalesce(sum(Guards.fastRoundDec(w * diff, 9, fold)),
        lit(0).cast(fold)).as("__sa"),
      coalesce(sum(termV.cast(fold)), lit(0).cast(fold)).as("__sv"))
    val naive = per.agg(
      coalesce(sum(arm(variantA, lit(1L))), lit(0L)).as("__tn0"),
      coalesce(sum(arm(variantA, col("__y"))), lit(0).cast(dec))
        .as("__ts0"),
      coalesce(sum(arm(variantB, lit(1L))), lit(0L)).as("__tn1"),
      coalesce(sum(arm(variantB, col("__y"))), lit(0).cast(dec))
        .as("__ts1"))
    val ateD = col("__sa").cast(DoubleType)
    val seD = sqrt(col("__sv").cast(DoubleType))
    val okA = col("__k") > 0
    val okV = okA && col("__small") === 0L
    val out = agg1.crossJoin(naive) // two 1-row control-plane frames
      .select(coalesce(col("__nu"), lit(0L)).as("n_units"),
        col("__k").as("k_strata"),
        when(col("__tn0") > 0 && col("__tn1") > 0,
          round(d(col("__ts1")) / d(col("__tn1")) -
            d(col("__ts0")) / d(col("__tn0")), 6))
          .otherwise(lit(null).cast(DoubleType)).as("diff_naive"),
        when(okA, round(ateD, 6)).otherwise(lit(null).cast(DoubleType))
          .as("ate"),
        when(okV, round(seD, 6)).otherwise(lit(null).cast(DoubleType))
          .as("se"),
        when(okV, round(ateD - lit(1.96) * seD, 6))
          .otherwise(lit(null).cast(DoubleType)).as("ci_lo"),
        when(okV, round(ateD + lit(1.96) * seD, 6))
          .otherwise(lit(null).cast(DoubleType)).as("ci_hi"))
      .localCheckpoint(true) // 1 row; free per afterwards
    per.unpersist(false)
    out
  }

  /** χ² critical value of [[srmCheck]]: 1 degree of freedom (two
    * variants) at α = 0.05. */
  private val SrmCritical = 3.841

  /** Sample-ratio-mismatch check — the experiment guardrail every
    * platform runs FIRST: a χ² goodness-of-fit of observed per-variant
    * UNIT counts against the equal-split design. A significant
    * mismatch means the assignment or logging pipeline is broken and
    * every downstream readout (including a CUPED-polished one) is
    * garbage; the classic silent killer is a crash that drops one
    * variant's events. No p-value machinery: the statistic compares
    * against the literal critical value [[SrmCritical]] (one degree
    * of freedom: two variants), so the gate stays
    * transcendental-free.
    *
    * Scale shape: one distinct-unit aggregate (map-side combined) to
    * k variant counts, then closed-form doubles over exact longs.
    *
    * Returns one row per variant: (variant, n_units, expected, chi2,
    * srm — true when the TOTAL χ² crosses [[SrmCritical]]). */
  def srmCheck(
      df: DataFrame,
      unitCol: Column,
      variantCol: Column): DataFrame = {
    val per = df.select(variantCol.as("variant"), unitCol.as("__u"))
      .filter(col("__u").isNotNull)
      .groupBy(col("variant"))
      .agg(countDistinct(col("__u")).as("n_units"))
    val tot = per.agg(sum(col("n_units")).as("__n"),
      count(lit(1)).as("__k"))
    def d(c: Column) = c.cast(DoubleType)
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    val exp = d(col("__n")) / safe(d(col("__k")))
    val cell = (d(col("n_units")) - exp) * (d(col("n_units")) - exp) /
      safe(exp)
    val cells = per.crossJoin(broadcast(tot))
      .select(col("variant"), col("n_units"),
        round(exp, 6).as("expected"),
        round(cell, 9).cast(DecimalType(28, 9)).as("__c"))
    val chi2 = cells.agg(
      sum(col("__c")).cast(DoubleType).as("__chi2"))
    cells.crossJoin(broadcast(chi2))
      .select(col("variant"), col("n_units"), col("expected"),
        round(col("__chi2"), 6).as("chi2"),
        (round(col("__chi2"), 6) > SrmCritical).as("srm"))
  }

  /** Difference-in-differences over a pre/post × treat/control
    * design: DiD = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_control,post −
    * ȳ_control,pre) — the causal readout when assignment wasn't
    * randomized but both groups share a trend (the parallel-trends
    * assumption); the pre-period difference nets out whatever
    * standing gap the groups walked in with. The observational
    * sibling of the randomized-experiment trio (z-test, SPRT,
    * CUPED).
    *
    * Scale shape: ONE map-side-combined conditional aggregate to the
    * 2×2 cell sums (no join, no window), then closed-form doubles
    * over exact decimal sums in the literal order the oracle writes.
    * Cell means are NULL-gated on empty cells, and `did` on any
    * empty cell.
    *
    * Returns one row: (n_treat_pre, n_treat_post, n_control_pre,
    * n_control_post, mean_treat_pre, mean_treat_post,
    * mean_control_pre, mean_control_post, did). */
  def diffInDiff(
      df: DataFrame,
      treatCol: Column,
      postCol: Column,
      valueCol: Column): DataFrame = {
    val dec = DecimalType(18, 4)
    val staged = df.select(treatCol.cast(BooleanType).as("__t"),
      postCol.cast(BooleanType).as("__p"),
      valueCol.cast(dec).as("__v"))
      .filter(col("__t").isNotNull && col("__p").isNotNull &&
        col("__v").isNotNull)
    def cellN(t: Boolean, p: Boolean) =
      sum(when(col("__t") === t && col("__p") === p, 1L).otherwise(0L))
    def cellS(t: Boolean, p: Boolean) =
      sum(when(col("__t") === t && col("__p") === p, col("__v")))
    val agg = staged.agg(
      cellN(true, false).as("n_treat_pre"),
      cellN(true, true).as("n_treat_post"),
      cellN(false, false).as("n_control_pre"),
      cellN(false, true).as("n_control_post"),
      cellS(true, false).as("__s_tp"), cellS(true, true).as("__s_tq"),
      cellS(false, false).as("__s_cp"), cellS(false, true).as("__s_cq"))
    def d(c: Column) = c.cast(DoubleType)
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    def m(s: String, n: String) =
      when(col(n) > 0, round(d(col(s)) / safe(d(col(n))), 6))
    agg.select(col("n_treat_pre"), col("n_treat_post"),
      col("n_control_pre"), col("n_control_post"),
      m("__s_tp", "n_treat_pre").as("mean_treat_pre"),
      m("__s_tq", "n_treat_post").as("mean_treat_post"),
      m("__s_cp", "n_control_pre").as("mean_control_pre"),
      m("__s_cq", "n_control_post").as("mean_control_post"),
      when(col("n_treat_pre") > 0 && col("n_treat_post") > 0 &&
        col("n_control_pre") > 0 && col("n_control_post") > 0,
        round((d(col("__s_tq")) / safe(d(col("n_treat_post"))) -
          d(col("__s_tp")) / safe(d(col("n_treat_pre")))) -
          (d(col("__s_cq")) / safe(d(col("n_control_post"))) -
            d(col("__s_cp")) / safe(d(col("n_control_pre")))), 6))
        .as("did"))
  }

  /** Time-to-convert readout: of the keys that performed
    * `fromState`, how many later performed `toState`, how fast —
    * conversion share in exact ppm plus EXACT order-statistic
    * p50/p90 of the first-from → first-to lag in whole seconds (the
    * funnel tells you WHO converts; this tells you HOW LONG the
    * corpus must wait — the number behind attribution windows and
    * streaming watermark choices).
    *
    * Scale shape: one map-side-combined conditional aggregate to
    * per-key first-event times, then the converter lags rank through
    * [[globalRankByValue]]'s two-phase prefix sum (NOT a
    * single-partition window), and the two order statistics reduce
    * to one bounded aggregate. Lags are exact integer seconds
    * (unix_micros div 10⁶); the order-statistic pick is the
    * [[quantilesByGroup]] rank rule with (lag, key) as the total
    * order.
    *
    * Returns one row: (n_from, n_converted, conversion_ppm,
    * p50_lag_s, p90_lag_s) — quantiles NULL when nothing converts. */
  def conversionLag(
      df: DataFrame,
      keyCol: Column,
      tsCol: Column,
      stateCol: Column,
      fromState: String,
      toState: String): DataFrame = {
    val per = df
      .filter(keyCol.isNotNull && tsCol.isNotNull)
      .select(keyCol.as("__k"), tsCol.cast(TimestampType).as("__ts"),
        stateCol.cast(StringType).as("__s"))
      .groupBy(col("__k"))
      .agg(min(when(col("__s") === fromState, col("__ts"))).as("__tf"),
        min(when(col("__s") === toState, col("__ts"))).as("__tt"))
      .filter(col("__tf").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val conv = per
      .filter(col("__tt").isNotNull && col("__tt") >= col("__tf"))
      .select(col("__k"),
        expr("(unix_micros(__tt) - unix_micros(__tf)) div 1000000")
          .as("__lag"))
    val counts = per.agg(count(lit(1)).as("n_from"))
    val out = (if (conv.isEmpty) {
      // nothing converted: no rank pass to run, quantiles abstain
      counts.select(col("n_from"), lit(0L).as("n_converted"),
        when(col("n_from") > 0, lit(0L)).as("conversion_ppm"),
        lit(null).cast(LongType).as("p_500_lag_s"),
        lit(null).cast(LongType).as("p_900_lag_s"))
    } else {
      val (ranked, nConv) = globalRankByValue(conv, "__lag", "__k")
      def pick(p: Int) =
        min(when(col("__rank") ===
          expr(s"greatest(1, (__n * $p + 999) div 1000)"), col("__lag")))
          .as(s"p_${p}_lag_s")
      val qs = ranked.withColumn("__n", lit(nConv))
        .agg(pick(500), pick(900))
      counts.crossJoin(broadcast(qs)) // 1-row control plane
        .select(col("n_from"), lit(nConv).as("n_converted"),
          when(col("n_from") > 0,
            expr(s"$nConv * 1000000 div n_from")).as("conversion_ppm"),
          col("p_500_lag_s"), col("p_900_lag_s"))
    }).localCheckpoint(true) // 1 row; free per afterwards
    per.unpersist(false)
    out
  }

  /** Randomization (permutation) test on the arm-mean difference —
    * WITHOUT rand(): each of `reps` replicates re-assigns every unit
    * by a SEEDED portable affine hash ([[graft.operators.Sampling.idBucket]]
    * family), rebuilds the mean difference under the null of
    * no-effect, and the report says how many replicate |t| reach the
    * observed |t| — the Fisherian p-value upper bound
    * (1 + n_ge)/(R + 1) with no normality assumption at all, and
    * fully reproducible across runs, retries, and engines (the
    * determinism contract every rand()-based permutation test
    * breaks).
    *
    * Scale shape: one exchange to per-unit totals (persisted — two
    * consumers), a `reps`-way bounded explode (REPS × units rows, a
    * constant fan-out), one map-side-combined groupBy(seed) to R
    * rows, and the 1-row observed frame broadcast back. Exact
    * decimal sums everywhere; each t is the same literal-order
    * double form, so the |t| comparisons replay bitwise.
    *
    * Returns one row: (n_units, r_total, r_effective — replicates
    * where both hash arms are non-empty, t_obs, n_ge, p_ub_ppm =
    * (1 + n_ge)·10⁶ div (r_effective + 1)). */
  def permutationTest(
      df: DataFrame,
      unitCol: Column,
      variantCol: Column,
      yCol: Column,
      variantA: String,
      variantB: String,
      reps: Int = 32): DataFrame = {
    require(reps >= 1 && reps <= 256, s"reps out of range: $reps")
    val dec = DecimalType(18, 4)
    val per = df
      .select(unitCol.cast(LongType).as("__u"),
        variantCol.cast(StringType).as("__v"),
        yCol.cast(dec).as("__y"))
      .filter(col("__u").isNotNull && col("__v").isin(variantA, variantB))
      .groupBy(col("__u"), col("__v"))
      .agg(coalesce(sum(col("__y")), lit(0).cast(dec)).as("__y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def d(c: Column) = c.cast(DoubleType)
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    def tOf(n0: String, s0: String, n1: String, s1: String) =
      d(col(s1)) / safe(d(col(n1))) - d(col(s0)) / safe(d(col(n0)))
    val obs = per.agg(
      count(lit(1)).as("n_units"),
      sum(when(col("__v") === variantA, 1L).otherwise(0L)).as("__n0"),
      sum(when(col("__v") === variantA, col("__y"))).as("__s0"),
      sum(when(col("__v") === variantB, 1L).otherwise(0L)).as("__n1"),
      sum(when(col("__v") === variantB, col("__y"))).as("__s1"))
      .select(col("n_units"),
        when(col("__n0") > 0 && col("__n1") > 0,
          tOf("__n0", "__s0", "__n1", "__s1")).as("__tobs"))
    // The null must preserve the OBSERVED arm allocation: re-drawing
    // a 90/10 design at 50/50 would rank t_obs against the wrong
    // replicate distribution (ADVICE r10). The threshold is the
    // observed A-share of the bucket space, collected as a 1-row
    // pre-scan driver literal (the fdrByGroup pattern) in pure
    // integer arithmetic the oracle replays verbatim.
    val allocRow = per.agg(
      coalesce(sum(when(col("__v") === variantA, 1L).otherwise(0L)),
        lit(0L)).as("na"),
      coalesce(count(lit(1)), lit(0L)).as("nt")).head()
    val (na, nt) = (allocRow.getLong(0), allocRow.getLong(1))
    val armThr: Long =
      if (nt > 0) na * Sampling.Buckets / nt else Sampling.Buckets / 2
    // QUADRATIC portable hash, not the affine idBucket: an affine
    // map of consecutive ids is itself (anti-)correlated with id
    // parity on some seeds — exactly the structure experiment
    // variants are usually derived from, which would bias the null.
    // The u² term makes consecutive ids step by a varying 2u+1, and
    // the arm is a THRESHOLD on the bucket (the low bit of an
    // arithmetic hash is its weakest bit). Verified structure-free
    // across all default seeds in StatsSpec.
    val um = pmod(col("__u"), lit(Dedup.PortableMod))
    def armOf(r: Int): Column =
      when(pmod((um * um % Dedup.PortableMod) * Dedup.affineA(r) +
        um * Dedup.affineB(r) + r, lit(Dedup.PortableMod)) %
        Sampling.Buckets < armThr, 0)
        .otherwise(1).cast(IntegerType)
    val arms = (0 until reps).map { r =>
      struct(lit(r).as("seed"), armOf(r).as("arm"))
    }
    val repFrame = per
      .select(col("__y"), explode(array(arms: _*)).as("x"))
      .select(col("x.seed").as("__seed"), col("x.arm").as("__arm"),
        col("__y"))
      .groupBy(col("__seed"))
      .agg(sum(when(col("__arm") === 0, 1L).otherwise(0L)).as("__n0"),
        sum(when(col("__arm") === 0, col("__y"))).as("__s0"),
        sum(when(col("__arm") === 1, 1L).otherwise(0L)).as("__n1"),
        sum(when(col("__arm") === 1, col("__y"))).as("__s1"))
      .withColumn("__t",
        when(col("__n0") > 0 && col("__n1") > 0,
          tOf("__n0", "__s0", "__n1", "__s1")))
    val out = repFrame.crossJoin(broadcast(obs)) // 1-row control plane
      .agg(max(col("n_units")).as("n_units"),
        count(lit(1)).as("r_total"),
        sum(when(col("__t").isNotNull, 1L).otherwise(0L))
          .as("r_effective"),
        max(round(col("__tobs"), 6)).as("t_obs"),
        coalesce(sum(when(col("__t").isNotNull &&
          abs(col("__t")) >= abs(col("__tobs")), 1L).otherwise(0L)),
          lit(0L)).as("n_ge"))
      .withColumn("p_ub_ppm",
        expr("(1 + n_ge) * 1000000 div (r_effective + 1)"))
      .localCheckpoint(true) // 1 row; free per afterwards
    per.unpersist(false)
    out
  }

  /** Grouped randomization tests + Benjamini–Hochberg FDR step-up —
    * the MULTIPLE-TESTING operator a per-source health dashboard
    * needs: testing 20 sources at α = 5% each expects one false
    * "this source drifted" alarm per report; BH controls the false
    * discovery RATE across the whole family instead.
    *
    * Per group g: does g's pass rate for `pred` differ from the rest
    * of the corpus? The null re-draws every row's label from the
    * global rate via the [[permutationTest]] seeded QUADRATIC hash
    * (rand()-free randomization inference, reproducible on any
    * engine); T = |rate_in − rate_out|, p_g = (1 + #{r: T_r ≥
    * T_obs})/(R+1) in exact ppm. The BH step-up then runs entirely
    * in INTEGER arithmetic on the ≤ |groups| frame: reject the
    * i-ranked p iff p_ppm·m ≤ i·α_permille·1000 for some rank ≥ i —
    * no double ever enters the decision.
    *
    * Scale shape: one groupBy to the (group, n, k) cell frame
    * (persisted — the multi-consumer rule), one reps-wide explode of
    * the row frame (linear ×R, the permutationTest cost shape), two
    * bounded aggregations, and the step-up window over ≤ |groups|
    * rows. The global threshold is a 1-row pre-scan collected as a
    * driver literal.
    *
    * `idCol` is the stable per-row unit id the portable hash draws
    * from (a primary key — the oracle replays the same draws from
    * the same ids).
    *
    * `dependent = true` switches the step-up to Benjamini–Yekutieli
    * (2001): the same decision with α divided by the harmonic number
    * H_m — valid under ARBITRARY dependence between the tests, which
    * per-source drift tests on one shared corpus genuinely have (every
    * test's "rest of corpus" overlaps every other's). Kept integer:
    * H_m enters as the per-rank CEIL-ppm harmonic
    * c₆ = Σᵢ⌈10⁶/i⌉ (a window sum over the tested ranks), and the
    * decision becomes p·m·c₆ ≤ i·α‰·10⁹ — products stay under 2⁶³ for
    * every family the control-plane bound admits. Rounding each term
    * UP overstates H_m by < 1 ppm per term, shrinking the rejection
    * region — genuinely conservative relative to exact α/H_m (a
    * floor would round the harmonic DOWN and loosen the test by the
    * same hair — ADVICE r12).
    *
    * Returns one row per group: (groupCol, n, pass_ppm, t_obs,
    * p_ppm, bh_rank, rejected); p/rank/rejected NULL for a group
    * that IS the whole corpus (no complement to test against). */
  def fdrByGroup(
      df: DataFrame,
      groupCol: String,
      idCol: Column,
      pred: Column,
      reps: Int = 32,
      alphaPermille: Int = 50,
      dependent: Boolean = false): DataFrame = {
    require(reps >= 1 && reps <= 256, s"reps out of range: $reps")
    require(alphaPermille > 0 && alphaPermille < 1000,
      s"alphaPermille out of range: $alphaPermille")
    val rows = df
      .select(col(groupCol).cast(StringType).as("__g"),
        idCol.cast(LongType).as("__u"),
        when(coalesce(pred, lit(false)), 1L).otherwise(0L).as("__y"))
      .filter(col("__g").isNotNull && col("__u").isNotNull)
    val cells = rows.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), coalesce(sum(col("__y")), lit(0L))
        .as("__k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totRow = cells.agg(coalesce(sum(col("__n")), lit(0L)),
      coalesce(sum(col("__k")), lit(0L))).collect()(0)
    val bigN = totRow.getLong(0)
    val bigK = totRow.getLong(1)
    require(bigN > 0, "fdrByGroup: empty input")
    val thr = bigK * 1000000L / bigN // global pass rate as a bucket cut
    def d(c: Column) = c.cast(DoubleType)
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    def tOf(k: Column, n: Column, kr: Column, nr: Column) =
      abs(d(k) / safe(d(n)) - d(kr) / safe(d(nr)))
    val obs = cells.select(col("__g"), col("__n"), col("__k"),
      when(col("__n") < bigN,
        tOf(col("__k"), col("__n"), lit(bigK) - col("__k"),
          lit(bigN) - col("__n"))).as("__tobs"))
    val um = pmod(col("__u"), lit(Dedup.PortableMod))
    val draws = (0 until reps).map { r =>
      struct(lit(r).as("seed"),
        when(pmod((um * um % Dedup.PortableMod) * Dedup.affineA(r) +
          um * Dedup.affineB(r) + r, lit(Dedup.PortableMod)) %
          Sampling.Buckets < thr, 1L).otherwise(0L).as("y"))
    }
    // linear ×R explode; the (seed, group) frame is 32·|groups| rows
    val repCells = rows
      .select(col("__g"), explode(array(draws: _*)).as("x"))
      .groupBy(col("x.seed").as("__seed"), col("__g"))
      .agg(count(lit(1)).as("__n"), coalesce(sum(col("x.y")), lit(0L))
        .as("__kr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val repTot = repCells.groupBy(col("__seed"))
      .agg(coalesce(sum(col("__kr")), lit(0L)).as("__ktot"))
    val tRep = repCells.join(repTot, Seq("__seed"))
      .select(col("__g"),
        when(col("__n") < bigN,
          tOf(col("__kr"), col("__n"), col("__ktot") - col("__kr"),
            lit(bigN) - col("__n"))).as("__t"))
    val pv = tRep.join(obs.select(col("__g"), col("__tobs")), Seq("__g"))
      .groupBy(col("__g"))
      .agg(
        sum(when(col("__t").isNotNull, 1L).otherwise(0L))
          .as("__reff"),
        coalesce(sum(when(col("__t").isNotNull &&
          col("__t") >= col("__tobs"), 1L).otherwise(0L)), lit(0L))
          .as("__nge"))
      .join(obs, Seq("__g"))
      .withColumn("__p",
        when(col("__tobs").isNotNull,
          expr("(1 + __nge) * 1000000 div (__reff + 1)")))
    // BH step-up on the bounded per-group frame: ranks over the
    // tested family (NULL p = untestable, excluded from m)
    val wRank = Guards.seriesWindow(col("__p").asc_nulls_last,
      col("__g").asc)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = Guards.boundedSeries(pv, "fdrByGroup groups")
      .withColumn("__i",
        when(col("__p").isNotNull, row_number().over(wRank)))
      .withColumn("__m",
        sum(when(col("__p").isNotNull, 1L).otherwise(0L)).over(wAll))
      .withColumn("__ok",
        if (dependent) {
          // BY: α / H_m via the CEIL-ppm harmonic — integer, and
          // rounding H_m UP tightens the test (ADVICE r12: a floor
          // would loosen it by a few ppm)
          val c6 = sum(when(col("__i").isNotNull,
            expr("(1000000 + __i - 1) div __i"))).over(wAll)
          col("__p") * col("__m") * c6 <=
            col("__i") * lit(alphaPermille.toLong) * 1000L * 1000000L
        } else
          col("__p") * col("__m") <=
            col("__i") * lit(alphaPermille.toLong) * 1000L)
      .withColumn("__imax",
        max(when(col("__ok"), col("__i"))).over(wAll))
    val out = ranked.select(col("__g").as(groupCol),
      col("__n").as("n"),
      expr("__k * 1000000 div __n").as("pass_ppm"),
      round(col("__tobs"), 6).as("t_obs"),
      col("__p").as("p_ppm"),
      col("__i").as("bh_rank"),
      when(col("__i").isNotNull,
        coalesce(col("__i") <= col("__imax"), lit(false)))
        .as("rejected"))
      .localCheckpoint(true) // ≤ |groups| rows; free the memos
    cells.unpersist(false)
    repCells.unpersist(false)
    out
  }

  /** z quantiles of [[powerMde]]: two-sided α = 0.05 and 80% power. */
  private val MdeZAlpha = 1.96
  private val MdeZBeta = 0.8416

  /** Minimum-detectable-effect readout — the experiment-DESIGN
    * companion of [[welchT]]/[[cupedAdjust]]: given the unit counts
    * and metric variances the experiment actually has, what absolute
    * and relative lift could it detect at significance α and power
    * 1−β? MDE = (z_{α/2} + z_β)·√(s²_a/n_a + s²_b/n_b) — the
    * standard two-sample formula with the z quantiles supplied as
    * literals (1.96 / 0.8416 for the canonical 5%/80%), keeping the
    * gate transcendental-free. Run it BEFORE the readout: an
    * underpowered experiment's "no significant difference" means
    * nothing.
    *
    * Scale shape: one exchange to per-UNIT metric totals (the
    * experimental unit is the randomization unit — row-level
    * variance would understate SE under within-user correlation,
    * the [[cupedAdjust]] staging), then one conditional aggregate to
    * a 1-row frame of exact decimal moments.
    *
    * Determinism: per-unit totals and their [[cupedAdjust]]-style
    * 2-dp-fixed squares sum as exact DECIMAL; the variance / SE /
    * MDE chain runs in literal oracle order on the 1-row frame.
    * NULL-gated when either arm has < 2 units or SE² ≤ 0.
    *
    * Returns one row: (n_a, n_b, mean_a, se, mde_abs, mde_rel) —
    * mde_rel the detectable lift as a share of the control mean. */
  def powerMde(
      df: DataFrame,
      unitCol: Column,
      variantCol: Column,
      yCol: Column,
      variantA: String,
      variantB: String): DataFrame = {
    val dec = DecimalType(18, 4)
    def fix2(c: Column) = round(c, 2).cast(DecimalType(28, 2))
    val per = df
      .select(unitCol.as("__u"), variantCol.cast(StringType).as("__v"),
        yCol.cast(dec).as("__y"))
      .filter(col("__u").isNotNull && col("__v").isin(variantA, variantB))
      .groupBy(col("__u"), col("__v"))
      .agg(coalesce(sum(col("__y")), lit(0).cast(dec)).as("__y"))
    val one = per.agg(
      sum(when(col("__v") === variantA, 1L).otherwise(0L)).as("__na"),
      sum(when(col("__v") === variantA, col("__y"))).as("__sa"),
      sum(when(col("__v") === variantA, fix2(col("__y") * col("__y"))))
        .as("__ssa"),
      sum(when(col("__v") === variantB, 1L).otherwise(0L)).as("__nb"),
      sum(when(col("__v") === variantB, col("__y"))).as("__sb"),
      sum(when(col("__v") === variantB, fix2(col("__y") * col("__y"))))
        .as("__ssb"))
    def d(c: Column) = c.cast(DoubleType)
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    def varOf(s: String, ss: String, n: String) =
      (d(col(ss)) - d(col(s)) * d(col(s)) / safe(d(col(n)))) /
        safe(d(col(n)) - lit(1.0))
    val se2 = varOf("__sa", "__ssa", "__na") / safe(d(col("__na"))) +
      varOf("__sb", "__ssb", "__nb") / safe(d(col("__nb")))
    val meanA = d(col("__sa")) / safe(d(col("__na")))
    val ok = col("__na") > 1 && col("__nb") > 1 && se2 > 0
    val mde = (lit(MdeZAlpha) + lit(MdeZBeta)) * sqrt(se2)
    one.select(col("__na").as("n_a"), col("__nb").as("n_b"),
      when(col("__na") > 0, round(meanA, 6)).as("mean_a"),
      when(ok, round(sqrt(se2), 6))
        .otherwise(lit(null).cast(DoubleType)).as("se"),
      when(ok, round(mde, 6))
        .otherwise(lit(null).cast(DoubleType)).as("mde_abs"),
      when(ok && meanA =!= 0.0, round(mde / safe(meanA), 6))
        .otherwise(lit(null).cast(DoubleType)).as("mde_rel"))
  }

  /** First-order Markov transition matrix over per-key event
    * sequences: for every ordered (from_state, to_state) pair of
    * consecutive states within a key, the transition count and its
    * conditional probability in integer ppm (count·10⁶ div row-total
    * — exact, no float division to drift). The behavioral-model
    * primitive behind next-event prediction, anomalous-flow detection
    * and synthetic-session generation; each key's first event has no
    * predecessor and is excluded.
    *
    * Determinism: within-key order is (orderBy, tiebreak) — the
    * tiebreak column must make the sort total (an id), or concurrent
    * same-timestamp events would make `lag` engine-dependent.
    *
    * Scale shape: one exchange on the key for the lag window (state
    * stays with its sequence — sequences never interleave across
    * partitions), then a map-side-combined count on (from, to) —
    * |states|² rows — and a row-total window over that tiny matrix.
    *
    * Returns (from_state, to_state, n_trans, p_ppm). */
  def transitionMatrix(
      df: DataFrame,
      keyCol: Column,
      orderBy: Column,
      tiebreak: Column,
      state: Column): DataFrame = {
    val counts = df
      .select(keyCol.as("__k"), orderBy.as("__o"), tiebreak.as("__t"),
        state.as("__s"))
      .withColumn("__prev", lag(col("__s"), 1).over(
        Window.partitionBy(col("__k"))
          .orderBy(col("__o").asc, col("__t").asc)))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("from_state"), col("__s").as("to_state"))
      .agg(count(lit(1)).as("n_trans"))
    counts
      .withColumn("__tot",
        sum(col("n_trans")).over(Window.partitionBy(col("from_state"))))
      .withColumn("p_ppm", expr("n_trans * 1000000 div __tot"))
      .drop("__tot")
  }

  /** Rows [[pathMining]] keeps. */
  private val PathTopK = 20

  /** Top-k event PATHS of length `pathLen` — the higher-order
    * complement of [[transitionMatrix]]: the matrix assumes the next
    * state depends only on the current one; the path census shows
    * the actual multi-step flows (and where the Markov assumption
    * breaks — a path far off its chained-bigram expectation is
    * memory). Paths slide per key over the (orderBy, tiebreak) total
    * order, so a key with s states yields s − pathLen + 1 paths.
    *
    * Scale shape: ONE exchange on the key for the lag window
    * (sequences never interleave across partitions), a map-side-
    * combined path count (≤ |states|^pathLen rows — tiny for event
    * vocabularies), a 1-row total broadcast back, and the top-k cut
    * plans as TakeOrderedAndProject (per-partition top-k + driver
    * merge, no global sort). Share is exact integer ppm; the top-k
    * order (n desc, path asc) is total, so the cut replays on any
    * engine.
    *
    * Returns ≤ [[PathTopK]] rows: (path — states joined with '>',
    * n, share_ppm of ALL length-`pathLen` paths). */
  def pathMining(
      df: DataFrame,
      keyCol: Column,
      orderBy: Column,
      tiebreak: Column,
      state: Column,
      pathLen: Int = 3): DataFrame = {
    require(pathLen >= 2 && pathLen <= 5,
      s"pathLen must be in [2, 5]: $pathLen")
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__o").asc, col("__t").asc)
    val lagCols = (pathLen - 1 to 0 by -1).map { i =>
      val c = if (i == 0) col("__s") else lag(col("__s"), i).over(w)
      c.as(s"__s$i")
    }
    val names = (pathLen - 1 to 0 by -1).map(i => col(s"__s$i"))
    val paths = df
      .select(keyCol.as("__k"), orderBy.as("__o"), tiebreak.as("__t"),
        state.cast(StringType).as("__s"))
      .select(lagCols: _*)
      // a NULL anywhere means an incomplete (or NULL-state) window
      .filter(names.map(_.isNotNull).reduce(_ && _))
      .withColumn("__path", concat_ws(">", names: _*))
      .groupBy(col("__path").as("path"))
      .agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = paths.agg(sum(col("n")).as("__tot"))
    val out = paths.crossJoin(broadcast(tot)) // 1-row control plane
      .withColumn("share_ppm", expr("n * 1000000 div __tot"))
      .drop("__tot")
      .orderBy(col("n").desc, col("path").asc)
      .limit(PathTopK)
      .localCheckpoint(true) // ≤ PathTopK rows; free paths afterwards
    paths.unpersist(false)
    out
  }

  /** Power-iteration rounds of [[markovSteadyState]]. */
  private val MarkovIters = 20

  /** Stationary distribution of the [[transitionMatrix]] chain by
    * power iteration: where does the process SPEND ITS TIME in the
    * long run — the one-number-per-state summary of the behavioral
    * model (the matrix says "what follows a click"; the steady state
    * says "what fraction of all activity is clicks at equilibrium").
    * States with no outgoing transitions leak mass (the simple
    * formulation, like the PageRank dangling contract); states with
    * no incoming transitions finish at 0.
    *
    * Scale shape: the input is the ALREADY-BOUNDED |states|² matrix
    * (the corpus was folded to the bigram census upstream and is
    * never rescanned), so the fixpoint runs as a guarded DRIVER
    * power iteration over the collected matrix — the
    * [[graft.operators.Similarity]] powerIterate pattern; 20
    * cluster rounds over a few-hundred-row frame were pure job
    * overhead. Determinism: probabilities are the exact integer
    * ppm / 10⁶; each term replays Spark's round(·, 9) +
    * cast(DECIMAL(18,9)) bit-for-bit and sums exactly.
    *
    * Returns one row per state: (state, pi), π after [[MarkovIters]]
    * rounds from the uniform start, 6-dp. */
  def markovSteadyState(
      transitions: DataFrame): DataFrame = {
    // DRIVER power iteration over the COLLECTED matrix — the
    // [[graft.operators.Similarity]] powerIterate precedent: the
    // input is ≤ |states|² control-plane rows by this operator's own
    // contract (the corpus was already folded to the event-type
    // bigram census), and the previous cluster form paid 20 rounds ×
    // (join + aggregate + lineage management) of fixed job cost to
    // move a few-hundred-row frame — the catalog's single largest
    // pure-overhead loop (OPTIMIZATION_r16; neither 1-partition
    // shuffles nor per-round broadcasts helped, measured). The
    // collect is guarded loudly; a 10⁶-state chain must partition the
    // fixpoint, not raise the bound.
    //
    // Arithmetic replicates the distributed fold BIT-FOR-BIT (pinned
    // by StatsSpec and the DuckDB oracle):
    //   p        = p_ppm / 10⁶ (long→double exact, one IEEE divide)
    //   round9   = BigDecimal.valueOf(π_from·p).setScale(9, HALF_UP)
    //              .doubleValue            — Spark round(double, 9)
    //   term     = BigDecimal.valueOf(round9).setScale(9, HALF_UP)
    //              — Spark cast(double → DECIMAL(18,9))
    //   π'_to    = Σ term (exact decimal, order-free) .doubleValue
    //              — Spark sum(DECIMAL).cast(double)
    //   absent   = 0.0 — the old left-join coalesce
    val spark = transitions.sparkSession
    val tr = transitions.select(col("from_state"), col("to_state"),
      col("p_ppm").cast(LongType).as("p_ppm"))
    val stType = tr.schema("from_state").dataType
    val maxRows = Guards.MaxSeriesRows
    val rows = tr.limit(maxRows.toInt + 1).collect()
    require(rows.length <= maxRows,
      s"markovSteadyState: transition matrix exceeds the $maxRows-row " +
        "control-plane bound — partition the chain instead")
    require(rows.nonEmpty, "no states")
    val from = rows.map(_.get(0))
    val to = rows.map(_.get(1))
    val p = rows.map(r => r.getLong(2).toDouble / 1000000.0)
    val states: Array[Any] = (from ++ to).distinct
    val idx = states.zipWithIndex.toMap
    val fi = from.map(idx)
    val ti = to.map(idx)
    val rm = java.math.RoundingMode.HALF_UP
    var pi = Array.fill(states.length)(1.0 / states.length)
    for (_ <- 1 to MarkovIters) {
      val acc = Array.fill[java.math.BigDecimal](states.length)(null)
      var r = 0
      while (r < rows.length) {
        val t = pi(fi(r)) * p(r)
        val d9 = java.math.BigDecimal.valueOf(t).setScale(9, rm)
          .doubleValue
        val term = java.math.BigDecimal.valueOf(d9).setScale(9, rm)
        val i = ti(r)
        acc(i) = if (acc(i) == null) term else acc(i).add(term)
        r += 1
      }
      pi = Array.tabulate(states.length)(i =>
        if (acc(i) == null) 0.0 else acc(i).doubleValue)
    }
    val out = states.zip(pi).map { case (s, v) =>
      org.apache.spark.sql.Row(s, v) }
    spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(out: _*)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("state", stType),
          org.apache.spark.sql.types.StructField(
            "pi", DoubleType))))
      .select(col("state"), round(col("pi"), 6).as("pi"))
  }

  /** Deterministic per-group mode: the most frequent value, ties
    * broken by value ascending (an arbitrary-tie mode is not
    * reproducible across engines or reruns). Two map-side-combined
    * aggregations — (group, value) counts, then a rank-1 window over
    * |distinct values| rows, never over data rows.
    *
    * Returns (groupCols*, mode_value, n_mode). */
  def modePerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      value: Column): DataFrame = {
    val counts = df.groupBy((groupCols.map(col) :+
        value.as("mode_value")): _*)
      .agg(count(lit(1)).as("n_mode"))
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("n_mode").desc, col("mode_value").asc)
    counts.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk")
  }

  /** One-aggregation table profile: per column — row count, NULL
    * count, exact distinct count, min and max (cast to string for a
    * uniform row shape). The first look every ingested table gets;
    * the generalized DESCRIBE the reference's per-sync NULL audit
    * (A3) is a slice of.
    *
    * Scale shape: ONE global aggregate; the multiple exact
    * count-distincts plan via Expand (each input row fans out once
    * per profiled column inside the map task — no extra scan, one
    * shuffle of the expanded keys). COST CONTRACT: the Expand
    * shuffle carries every distinct value of every profiled column —
    * the one term here that grows with corpus cardinality, so this
    * exact profile scales superlinearly on high-cardinality columns
    * (the 10×-rows probe shows it ~4×). Exact distinct is the GATE
    * mode; at the 100 TB scale use [[profileApprox]] — the escape
    * hatch — which swaps the distinct terms for
    * [[graft.functions.KmvSketch]] estimates in the same output
    * shape, drops the Expand fanout entirely, and probes ~linear.
    * String min/max comparisons are binary in both engines —
    * profile string and integral columns (float/timestamp → string
    * rendering is engine-specific).
    *
    * Returns one row per profiled column:
    * (column, n_rows, n_null, n_distinct, min_value, max_value). */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast(StringType).as(s"__mn_$c"),
        max(col(c)).cast(StringType).as(s"__mx_$c"))
    }
    // parallelized: the Expand plan fans every row out |cols|+1 ways
    // INSIDE the scan stage — on a one-split input that multiplied
    // work lands on a single task (exact counts/min/max: partitioning
    // cannot change them; no-op on an already-parallel scan)
    val row = Guards.parallelized(df).agg(count(lit(1)).as("__n"), aggs: _*)
    val stacked = cols.map { c =>
      struct(lit(c).as("column"), col("__n").as("n_rows"),
        (col("__n") - col(s"__nn_$c")).as("n_null"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_value"),
        col(s"__mx_$c").as("max_value"))
    }
    row.select(explode(array(stacked: _*)).as("x")).select(col("x.*"))
  }

  /** [[profile]] at the 100 TB shape: the exact per-column
    * COUNT(DISTINCT) — whose Expand plan shuffles every distinct value
    * of every profiled column — swapped for the KMV sketch estimate
    * ([[graft.functions.KmvSketch]]): O(k) aggregation state per
    * column, ONE ordinary (non-Expand) global aggregate, no
    * distinct-value shuffle at all. n_rows / n_null / min / max stay
    * exact; n_distinct_est is exact below k and (k−1)·M/h_k above.
    * The portable hash family makes the estimate itself
    * oracle-replicable (unlike HLL++), so the approximate path gets a
    * full value-level gate, not a tolerance check.
    *
    * Values hash via their canonical string rendering — profile
    * string/integral columns (float/timestamp→string rendering is
    * engine-specific), same restriction as [[profile]].
    *
    * Returns one row per profiled column:
    * (column, n_rows, n_null, n_distinct_est, min_value, max_value). */
  def profileApprox(
      df: DataFrame,
      cols: Seq[String],
      k: Int = 64): DataFrame = {
    require(cols.nonEmpty, "profileApprox needs at least one column")
    val aggs = cols.flatMap { c =>
      val h = graft.functions.KmvSketch.uniformize(
        Dedup.polyHash(col(c).cast(StringType)))
      Seq(count(col(c)).as(s"__nn_$c"),
        graft.functions.KmvSketch.kmvAggNullSafe(h, k).as(s"__kmv_$c"),
        min(col(c)).cast(StringType).as(s"__mn_$c"),
        max(col(c)).cast(StringType).as(s"__mx_$c"))
    }
    val row = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val stacked = cols.map { c =>
      struct(lit(c).as("column"), col("__n").as("n_rows"),
        (col("__n") - col(s"__nn_$c")).as("n_null"),
        graft.functions.KmvSketch.estimate(col(s"__kmv_$c"), k,
          Dedup.PortableMod).as("n_distinct_est"),
        col(s"__mn_$c").as("min_value"),
        col(s"__mx_$c").as("max_value"))
    }
    row.select(explode(array(stacked: _*)).as("x")).select(col("x.*"))
  }

  def countMinSketch(
      items: DataFrame,
      item: Column,
      depth: Int = 4,
      width: Int = 1 << 20): DataFrame = {
    require(depth > 0 && width > 0)
    val cells = array((0 until depth).map { j =>
      pmod(col("__h") * Dedup.affineA(j) + Dedup.affineB(j),
        lit(Dedup.PortableMod)) % width
    }: _*)
    items
      .select(Dedup.polyHash(item).as("__h"),
        lit(1L).cast(LongType).as("__w"))
      .select(posexplode(cells).as(Seq("depth", "bucket")), col("__w"))
      .groupBy(col("depth"), col("bucket"))
      .agg(sum(col("__w")).as("cnt"))
  }

  /** Point-estimate item counts from a [[countMinSketch]]: the minimum
    * over depths of the counter each depth hashes the item into
    * (absent cell = 0). The sketch side is depth·width rows at most —
    * broadcast; the candidate side streams. Appends `estCol` to
    * `candidates`. */
  def cmsEstimate(
      sketch: DataFrame,
      candidates: DataFrame,
      item: Column,
      estCol: String,
      depth: Int = 4,
      width: Int = 1 << 20): DataFrame = {
    val cells = array((0 until depth).map { j =>
      pmod(col("__h") * Dedup.affineA(j) + Dedup.affineB(j),
        lit(Dedup.PortableMod)) % width
    }: _*)
    val passThrough = candidates.columns.toIndexedSeq.map(col)
    candidates
      .withColumn("__h", Dedup.polyHash(item))
      .select((passThrough :+
        posexplode(cells).as(Seq("depth", "bucket"))): _*)
      .join(broadcast(sketch), Seq("depth", "bucket"), "left")
      .groupBy(passThrough: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as(estCol))
  }

  /** Spearman rank correlation between two numeric columns — the
    * monotone-association complement of [[corrMatrix]]'s Pearson:
    * immune to monotone transforms and to the heavy tails that let a
    * few whale rows dictate a Pearson coefficient (the same reason
    * [[mannWhitney]] sits next to [[welchT]]). Complete-case rows
    * (both values present).
    *
    * Scale shape: two [[globalRankByValue]] passes (the two-phase
    * distributed prefix sum — no single-partition window); tie-aware
    * AVERAGE ranks need no join-back — doubled average rank
    * 2r̄ = min+max over the equal-value window partition, one
    * exchange keyed by the value. One final 1-row aggregate of six
    * exact DECIMAL(38,0) moments (cast BEFORE the multiply; the
    * doubling cancels in ρ).
    *
    * Determinism: rank moments are exact integers; ρ's closed form
    * runs once on the 1-row frame in literal oracle order. NULL when
    * either margin is constant (zero rank variance).
    *
    * Returns one row: (n, rho). */
  def spearman(
      df: DataFrame,
      xCol: String,
      yCol: String): DataFrame = {
    val staged = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast(DoubleType).as("__x"),
        col(yCol).cast(DoubleType).as("__y"))
      .withColumn("__t", lit(0))
    val (rx, _) = globalRankByValue(staged, "__x", "__t", RankRanges)
    val wx = Window.partitionBy(col("__x"))
    val withRx = rx
      .withColumn("__rx", min(col("__rank")).over(wx) +
        max(col("__rank")).over(wx))
      .drop("__rank")
    val (ry, _) = globalRankByValue(withRx, "__y", "__t", RankRanges)
    val wy = Window.partitionBy(col("__y"))
    val ranked = ry
      .withColumn("__ry", min(col("__rank")).over(wy) +
        max(col("__rank")).over(wy))
    val dec = DecimalType(38, 0)
    val agg = ranked.agg(count(lit(1)).as("n"),
      sum(col("__rx").cast(dec)).as("__sx"),
      sum(col("__ry").cast(dec)).as("__sy"),
      sum(col("__rx").cast(dec) * col("__rx")).as("__sxx"),
      sum(col("__ry").cast(dec) * col("__ry")).as("__syy"),
      sum(col("__rx").cast(dec) * col("__ry")).as("__sxy"))
    def d(c: Column) = c.cast(DoubleType)
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    val nD = d(col("n"))
    val num = nD * d(col("__sxy")) - d(col("__sx")) * d(col("__sy"))
    val denx = nD * d(col("__sxx")) - d(col("__sx")) * d(col("__sx"))
    val deny = nD * d(col("__syy")) - d(col("__sy")) * d(col("__sy"))
    agg.select(col("n"),
      when(denx > 0.0 && deny > 0.0,
        round(num / safe(sqrt(denx * deny)), 6))
        .otherwise(lit(null).cast(DoubleType)).as("rho"))
  }

  /** The limb width of [[corrMatrix]]'s two-long exact sums. */
  private val CorrLimb = 1L << 23

  /** Decimal places each [[corrMatrix]] product is fixed at. */
  private val CorrScale = 4

  /** Pairwise Pearson correlation matrix over `cols` in ONE scan and
    * ONE 1-row aggregate: the sufficient statistics (Σx, Σx², Σxy for
    * every pair) accumulate together with map-side combine, so the
    * shuffle carries O(k²) integer cells regardless of row count —
    * the feature-redundancy pre-flight a training pipeline runs
    * before fitting anything.
    *
    * Determinism without the decimal tax: each product rounds
    * half-away to [[CorrScale]] dp as a LONG (|term| must stay < 2⁴⁶ —
    * bound your scale to the data's magnitude), which splits into two
    * limbs (⌊t/2²³⌋, t mod 2²³) summed as plain codegen'd longs —
    * ~18× faster than DECIMAL-buffered sums at sf0.1 (measured) and
    * EXACT for up to 2⁶³/2²³ ≈ 10¹² rows per aggregate; the limbs
    * reassemble decimal-exactly on the single result row. The
    * rounded-product moment is a hair off the IEEE-exact one; both
    * engines compute the SAME definition, far below the 6-dp emit.
    * Upper triangle only, (x, y) in `cols` order.
    *
    * Returns one row per pair: (x, y, n, corr). */
  def corrMatrix(
      df: DataFrame,
      cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need at least 2 columns: $cols")
    require(cols.distinct.size == cols.size, s"duplicate columns: $cols")
    val mult = math.pow(10, CorrScale)
    def scaledLong(c: Column): Column =
      when(c >= 0, floor(c * mult + lit(0.5)))
        .otherwise(-floor(-c * mult + lit(0.5))).cast(LongType)
    def hiOf(t: Column): Column =
      floor(t.cast(DoubleType) / CorrLimb).cast(LongType)
    // Complete-case analysis (ADVICE r8): without this filter a NULL in
    // any input column silently drops out of the moment sums while
    // count(*) still counts the row, biasing every cov/var it touches.
    // (NaN rows are dropped too — na.drop treats NaN as missing for
    // numeric columns — matching "no poisoned moments" semantics.)
    val d = df.select(cols.map(c => col(c).cast(DoubleType).as(c)): _*)
      .na.drop("any", cols)
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    def limbSums(e: Column, m: String): Seq[Column] = {
      val t = scaledLong(e)
      Seq(sum(hiOf(t)).as(s"__h_$m"),
        sum(t - hiOf(t) * CorrLimb).as(s"__l_$m"))
    }
    val moments =
      cols.flatMap(c => limbSums(col(c), s"s_$c") ++
        limbSums(col(c) * col(c), s"ss_$c")) ++
      pairs.flatMap { case (a, b) =>
        limbSums(col(a) * col(b), s"sp_${a}__$b") }
    val one = d.agg(count(lit(1)).as("__n"), moments: _*)
    // limb reassembly is 1-row decimal arithmetic — exact, then one
    // cast to double and the /10^CorrScale in the same order as the
    // oracle
    def dbl(m: String) =
      (col(s"__h_$m").cast(DecimalType(38, 0)) * CorrLimb +
        col(s"__l_$m").cast(DecimalType(38, 0)))
        .cast(DoubleType) / mult
    val rows = pairs.map { case (a, b) =>
      val n = col("__n").cast(DoubleType)
      val cov = n * dbl(s"sp_${a}__$b") - dbl(s"s_$a") * dbl(s"s_$b")
      val va = n * dbl(s"ss_$a") - dbl(s"s_$a") * dbl(s"s_$a")
      val vb = n * dbl(s"ss_$b") - dbl(s"s_$b") * dbl(s"s_$b")
      struct(lit(a).as("x"), lit(b).as("y"),
        when(va * vb > 0, round(cov / sqrt(va * vb), 6))
          .otherwise(lit(null).cast(DoubleType)).as("corr"))
    }
    one.select(col("__n").as("n"), explode(array(rows: _*)).as("__p"))
      .select(col("__p.x").as("x"), col("__p.y").as("y"), col("n"),
        col("__p.corr").as("corr"))
  }

  /** Per-group label-distribution diversity: Shannon entropy (nats)
    * and Gini impurity of `labelCol` within each `groupCol` — the
    * mixture-diversity gauge a corpus report runs per source/shard
    * (a source whose language entropy collapses is a crawl bug).
    *
    * Scale shape: one map-side-combined (group, label) count, then
    * everything runs on that bounded frame (≤ |groups|·|labels|
    * rows); the corpus is scanned once. Determinism: shares divide
    * exact integers in double, each −p·ln p / p² term rounds to 9 dp
    * and fixes as DECIMAL before the sum.
    *
    * Returns (groupCol, n, n_labels, entropy, gini). */
  def entropyByGroup(
      df: DataFrame,
      groupCol: String,
      labelCol: String): DataFrame = {
    val counts = df.groupBy(col(groupCol), col(labelCol))
      .agg(count(lit(1)).as("__c"))
    // group totals as a window over the counts frame — NOT a second
    // aggregate joined back, which would re-derive counts and scan
    // the corpus twice (the window partitions are ≤ |labels| rows)
    val wg = Window.partitionBy(col(groupCol))
    counts
      .withColumn("__n", sum(col("__c")).over(wg))
      .withColumn("__k", count(lit(1)).over(wg))
      .withColumn("__p",
        col("__c").cast(DoubleType) / col("__n").cast(DoubleType))
      .groupBy(col(groupCol))
      .agg(max(col("__n")).as("n"), max(col("__k")).as("n_labels"),
        round(sum(Guards.fastRoundDec(-col("__p") * log(col("__p")),
          9, DecimalType(18, 9))).cast(DoubleType), 6).as("entropy"),
        round(lit(1.0) - sum(Guards.fastRoundDec(
          col("__p") * col("__p"), 9,
          DecimalType(18, 9))).cast(DoubleType), 6).as("gini"))
  }

  /** Mutual information between two categorical columns, in nats,
    * with the normalized form MI/√(H_a·H_b) — the redundancy check
    * between labeling dimensions (lang vs source ≈ independent in a
    * healthy crawl; NMI → 1 means one column is a relabeling of the
    * other and stratifying on both double-counts).
    *
    * ONE corpus scan: the joint (a, b) count is the only data-sized
    * aggregate; marginals, totals, and both entropies derive from
    * that persisted bounded frame (≤ |a|·|b| rows). Every ln argument
    * is a ratio of exact integer counts (doubles are exact below
    * 2^53); each term rounds to 9 dp and sums as DECIMAL. NMI is
    * computed from the 6-dp-rounded MI and entropies, so the gate
    * replays it from emitted-precision values.
    *
    * Returns one row: (n, n_cells, h_a, h_b, mi, nmi). */
  def mutualInformation(
      df: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val ab = df.groupBy(col(aCol), col(bCol))
      .agg(count(lit(1)).as("__cab"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nRow = ab.agg(sum(col("__cab")).as("__n"),
      count(lit(1)).as("n_cells"))
    def marginalEntropy(keyCol: String, out: String): DataFrame = {
      val m = ab.groupBy(col(keyCol)).agg(sum(col("__cab")).as("__c"))
      m.crossJoin(broadcast(nRow.select(col("__n"))))
        .withColumn("__p",
          col("__c").cast(DoubleType) / col("__n").cast(DoubleType))
        .agg(round(sum(Guards.fastRoundDec(
          -col("__p") * log(col("__p")), 9,
          DecimalType(18, 9))).cast(DoubleType), 6).as(out))
    }
    val ha = marginalEntropy(aCol, "h_a")
    val hb = marginalEntropy(bCol, "h_b")
    val ca = ab.groupBy(col(aCol)).agg(sum(col("__cab")).as("__ca"))
    val cb = ab.groupBy(col(bCol)).agg(sum(col("__cab")).as("__cb"))
    val mi = ab
      .join(broadcast(ca), Seq(aCol))
      .join(broadcast(cb), Seq(bCol))
      .crossJoin(broadcast(nRow.select(col("__n"))))
      .withColumn("__t",
        (col("__cab").cast(DoubleType) / col("__n").cast(DoubleType)) *
          log(col("__cab").cast(DoubleType) * col("__n").cast(DoubleType) /
            (col("__ca").cast(DoubleType) * col("__cb").cast(DoubleType))))
      .agg(round(sum(Guards.fastRoundDec(col("__t"), 9,
        DecimalType(18, 9))).cast(DoubleType), 6).as("mi"))
    // materialize the 1-row result, then release the joint frame —
    // without this the MEMORY_AND_DISK partitions outlive the call and
    // accumulate across a 216-query catalog run (ADVICE r8)
    val out = nRow.select(col("__n").as("n"), col("n_cells"))
      .crossJoin(broadcast(ha))
      .crossJoin(broadcast(hb))
      .crossJoin(broadcast(mi))
      .withColumn("nmi",
        when(col("h_a") * col("h_b") > 0,
          round(col("mi") / sqrt(col("h_a") * col("h_b")), 6))
          .otherwise(lit(0.0)))
      .localCheckpoint(true)
    ab.unpersist(false)
    out
  }

  /** Exact equi-depth binning of `valueCol` into `nBins` buckets —
    * the discretizer feeding quantile-stratified sampling and
    * per-decile quality reports. Bin of a row = ⌊(rank−1)·nBins/n⌋
    * over the global (value, tieCol) order, so bin populations differ
    * by at most one row and the assignment is fully deterministic
    * under ties.
    *
    * The global rank does NOT use a single-partition window: phase 1
    * coarse-bins values into `nRanges` equal-width ranges and
    * collects per-range counts (≤ nRanges integer rows — bounded
    * control-plane, the [[graft.operators.Sampling]] takeBudget prefix-sum
    * idiom); phase 2 ranks within each range in parallel and adds
    * the broadcast exclusive offset. Heavily duplicated values can
    * concentrate a range (their window partition grows); for such
    * keys pre-salt the tie column or raise nRanges.
    *
    * Returns one row per bin: (bin, n, lo, hi) with lo/hi the bin's
    * observed value range. */
  /** Distributed global dense rank over (`valueCol`, `tieCol`) order —
    * the two-phase prefix sum behind [[equiDepthBins]] and the
    * padding-waste audit: phase 1 coarse-bins values into `nRanges`
    * equal-width ranges and collects per-range counts (≤ nRanges
    * integer rows, bounded control-plane), phase 2 ranks within each
    * range in parallel and adds the broadcast exclusive offset. NOT a
    * single-partition window. Returns (frame + 1-based `__rank`
    * column, total row count). */
  def globalRankByValue(
      df: DataFrame,
      valueCol: String,
      tieCol: String,
      nRanges: Int = RankRanges): (DataFrame, Long) = {
    require(nRanges > 0)
    val v = col(valueCol).cast(DoubleType)
    val b = df.agg(min(v).as("lo"), max(v).as("hi"),
      count(lit(1)).as("n")).collect()(0)
    val (lo, hi, n) = (b.getDouble(0), b.getDouble(1), b.getLong(2))
    val coarse =
      if (hi > lo) binExpr(valueCol, lo, hi, nRanges) else lit(0)
    val withR = df.withColumn("__r", coarse)
    // Per-range offsets = exclusive running sum of the bin counts,
    // computed LAZILY in-plan (round 17): the former driver collect
    // was one extra eager job per call (~19 call sites across the
    // catalog), for an offsets table the consumer's own job can
    // derive. The running-sum window runs over the AGGREGATED bin
    // frame — ≤ nRanges rows by construction (binExpr clamps to
    // 0..nRanges−1), a bounded control-plane frame per the
    // seriesWindow contract.
    val offDf = withR.groupBy(col("__r")).agg(count(lit(1)).as("__t"))
      .withColumn("__off",
        coalesce(sum(col("__t")).over(
          Guards.seriesWindow(col("__r").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__r"), col("__off"))
    val w = Window.partitionBy(col("__r"))
      .orderBy(v.asc, col(tieCol).asc)
    val ranked = withR.join(broadcast(offDf), Seq("__r"))
      .withColumn("__rank", row_number().over(w) + col("__off"))
      .drop("__r", "__off")
    (ranked, n)
  }

  /** The k-th smallest value (1-based ascending, NULLs excluded) of
    * `valueCol` by iterative histogram refinement — a distributed
    * quickselect: each round one pass coarse-bins the surviving rows
    * into `nRanges` equal-width ranges, the collected counts
    * (≤ nRanges integers, bounded control-plane) locate the range
    * holding rank k, and only that range survives to the next round.
    * No shuffle, no sort, no window — every round is a scan plus a
    * bounded collect, the candidate span shrinks ≥ nRanges× per
    * round, so a 10¹¹-row frame resolves in 3–4 passes; once ≤
    * `maxLocal` candidates remain they sort on the driver (bounded by
    * construction). Ties need no tie-breaker: equal values share a
    * bin, and the k-th VALUE is identical whichever tied row formally
    * holds rank k.
    *
    * The single-order-statistic complement to [[globalRankByValue]]
    * (which materializes EVERY rank and pays a full shuffle plus a
    * per-range sort) — use this when exactly one quantile/threshold
    * is consumed downstream ([[splitConformal]]'s q̂). */
  def kthValue(df: DataFrame, valueCol: String, k: Long,
      nRanges: Int = RankRanges, maxLocal: Int = KthMaxLocal): Double =
    kthValueBy(df, valueCol, _ => k, nRanges, maxLocal)

  /** [[kthValue]] with k derived FROM the row count — `kOf(n)` is
    * evaluated on the n the first bounds pass measures, so callers
    * whose rank depends on the population (a permille cut: ⌈p·n/1000⌉)
    * skip the separate counting scan they would otherwise pay.
    * NULL and NaN values are excluded before counting (NaN has no
    * place in a total order; callers needing them must pre-map). */
  def kthValueBy(df: DataFrame, valueCol: String, kOf: Long => Long,
      nRanges: Int = RankRanges, maxLocal: Int = KthMaxLocal): Double = {
    val cur = df.select(col(valueCol).cast(DoubleType).as("__kv"))
      .filter(col("__kv").isNotNull && !isnan(col("__kv")))
    val b = cur.agg(min(col("__kv")).as("lo"),
      max(col("__kv")).as("hi"), count(lit(1)).as("n")).collect()(0)
    val n = b.getLong(2)
    val kk = kOf(n)
    require(kk >= 1 && kk <= n,
      s"kthValue: k=$kk out of range for $n surviving rows")
    kthPairLoop(cur, b.getDouble(0), b.getDouble(1), n, kk, kk,
      nRanges, maxLocal, rounds = 0)._1
  }

  /** TWO adjacent order statistics (kHi ∈ {kLo, kLo+1}) resolved in
    * SHARED refinement sweeps — the two-middle-ranks median
    * (theilSen, Siegel outer) used to pay two independent multi-round
    * selections over the same persisted pair frame (VERDICT r16 item
    * 3 / "What's wrong" #1). While both ranks sit in the same bin
    * (the common case for adjacent ranks) every round serves both;
    * when they straddle a bin boundary BOTH answers are already in
    * the histogram (kLo is its bin's max, kHi the next nonempty
    * bin's min — the fused per-bin min/max below), so the split
    * terminates the loop for free. NULL/NaN excluded as in
    * [[kthValue]]. */
  private[operators] def kthValuePair(
      df: DataFrame, valueCol: String, kLo: Long,
      kHi: Long): (Double, Double) = {
    require(kHi == kLo || kHi == kLo + 1,
      s"kthValuePair serves adjacent ranks only, got ($kLo, $kHi)")
    val cur = df.select(col(valueCol).cast(DoubleType).as("__kv"))
      .filter(col("__kv").isNotNull && !isnan(col("__kv")))
    val b = cur.agg(min(col("__kv")).as("lo"),
      max(col("__kv")).as("hi"), count(lit(1)).as("n")).collect()(0)
    val n = b.getLong(2)
    require(kLo >= 1 && kHi <= n,
      s"kthValuePair: ranks ($kLo, $kHi) out of range for $n rows")
    kthPairLoop(cur, b.getDouble(0), b.getDouble(1), n, kLo, kHi,
      RankRanges, KthMaxLocal, rounds = 0)
  }

  /** One refinement round = ONE scan: per-bin (count, min, max) in a
    * single bounded-collect histogram. Round 16's loop paid TWO full
    * scans per round (a bounds re-scan, then the counts), and its
    * next-round range was the picked bin's NOMINAL equal-width
    * boundaries — on a heavy-tailed distribution the mass
    * concentrates in one bin and the count barely shrinks while the
    * empty range contracts 256× per scan (the q_trend_theilsen
    * 8-core pathology: 22.7 s for ~10 near-full scans of the pair
    * frame). The fused per-bin min/max makes the next range the
    * picked bin's ACTUAL value span, so concentrated mass collapses
    * to its true spread in one round and a bin of duplicates
    * (min == max) resolves immediately; bin shape affects only the
    * scan count, never the selected values. */
  @annotation.tailrec
  private def kthPairLoop(cur: DataFrame, lo: Double, hi: Double,
      n: Long, kLo: Long, kHi: Long, nRanges: Int, maxLocal: Int,
      rounds: Int): (Double, Double) = {
    require(rounds < 64, "kthValue failed to converge")
    if (lo == hi) (lo, lo)
    else if (n <= maxLocal) {
      val arr = cur.collect().map(_.getDouble(0))
      require(arr.length == n,
        s"kthValue: surviving count changed ($n -> ${arr.length}) — " +
          "input must be immutable across refinement scans")
      java.util.Arrays.sort(arr)
      (arr((kLo - 1).toInt), arr((kHi - 1).toInt))
    } else {
      val hist = cur
        .groupBy(binExpr("__kv", lo, hi, nRanges).as("__kb"))
        .agg(count(lit(1)).as("__t"), min(col("__kv")).as("__mn"),
          max(col("__kv")).as("__mx"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3)))
        .sortBy(_._1)
      var acc = 0L
      var iLo = -1
      var iHi = -1
      for (i <- hist.indices) {
        val t = hist(i)._2
        if (iLo < 0 && acc + t >= kLo) iLo = i
        if (iHi < 0 && acc + t >= kHi) iHi = i
        if (iHi < 0) acc = acc + t
      }
      require(iLo >= 0 && iHi >= 0,
        "kthValue: histogram lost the target rank")
      if (iLo == iHi) {
        val (pick, t, mn, mx) = hist(iLo)
        // acc here = rows before bin iHi == rows before bin iLo
        kthPairLoop(
          cur.filter(binExpr("__kv", lo, hi, nRanges) === pick),
          mn, mx, t, kLo - acc, kHi - acc, nRanges, maxLocal,
          rounds + 1)
      } else {
        // adjacent ranks straddling a bin boundary: kLo is the LAST
        // value of bin iLo (its max), kHi the FIRST of the next
        // nonempty bin (its min) — both already collected
        (hist(iLo)._4, hist(iHi)._3)
      }
    }
  }

  /** Exact-quantile cap report over an integral column — the
    * sequence-length trimming step of a training-data pipeline
    * ("clip every document at the corpus p99 length"): the cap is
    * the ⌈permille·n/1000⌉-th smallest value (an EXACT order
    * statistic, not a sketch estimate — the cut must replay), found
    * by [[kthValue]]'s histogram refinement, and one aggregate then
    * reports what the clamp would do.
    *
    * Scale shape: one count, kthValue's few shuffle-free scans, one
    * scan for the report — no sort, no window, no full-rank
    * materialization anywhere. Integral values make the report
    * exact (the cap double is an integer below 2⁵³).
    *
    * Returns one row: (n_rows, k, cap_value, n_clipped, sum_kept) —
    * sum_kept = Σ min(value, cap), the post-clip token mass. */
  def capReportAtQuantile(
      df: DataFrame,
      valueCol: String,
      permille: Int): DataFrame = {
    require(permille >= 1 && permille <= 1000,
      s"permille out of range: $permille")
    val v = col(valueCol)
    val base = df.filter(v.isNotNull)
    // k derives from the count kthValue's first bounds pass measures
    // anyway — no separate counting scan (the capture runs once, on
    // the first refinement round)
    var k = 0L
    val cap = kthValueBy(base, valueCol, { n =>
      require(n >= 1, "capReportAtQuantile: empty input")
      k = (permille.toLong * n + 999L) / 1000L
      k
    }).toLong
    base.agg(
      count(lit(1)).as("n_rows"),
      sum(when(v > cap, 1L).otherwise(0L)).as("n_clipped"),
      sum(least(v.cast(LongType), lit(cap))).as("sum_kept"))
      .select(col("n_rows"), lit(k).as("k"), lit(cap).as("cap_value"),
        col("n_clipped"), col("sum_kept"))
  }

  def equiDepthBins(
      df: DataFrame,
      valueCol: String,
      tieCol: String,
      nBins: Int,
      nRanges: Int = RankRanges): DataFrame = {
    require(nBins > 0 && nRanges > 0)
    val v = col(valueCol).cast(DoubleType)
    val (ranked, n) = globalRankByValue(df, valueCol, tieCol, nRanges)
    ranked
      // floor of a double division of exact-integer operands: both
      // engines see identical IEEE values (exact while rank·nBins
      // stays under 2^53 — ~10¹⁴ rows at 10 bins)
      .withColumn("bin",
        floor((col("__rank") - 1) * nBins / lit(n.toDouble))
          .cast(IntegerType))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), min(v).as("lo"), max(v).as("hi"))
  }

  /** Padding-waste audit for length-bucketed batching: documents sort
    * by length into `nBuckets` equi-depth buckets (batch ≈ bucket, the
    * asymptotic model), every sequence pads to its bucket's max, and
    * the report says how much of the padded volume is waste — THE
    * curve (1 bucket = global padding, more buckets = less waste) that
    * justifies length-grouped batching in a training data loader.
    *
    * ONE rank pass ([[globalRankByValue]]) serves every bucket count:
    * the bucket of a row under B buckets is ⌊(rank−1)·B/n⌋, so the
    * B values explode from the same ranked frame. Integer-exact
    * throughout (lengths are token counts).
    *
    * Returns one row per bucket count: (n_buckets, total_tokens,
    * padded_tokens, waste_ratio). */
  def paddingWaste(
      df: DataFrame,
      lenCol: String,
      tieCol: String,
      bucketCounts: Seq[Int]): DataFrame = {
    require(bucketCounts.nonEmpty && bucketCounts.forall(_ > 0))
    val (ranked, n) = globalRankByValue(df, lenCol, tieCol)
    val exploded = ranked
      .select(col(lenCol).cast(LongType).as("__len"), col("__rank"))
      .select(col("__len"), col("__rank"),
        explode(array(bucketCounts.map(lit): _*)).as("n_buckets"))
      .withColumn("__b",
        floor((col("__rank") - 1) * col("n_buckets") / lit(n.toDouble))
          .cast(IntegerType))
    val perBucket = exploded.groupBy(col("n_buckets"), col("__b"))
      .agg(count(lit(1)).as("__nb"), max(col("__len")).as("__mx"),
        sum(col("__len")).as("__sm"))
    perBucket.groupBy(col("n_buckets"))
      .agg(sum(col("__sm")).as("total_tokens"),
        sum(col("__nb") * col("__mx")).as("padded_tokens"))
      .withColumn("waste_ratio",
        when(col("padded_tokens") > 0,
          round((col("padded_tokens") - col("total_tokens"))
            .cast(DoubleType) / col("padded_tokens").cast(DoubleType), 6))
          .otherwise(lit(0.0)))
  }

  /** Two-sample Kolmogorov–Smirnov statistic of every group against
    * `refGroup`: KS = sup_x |F_g(x) − F_ref(x)| over the EXACT
    * empirical CDFs — the binning-free complement to [[psiByGroup]]
    * (PSI answers "how much drift", KS answers "is the distribution
    * the same anywhere", and needs no bin-domain choice).
    *
    * Scale shape: one map-side-combined (group, value) count; the
    * ECDFs evaluate on the distinct-value spine × groups grid
    * (bounded by value cardinality — for continuous data quantize
    * first), windows partition per group. Determinism: ECDFs divide
    * exact integers in double, the sup is a max over identical
    * doubles.
    *
    * Returns (groupCol, n, ks) for every group ≠ `refGroup`. */
  def ksByGroup(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      refGroup: String): DataFrame = {
    val v = df
      .select(col(groupCol).cast(StringType).as("__g"),
        col(valueCol).cast(DoubleType).as("__x"))
      .filter(col("__x").isNotNull)
    // the count frame feeds the spine, the group list, the grid fill,
    // and (via the ECDF) the ref side — persist it or the corpus
    // groupBy re-runs once per consumer (the multi-consumer rule);
    // the frame is ≤ |groups|·|distinct values| rows
    val counts = v.groupBy(col("__g"), col("__x"))
      .agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // loud abstention for a missing reference group — same class as
    // the wassersteinByGroup guard (ADVICE r10)
    require(!counts.filter(col("__g") === refGroup).isEmpty,
      s"ksByGroup: reference group '$refGroup' has no rows in " +
        s"$groupCol — a drift gate against it would pass vacuously")
    val spine = counts.select(col("__x")).distinct()
    val groups = counts.select(col("__g")).distinct()
    val grid = groups.crossJoin(spine)
    val filled = grid.join(counts, Seq("__g", "__x"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    val wcum = Window.partitionBy(col("__g")).orderBy(col("__x").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wtot = Window.partitionBy(col("__g"))
    val ecdf = filled
      .withColumn("__cum", sum(col("__c")).over(wcum))
      .withColumn("__n", sum(col("__c")).over(wtot))
      .withColumn("__f",
        col("__cum").cast(DoubleType) / col("__n").cast(DoubleType))
    val ref = ecdf.filter(col("__g") === refGroup)
      .select(col("__x"), col("__f").as("__fr"))
    // ≤ |groups| rows: collect them into a local frame, then release
    // the persisted counts, so repeated catalog invocations don't
    // accumulate cached partitions for the session lifetime (ADVICE r8)
    val out = ecdf.filter(col("__g") =!= refGroup)
      .join(ref, Seq("__x"))
      .groupBy(col("__g"))
      .agg(max(col("__n")).as("n"),
        round(max(abs(col("__f") - col("__fr"))), 6).as("ks"))
      .withColumnRenamed("__g", groupCol)
    val rows = out.collect()
    counts.unpersist(false)
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      out.schema)
  }

  /** Earth-mover (Wasserstein-1) distance of every group against
    * `refGroup`: W₁ = ∫ |F_g − F_ref| dx over the exact empirical
    * CDFs — the "how FAR did it drift, in the metric's own units"
    * companion of [[ksByGroup]] (KS is the sup — binning-free but
    * unitless and insensitive to how long the CDFs stay apart; W₁
    * integrates the gap, so a small persistent shift scores what it
    * costs). Same scale shape as KS: one map-side-combined (group,
    * value) count, the distinct-value spine × groups grid, windows
    * partitioned per group; quantize continuous values first.
    *
    * Determinism: EXACT until the last division — each spine step
    * contributes |cum_g·n_ref − cum_ref·n_g| (integer, the common-
    * denominator trick) × the DECIMAL(18,4) value gap, cast
    * DECIMAL(19,0) before the multiply so the product caps at
    * precision 38; the DECIMAL(38,4) sum is order-free, and
    * W₁ = S/(n_g·n_ref) is one double division + round. The integer
    * cross-products hold to ~3·10⁹ rows per group; beyond that the
    * cums would widen to DECIMAL (the [[mannWhitney]] contract).
    *
    * Returns (groupCol, n, w1) for every group ≠ `refGroup`. */
  def wassersteinByGroup(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      refGroup: String): DataFrame = {
    val v = df
      .select(col(groupCol).cast(StringType).as("__g"),
        col(valueCol).cast(DecimalType(18, 4)).as("__x"))
      .filter(col("__x").isNotNull)
    val counts = v.groupBy(col("__g"), col("__x"))
      .agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a missing reference group (typo, filtered out upstream) must
    // abstain LOUDLY, not return an empty frame a drift gate passes
    // vacuously (ADVICE r10) — one cheap pre-scan over the persisted
    // per-(group, value) counts
    require(!counts.filter(col("__g") === refGroup).isEmpty,
      s"wassersteinByGroup: reference group '$refGroup' has no rows " +
        s"in $groupCol — a drift gate against it would pass vacuously")
    val spine = counts.select(col("__x")).distinct()
    val groups = counts.select(col("__g")).distinct()
    val filled = groups.crossJoin(spine)
      .join(counts, Seq("__g", "__x"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    val wcum = Window.partitionBy(col("__g")).orderBy(col("__x").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wlead = Window.partitionBy(col("__g")).orderBy(col("__x").asc)
    val wtot = Window.partitionBy(col("__g"))
    val ecdf = filled
      .withColumn("__cum", sum(col("__c")).over(wcum))
      .withColumn("__n", sum(col("__c")).over(wtot))
      .withColumn("__nx", lead(col("__x"), 1).over(wlead))
    val ref = ecdf.filter(col("__g") === refGroup)
      .select(col("__x"), col("__cum").as("__cr"), col("__n").as("__nr"))
    val out = ecdf.filter(col("__g") =!= refGroup)
      .join(ref, Seq("__x"))
      .filter(col("__nx").isNotNull) // last spine step has no width
      .withColumn("__term",
        abs(col("__cum") * col("__nr") - col("__cr") * col("__n"))
          .cast(DecimalType(19, 0)) * (col("__nx") - col("__x")))
      .groupBy(col("__g"))
      .agg(max(col("__n")).as("n"), max(col("__nr")).as("__nr2"),
        coalesce(sum(col("__term")),
          lit(0).cast(DecimalType(38, 4))).as("__s"))
      .select(col("__g").as(groupCol), col("n"),
        round(col("__s").cast(DoubleType) /
          (col("n").cast(DoubleType) * col("__nr2").cast(DoubleType)),
          6).as("w1"))
      .localCheckpoint(true) // ≤ |groups| rows; free counts afterwards
    counts.unpersist(false)
    out
  }

  /** Pearson χ² test of independence between two categorical columns
    * — the frequentist sibling of [[mutualInformation]] on the same
    * contingency table: χ² = Σ (o − e)²/e with e = (row total ×
    * column total)/n. One corpus scan (marginals derive from the
    * persisted joint frame); each cell term rounds to 6 dp and fixes
    * as DECIMAL before the sum. Degrees of freedom are emitted so the
    * caller can look up the significance threshold.
    *
    * Returns one row: (n, n_cells, dof, chi2). */
  def chiSquare(
      df: DataFrame,
      aCol: String,
      bCol: String): DataFrame =
    chiSquareCore(df, aCol, bCol)
      .select(col("n"), col("n_cells"),
        ((col("__ka") - 1) * (col("__kb") - 1)).as("dof"), col("chi2"))

  /** Mantel–Haenszel pooled odds ratio across strata (Mantel &
    * Haenszel 1959) — the SIMPSON'S-PARADOX guard for any 2×2
    * exposure/outcome question: the crude OR over the pooled table
    * can point the opposite way from every stratum when the strata
    * differ in mix; MH pools the per-stratum ORs with the canonical
    * weights instead. Emitted side by side with the crude OR so the
    * divergence (confounding) is the readout.
    *
    * OR_MH = Σ_i(a_i·d_i/n_i) / Σ_i(b_i·c_i/n_i) over strata with
    * n_i > 0; a = exposed∧outcome, b = exposed∧¬outcome,
    * c = ¬exposed∧outcome, d = neither. Determinism: cell counts are
    * exact integers from ONE corpus scan (map-side combined); each
    * stratum term is one double division rounded to 9 dp and summed
    * as DECIMAL(28,9) — order-free — and the final ratio is one
    * double division, round 6. Strata where a·d and b·c are both
    * zero contribute nothing (their terms are 0); a zero MH
    * denominator abstains with NULL (never a fake 0 or ∞).
    *
    * Returns one row: (n, n_strata, or_crude, or_mh). */
  def mantelHaenszel(
      df: DataFrame,
      stratumCol: String,
      exposure: Column,
      outcome: Column): DataFrame = {
    val cells = df
      .select(col(stratumCol).cast(StringType).as("__g"),
        when(coalesce(exposure, lit(false)), 1L).otherwise(0L).as("__e"),
        when(coalesce(outcome, lit(false)), 1L).otherwise(0L).as("__y"))
      .filter(col("__g").isNotNull)
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__e") === 1 && col("__y") === 1, 1L)
          .otherwise(0L)).as("__a"),
        sum(when(col("__e") === 1 && col("__y") === 0, 1L)
          .otherwise(0L)).as("__b"),
        sum(when(col("__e") === 0 && col("__y") === 1, 1L)
          .otherwise(0L)).as("__c"),
        sum(when(col("__e") === 0 && col("__y") === 0, 1L)
          .otherwise(0L)).as("__d"))
    def dd(c: Column) = c.cast(DoubleType)
    val fold = DecimalType(28, 9)
    val nD = dd(col("__n"))
    val tNum = round(dd(col("__a")) * dd(col("__d")) / nD, 9).cast(fold)
    val tDen = round(dd(col("__b")) * dd(col("__c")) / nD, 9).cast(fold)
    val agg = cells.filter(col("__n") > 0).agg(
      sum(col("__n")).as("n"),
      count(lit(1)).as("n_strata"),
      sum(col("__a")).as("__ta"), sum(col("__b")).as("__tb"),
      sum(col("__c")).as("__tc"), sum(col("__d")).as("__td"),
      coalesce(sum(tNum), lit(0).cast(fold)).as("__mn"),
      coalesce(sum(tDen), lit(0).cast(fold)).as("__md"))
    agg.select(col("n"), col("n_strata"),
      when(dd(col("__tb")) * dd(col("__tc")) > 0.0,
        round(dd(col("__ta")) * dd(col("__td")) /
          (dd(col("__tb")) * dd(col("__tc"))), 6))
        .otherwise(lit(null).cast(DoubleType)).as("or_crude"),
      when(dd(col("__md")) > 0.0,
        round(dd(col("__mn")) / dd(col("__md")), 6))
        .otherwise(lit(null).cast(DoubleType)).as("or_mh"))
  }

  /** AMS F₂ (second frequency moment) sketch (Alon, Matias & Szegedy
    * 1996) — the SELF-JOIN-SIZE estimator: F₂ = Σ_k f(k)² is exactly
    * the row count of a self-equi-join on the key, the number a join
    * planner needs BEFORE paying for the join (a skewed key column
    * makes F₂ explode while the distinct count stays flat). Each of
    * `depth` rows keeps one running signed sum S_j = Σ_rows σ_j(key)
    * with σ_j ∈ {±1} from the portable hash family (a THRESHOLD on
    * the bucket — the low-bit rule); E[S_j²] = F₂, and the estimate
    * is the MEDIAN of the S_j² — O(depth) longs of fully mergeable
    * state (signed sums add across shards).
    *
    * The exact F₂ (one groupBy over the keys) is emitted next to the
    * estimate as the audit — at 100 TB the sketch is the one-pass
    * O(1)-state path and the audit runs on samples. Determinism: σ
    * draws are the quadratic portable hash (seed = the depth index),
    * sums and squares are exact integers (S² as DECIMAL(38,0)), the
    * median over the `depth`-row frame takes the lower-middle rank —
    * pure integers end to end, bitwise in any engine.
    *
    * Returns one row: (n, n_keys, f2_exact, f2_est). */
  /** The AMS ±1 draw for depth row `j`: the quadratic portable hash
    * of the key, thresholded on the bucket midpoint (the low-bit
    * rule). Shared by [[amsF2]], [[amsJoinSize]], and the streaming
    * signed-sum state — one definition, one oracle replica. */
  def amsSigma(key: Column, j: Int): Column = {
    val h = pmod(Dedup.polyHash(key), lit(Dedup.PortableMod))
    when(pmod((h * h % Dedup.PortableMod) * Dedup.affineA(j) +
      h * Dedup.affineB(j) + j, lit(Dedup.PortableMod)) %
      Sampling.Buckets < Sampling.Buckets / 2, 1L).otherwise(-1L)
  }

  /** Independent ±1 sketches of [[amsF2]] and [[amsJoinSize]]; the
    * estimate is their median. */
  private val AmsDepth = 9

  def amsF2(
      df: DataFrame,
      key: Column): DataFrame = {
    val base = df.filter(key.isNotNull) // a NULL key is no key
    def sigma(j: Int): Column = amsSigma(key, j)
    val sums = base.agg(
      count(lit(1)).as("__n"),
      (0 until AmsDepth).map(j => sum(sigma(j)).as(s"__s$j")): _*)
    val ests = sums.select(col("__n"),
      explode(array((0 until AmsDepth).map(j =>
        (col(s"__s$j") * col(s"__s$j")).cast(DecimalType(38, 0))): _*))
        .as("__e"))
    // depth-row frame: the sanctioned bounded single-partition rank
    val ranked = Guards.boundedSeries(ests, "amsF2 depth estimates")
      .withColumn("__rk", row_number().over(
        Guards.seriesWindow(col("__e").asc)))
    val med = ranked.agg(max(col("__n")).as("n"),
      min(when(col("__rk") === (AmsDepth + 1) / 2, col("__e")))
        .as("f2_est"))
    val exact = base.groupBy(key.as("__k")).agg(count(lit(1)).as("__f"))
      .agg(count(lit(1)).as("n_keys"),
        coalesce(sum((col("__f") * col("__f"))
          .cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0)))
          .as("f2_exact"))
    med.crossJoin(broadcast(exact)) // 1×1 control plane
      .select(col("n"), col("n_keys"),
        // DECIMAL(38,0) is the internal overflow-proof square; the
        // BOUNDARY is BIGINT (the catalog emit convention — a decimal
        // at the boundary hash-mismatches the driver's typed gate
        // even when bit-identical, VERDICT r12). |est| ≤ n² fits a
        // long through ~3·10⁹ rows per sketch; past that the guard
        // raises loudly instead of silently nulling.
        Guards.emitBigint(col("f2_exact"), "amsF2 f2_exact")
          .as("f2_exact"),
        Guards.emitBigint(col("f2_est"), "amsF2 f2_est").as("f2_est"))
  }

  /** AMS sketched JOIN-SIZE estimate between two tables — the
    * companion of [[amsF2]] (F₂ is the self-join special case): the
    * inner product Σ_k f_A(k)·f_B(k) IS |A ⋈ B| on the key, and with
    * BOTH sides sketched by the SAME ±1 hash family,
    * E[S_A,j · S_B,j] equals it — the classic AMS inner-product
    * estimator. Each side's state is [[AmsDepth]] mergeable longs built in
    * one pass; the planner question "how big is this join" gets an
    * answer without shuffling either table. Exact join size emitted
    * beside the estimate as the audit.
    *
    * Determinism: the same quadratic portable draws as [[amsF2]],
    * exact signed sums, per-depth products as DECIMAL(38,0), and the
    * lower-middle median over the depth-row frame — integers end to
    * end (the estimate can be negative; the median is over signed
    * values, exactly as the literature defines it).
    *
    * Returns one row: (n_a, n_b, join_exact, join_est). */
  def amsJoinSize(
      dfA: DataFrame,
      keyA: Column,
      dfB: DataFrame,
      keyB: Column): DataFrame = {
    def sums(df: DataFrame, key: Column, tag: String): DataFrame =
      df.filter(key.isNotNull)
        .agg(count(lit(1)).as(s"__n$tag"),
          (0 until AmsDepth).map(j =>
            coalesce(sum(amsSigma(key, j)), lit(0L)).as(s"__$tag$j")): _*)
    val sa = sums(dfA, keyA, "a")
    val sb = sums(dfB, keyB, "b")
    val both = sa.crossJoin(broadcast(sb)) // 1×1 control plane
    val ests = both.select(col("__na"), col("__nb"),
      explode(array((0 until AmsDepth).map(j =>
        (col(s"__a$j") * col(s"__b$j")).cast(DecimalType(38, 0))): _*))
        .as("__e"))
    val ranked = Guards.boundedSeries(ests, "amsJoinSize depth estimates")
      .withColumn("__rk", row_number().over(
        Guards.seriesWindow(col("__e").asc)))
    val med = ranked.agg(
      max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
      min(when(col("__rk") === (AmsDepth + 1) / 2, col("__e")))
        .as("join_est"))
    val fa = dfA.filter(keyA.isNotNull)
      .groupBy(keyA.as("__k")).agg(count(lit(1)).as("__fa"))
    val fb = dfB.filter(keyB.isNotNull)
      .groupBy(keyB.as("__k")).agg(count(lit(1)).as("__fb"))
    val exact = fa.join(fb, Seq("__k"))
      .agg(coalesce(sum((col("__fa") * col("__fb"))
        .cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0)))
        .as("join_exact"))
    med.crossJoin(broadcast(exact)) // 1×1 control plane
      .select(col("n_a"), col("n_b"),
        // BIGINT boundary over the DECIMAL(38,0) internals — see
        // [[amsF2]]'s emit note (the r12 decimal-boundary lesson).
        Guards.emitBigint(col("join_exact"), "amsJoinSize join_exact")
          .as("join_exact"),
        Guards.emitBigint(col("join_est"), "amsJoinSize join_est")
          .as("join_est"))
  }

  /** Association rules over (basket, item) pairs — market-basket
    * support / confidence / lift for every ORDERED item pair: which
    * event types (or sources, or labels) co-occur within a user /
    * document beyond what independence predicts. The set-valued
    * complement of [[cramersV]] (which scores two FIXED columns; this
    * mines the pair structure inside one multi-valued column).
    *
    * Scale shape: ONE map-side-combined groupBy(basket) with
    * collect_set dedup (sets bounded by the item vocabulary, which
    * for event types / provenance labels is tiny by contract — the
    * per-basket pair fan-out is |set|² ≤ |items|²); pair counts and
    * item counts both aggregate to ≤ |items|² control-plane rows, and
    * the single-row basket total broadcasts back. The corpus is
    * scanned ONCE and nothing basket-scale shuffles after the first
    * exchange.
    *
    * Determinism: every metric is an exact integer — support and
    * confidence in ppm via integer floor division, lift scaled so
    * 10⁶ = independence (n_ab·N·10⁶ div (n_a·n_b)). Long arithmetic
    * holds to ~10⁹ baskets·10⁹ pair counts; beyond that the ppm
    * products would widen to DECIMAL(38,0) (the [[mannWhitney]]
    * cast-before-multiply contract).
    *
    * Returns one row per ordered pair with support_ppm ≥
    * `minSupportPpm`: (antecedent, consequent, n_both, support_ppm,
    * confidence_ppm, lift_x1m). */
  def assocRules(
      df: DataFrame,
      basketCol: String,
      itemCol: String,
      minSupportPpm: Long = 0L): DataFrame = {
    val sets = df
      .filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("__u"),
        col(itemCol).cast(StringType).as("__i"))
      .groupBy(col("__u")).agg(collect_set(col("__i")).as("__s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = sets.agg(count(lit(1)).as("__n"))
    val itemCounts = sets.select(explode(col("__s")).as("__i"))
      .groupBy(col("__i")).agg(count(lit(1)).as("__c"))
    val pairCounts = sets
      .select(explode(col("__s")).as("__a"), col("__s"))
      .select(col("__a"), explode(col("__s")).as("__b"))
      .filter(col("__a") =!= col("__b"))
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__cab"))
    val out = pairCounts
      .join(broadcast(itemCounts.withColumnRenamed("__i", "__a")
        .withColumnRenamed("__c", "__ca")), Seq("__a"))
      .join(broadcast(itemCounts.withColumnRenamed("__i", "__b")
        .withColumnRenamed("__c", "__cb")), Seq("__b"))
      .crossJoin(broadcast(totals)) // 1-row control plane
      .select(col("__a").as("antecedent"), col("__b").as("consequent"),
        col("__cab").as("n_both"),
        expr("__cab * 1000000 div __n").as("support_ppm"),
        expr("__cab * 1000000 div __ca").as("confidence_ppm"),
        expr("__cab * __n * 1000000 div (__ca * __cb)").as("lift_x1m"))
      .filter(col("support_ppm") >= minSupportPpm)
      .localCheckpoint(true) // ≤ |items|² rows; free sets afterwards
    sets.unpersist(false)
    out
  }

  /** Cramér's V effect size from the same contingency table as
    * [[chiSquare]]: V = √(χ² / (n · min(k_a−1, k_b−1))) — the
    * bounded-[0,1] companion the χ² statistic needs at corpus scale,
    * where even negligible association is "significant" because n is
    * enormous (χ² grows with n; V does not). One corpus scan via the
    * shared core; V derives from the 6-dp-rounded χ² (the gate
    * replays emitted precision, the mutualInformation NMI rule), and
    * the tiny negative χ² a rounded near-zero sum can produce clamps
    * to 0 before the square root.
    *
    * Returns one row: (n, min_dim, chi2, v). */
  def cramersV(
      df: DataFrame,
      aCol: String,
      bCol: String): DataFrame =
    chiSquareCore(df, aCol, bCol)
      .select(col("n"),
        least(col("__ka") - 1, col("__kb") - 1).as("min_dim"),
        col("chi2"),
        round(sqrt(greatest(col("chi2"), lit(0.0)) /
          (col("n").cast(DoubleType) *
            least(col("__ka") - 1, col("__kb") - 1)
              .cast(DoubleType))), 6).as("v"))

  /** Shared contingency-table core behind [[chiSquare]] and
    * [[cramersV]]: one row (n, n_cells, __ka, __kb, chi2). */
  private def chiSquareCore(
      df: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val ab = df.groupBy(col(aCol), col(bCol))
      .agg(count(lit(1)).as("__cab"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nRow = ab.agg(sum(col("__cab")).as("__n"),
      count(lit(1)).as("n_cells"))
    val ca = ab.groupBy(col(aCol)).agg(sum(col("__cab")).as("__ca"))
    val cb = ab.groupBy(col(bCol)).agg(sum(col("__cab")).as("__cb"))
    val dims = ca.agg(count(lit(1)).as("__ka"))
      .crossJoin(broadcast(cb.agg(count(lit(1)).as("__kb"))))
    // Zero cells (o = 0, e > 0) each contribute e to the statistic;
    // Σ_all e = n gives the closed form χ² = Σ_obs (o−e)²/e + n − Σ_obs e
    // — full-grid-correct without materializing the |a|×|b| grid.
    val chi = ab
      .join(broadcast(ca), Seq(aCol))
      .join(broadcast(cb), Seq(bCol))
      .crossJoin(broadcast(nRow.select(col("__n"))))
      .withColumn("__e",
        col("__ca").cast(DoubleType) * col("__cb").cast(DoubleType) /
          col("__n").cast(DoubleType))
      .withColumn("__t",
        (col("__cab").cast(DoubleType) - col("__e")) *
          (col("__cab").cast(DoubleType) - col("__e")) / col("__e"))
      .agg(
        sum(Guards.fastRoundDec(col("__t"), 6, DecimalType(18, 6)))
          .cast(DoubleType).as("__a"),
        sum(Guards.fastRoundDec(col("__e"), 6, DecimalType(18, 6)))
          .cast(DoubleType).as("__b"),
        max(col("__n")).as("__nn"))
      .select(round(col("__a") + col("__nn").cast(DoubleType) -
        col("__b"), 6).as("chi2"))
    // 1-row result: materialize, then release the contingency frame
    // (same session-lifetime cache-leak fix as mutualInformation)
    val out = nRow.select(col("__n").as("n"), col("n_cells"))
      .crossJoin(broadcast(dims))
      .crossJoin(broadcast(chi))
      .localCheckpoint(true)
    ab.unpersist(false)
    out
  }

  /** Autocorrelation function of an ALREADY-AGGREGATED series: ACF at
    * lags 1..`maxLag` over the `orderCol` order, with the standard
    * full-series mean/variance normalization
    * r_k = Σ(x_t−x̄)(x_{t−k}−x̄) / Σ(x_t−x̄)² — the seasonality /
    * trend-persistence diagnostic (a daily series with weekly rhythm
    * shows a lag-7 peak; white noise hovers near 0).
    *
    * The input is a per-period aggregate (days, hours), so it is
    * control-plane-sized BY CONSTRUCTION at any corpus scale — the
    * single-partition lag window here orders periods, never data (the
    * waterFillBudget discipline); the corpus-sized work happened in
    * the caller's groupBy. Determinism: mean divides an exact decimal
    * sum; each centered product rounds to 2 dp and fixes as DECIMAL
    * before the sum, so numerators and the shared denominator are
    * order-independent.
    *
    * Returns one row per lag: (lag, n_terms, acf). */
  def autocorrelation(
      series: DataFrame,
      orderCol: String,
      valueCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 64, s"maxLag out of range: $maxLag")
    val x = col(valueCol).cast(DoubleType)
    def fix2(c: Column) = round(c, 2).cast(DecimalType(28, 2))
    val w = Guards.seriesWindow(col(orderCol).asc)
    // the mean is a full-frame window on the SAME pass as the lags —
    // a separate aggregate joined back would re-run the caller's
    // corpus groupBy a second time (the entropyByGroup lesson)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val lagged = Guards.boundedSeries(series, "autocorrelation")
      .select(Seq(x.as("__x"),
        (sum(x.cast(DecimalType(18, 4))).over(wAll).cast(DoubleType) /
          count(lit(1)).over(wAll)).as("__m")) ++
        (1 to maxLag).map(k => lag(x, k).over(w).as(s"__x$k")): _*)
    val den = sum(fix2((col("__x") - col("__m")) *
      (col("__x") - col("__m")))).cast(DoubleType)
    val nums = (1 to maxLag).flatMap(k => Seq(
      sum(fix2((col("__x") - col("__m")) *
        (col(s"__x$k") - col("__m")))).cast(DoubleType).as(s"__num$k"),
      count(col(s"__x$k")).as(s"__cnt$k")))
    val one = lagged.agg(den.as("__den"), nums: _*)
    val rows = (1 to maxLag).map(k =>
      struct(lit(k).as("lag"), col(s"__cnt$k").as("n_terms"),
        when(col("__den") > 0, round(col(s"__num$k") / col("__den"), 6))
          .otherwise(lit(null).cast(DoubleType)).as("acf")))
    one.select(explode(array(rows: _*)).as("__r"))
      .select(col("__r.lag").as("lag"), col("__r.n_terms").as("n_terms"),
        col("__r.acf").as("acf"))
  }

  /** Ljung–Box (and Box–Pierce) portmanteau test: are the first
    * `maxLag` autocorrelations of the series JOINTLY zero, i.e. is
    * the series white noise? The one-number summary of
    * [[autocorrelation]]'s per-lag curve — the standard pre-model
    * check before trusting an i.i.d. assumption on a daily metric.
    *
    * Q_LB = n(n+2)·Σ r_k²/(n−k), Q_BP = n·Σ r_k². Determinism: both
    * compute from the EMITTED 6-dp acf values (the gate-replays-
    * emitted-precision rule) lifted to exact integers m_k = r_k·10⁶;
    * the Ljung–Box per-lag division is INTEGER floor division
    * (m_k² div (n−k)) so the cross-lag sum is order-free — the
    * statistic is defined at that ppm-squared granularity (bias
    * < n²·K/10¹², invisible at 6 dp for daily-scale series), the
    * same scaled-integer contract as the Lorenz ppm shares. The
    * corpus-sized work is whatever builds the series; everything
    * here runs on the ≤ 64-row acf frame.
    *
    * Returns one row: (n, max_lag, q_bp, q_lb, verdict) — verdict
    * vs the literal χ²(maxLag) 5% critical value (maxLag ≤ 8;
    * NULL otherwise), NULL-gated when any acf is NULL or a lag has
    * no terms. */
  def ljungBox(
      series: DataFrame,
      orderCol: String,
      valueCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 64,
      s"maxLag out of range: $maxLag")
    val dec = DecimalType(38, 0)
    val acf = autocorrelation(series, orderCol, valueCol, maxLag)
    // ≤ 64-row control-plane frame from here on
    val m = round(col("acf") * 1000000.0, 0).cast(LongType)
    val terms = acf.select(
      (col("n_terms") + col("lag")).as("__n"),
      col("n_terms").as("__nk"),
      (m * m).as("__m2"),
      when(col("acf").isNull, 1L).otherwise(0L).as("__bad"))
      .withColumn("__lb",
        when(col("__m2").isNotNull && col("__nk") > 0,
          expr("__m2 div __nk")).otherwise(lit(null).cast(LongType)))
    val one = terms.agg(
      max(col("__n")).as("__nn"),
      min(col("__nk")).as("__mink"),
      coalesce(sum(col("__bad")), lit(0L)).as("__nbad"),
      coalesce(sum(col("__lb").cast(dec)), lit(0).cast(dec)).as("__s"),
      coalesce(sum(col("__m2").cast(dec)), lit(0).cast(dec))
        .as("__sbp"))
    val nnDec = col("__nn").cast(dec)
    val qLbRaw = (col("__s") * nnDec * (col("__nn") + lit(2L)).cast(dec))
      .cast(DoubleType) / 1.0e12
    val qBpRaw = (col("__sbp") * nnDec).cast(DoubleType) / 1.0e12
    val ok = col("__nbad") === 0L && col("__mink") > 0L
    val qLb = when(ok, round(qLbRaw, 6))
      .otherwise(lit(null).cast(DoubleType))
    val crit: Option[Double] = maxLag match {
      case 1 => Some(3.841); case 2 => Some(5.991); case 3 => Some(7.815)
      case 4 => Some(9.488); case 5 => Some(11.070); case 6 => Some(12.592)
      case 7 => Some(14.067); case 8 => Some(15.507); case _ => None
    }
    one.select(col("__nn").as("n"), lit(maxLag).as("max_lag"),
      when(ok, round(qBpRaw, 6)).otherwise(lit(null).cast(DoubleType))
        .as("q_bp"),
      qLb.as("q_lb"),
      crit.map(c => when(qLb.isNotNull,
          when(qLb > c, lit("reject")).otherwise(lit("keep")))
          .otherwise(lit(null).cast(StringType)))
        .getOrElse(lit(null).cast(StringType)).as("verdict"))
  }

  /** Kendall's τ-b rank correlation between two per-period metrics —
    * the concordance view of association: of all period pairs, how
    * many move the SAME way in x and y? More robust to outliers than
    * [[spearman]] (one wild period perturbs every Spearman rank
    * difference; it flips at most n−1 of τ's pair signs), and the
    * natural companion of [[theilSenTrend]], whose slope is the
    * median of exactly these pairs.
    *
    * τ_b = (C − D) / √((P − T_x)(P − T_y)) over strictly concordant /
    * discordant pair counts, tie-adjusted in both margins. The pair
    * frame is P = p(p−1)/2 — the [[theilSenTrend]] maxPeriods=10k
    * contract (a require, not a silent cross join) bounds it at ~50M
    * rows; every count is an exact integer and the only doubles are
    * one product (exact under 2⁵³) and one sqrt.
    *
    * Returns one row: (n_periods, n_pairs, concordant, discordant,
    * tau_b); NULL τ when either margin is all ties. */
  def kendallTau(
      series: DataFrame,
      orderCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    val w = Guards.seriesWindow(col(orderCol).asc)
    val idx = Guards.boundedSeries(series, "kendallTau series")
      .select(col(xCol).cast(DoubleType).as("__x"),
        col(yCol).cast(DoubleType).as("__y"),
        row_number().over(w).as("__i"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val p = idx.count()
    if (p < 2 || p > MaxPeriods) {
      idx.unpersist(false)
      require(p >= 2, s"kendallTau needs >= 2 periods, got $p")
      require(p <= MaxPeriods,
        s"kendallTau: $p periods -> ${p * (p - 1) / 2} pairs exceeds " +
          s"the maxPeriods=$MaxPeriods cap; aggregate to coarser " +
          "periods first")
    }
    val a = idx.select(col("__i").as("__ia"), col("__x").as("__xa"),
      col("__y").as("__ya"))
    val b = idx.select(col("__i").as("__ib"), col("__x").as("__xb"),
      col("__y").as("__yb"))
    val one = a.crossJoin(b).filter(col("__ib") > col("__ia")).agg(
      count(lit(1)).as("__pp"),
      coalesce(sum(when(
        (col("__xa") < col("__xb") && col("__ya") < col("__yb")) ||
          (col("__xa") > col("__xb") && col("__ya") > col("__yb")), 1L)
        .otherwise(0L)), lit(0L)).as("__c"),
      coalesce(sum(when(
        (col("__xa") < col("__xb") && col("__ya") > col("__yb")) ||
          (col("__xa") > col("__xb") && col("__ya") < col("__yb")), 1L)
        .otherwise(0L)), lit(0L)).as("__d"),
      coalesce(sum(when(col("__xa") === col("__xb"), 1L)
        .otherwise(0L)), lit(0L)).as("__ex"),
      coalesce(sum(when(col("__ya") === col("__yb"), 1L)
        .otherwise(0L)), lit(0L)).as("__ey"))
    val okT = (col("__pp") - col("__ex")) > 0 &&
      (col("__pp") - col("__ey")) > 0
    val tau = (col("__c") - col("__d")).cast(DoubleType) /
      sqrt((col("__pp") - col("__ex")).cast(DoubleType) *
        (col("__pp") - col("__ey")).cast(DoubleType))
    val out = one.select(lit(p).as("n_periods"),
      col("__pp").as("n_pairs"), col("__c").as("concordant"),
      col("__d").as("discordant"),
      when(okT, round(tau, 6)).otherwise(lit(null).cast(DoubleType))
        .as("tau_b"))
      .localCheckpoint(true) // 1 row; free idx afterwards
    idx.unpersist(false)
    out
  }

  /** Equal-width histogram of `valueCol` over its observed [min, max]
    * — the one-glance distribution shape (bounds from a cheap
    * min/max-only first pass; at warehouse scale they'd come from
    * file-footer statistics instead). The top edge is closed so the
    * max value lands in the last bin; empty bins are omitted.
    *
    * Returns one row per occupied bin: (bin, n, bin_lo, bin_hi). */
  def histogramEquiWidth(
      df: DataFrame,
      valueCol: String,
      nBins: Int): DataFrame = {
    require(nBins > 0)
    val v = col(valueCol).cast(DoubleType)
    val b = df.filter(v.isNotNull)
      .agg(min(v).as("lo"), max(v).as("hi")).collect()(0)
    val (lo, hi) = (b.getDouble(0), b.getDouble(1))
    val bin = if (hi > lo) binExpr(valueCol, lo, hi, nBins) else lit(0)
    val width = if (hi > lo) (hi - lo) / nBins else 0.0
    df.filter(v.isNotNull)
      .select(bin.as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", round(lit(lo) + lit(width) * col("bin"), 6))
      .withColumn("bin_hi",
        round(lit(lo) + lit(width) * (col("bin") + 1), 6))
  }

  /** Mann–Whitney U rank-sum test: does `valueCol` tend larger in
    * group `groupA` than in `groupB`? The non-parametric sibling of
    * the t-test — no normality assumption, so it is the right
    * two-sample gate for the heavy-tailed quality/length/price
    * distributions a corpus audit meets (KS asks "same distribution
    * anywhere?", U asks "is one stochastically larger?").
    *
    * Scale shape: ranks come from [[globalRankByValue]]'s two-phase
    * prefix sum — NOT a single-partition window — and tie handling
    * needs no deterministic tie order because average ranks derive
    * from min/max rank per distinct value (tied rows always occupy a
    * contiguous rank range). Everything then reduces to one bounded
    * per-value frame. Exactness: 2·R_A = Σ c_A·(lo+hi) and the tie
    * term Σ(t³−t) accumulate as DECIMAL(38,0) with the cast BEFORE
    * the multiply (per-partition partials must not wrap in Long at
    * 10¹² rows — the labelCohesion lesson); U, μ, σ and z then derive
    * from those exact integers with a fixed double formula both
    * engines replay identically.
    *
    * Returns one row: (n_a, n_b, u_a, z) — u_a the U statistic of
    * `groupA` (exact to .5, emitted at 1 dp), z the tie-corrected
    * normal approximation. */
  /** Wilcoxon signed-rank test over PAIRED samples (Wilcoxon 1945) —
    * the paired sibling of [[mannWhitney]]: each row carries the two
    * conditions of one experimental unit (a day, a user, a doc); the
    * test asks whether the differences are symmetric about zero,
    * which a two-sample rank test cannot (pairing removes the
    * unit-level variance). The workhorse of "did the metric move
    * after the change, blocked by day" questions.
    *
    * Arithmetic is EXACT integers until the final z: values fix at
    * 4 dp (DECIMAL(28,4)·10⁴ → long, exact when inputs carry ≤ 4 dp);
    * zero differences drop (counted); |d| ranks use AVERAGE ranks
    * carried as 2·rank integers (2·avg = 2·prev + m + 1 for a tie
    * group of m); W⁺ accumulates as Σ(2·rank)·positives; the
    * tie-corrected variance stays integer through 48σ² =
    * 2n(n+1)(2n+1) − Σ(t³−t); z = (2·W2⁺ − n(n+1)) / √(48σ²/3) is
    * two IEEE ops both engines replay bitwise, rounded once.
    *
    * Scale shape: one map-side-combined groupBy to the distinct-|d|
    * frame, one bounded-series cumulative (the paired spine — days,
    * cohorts — is control-plane by contract; [[Guards.boundedSeries]]
    * fails loudly past it), one 1-row aggregate. Long arithmetic is
    * exact to n ≈ 1.6·10⁶ pairs (2n³ < 2⁶³).
    *
    * Returns one row: (n_pairs, n_zero, w_plus, w_minus, z — NULL
    * when no nonzero pair or the variance degenerates). */
  def wilcoxonSignedRank(
      df: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    def x4(c: String): Column =
      (col(c).cast(DecimalType(28, 4)) * 10000).cast(LongType)
    val dd = df.select((x4(aCol) - x4(bCol)).as("__d4"))
      .filter(col("__d4").isNotNull)
    val nz = dd.filter(col("__d4") =!= 0L)
      .select(abs(col("__d4")).as("__ad"),
        when(col("__d4") > 0, 1L).otherwise(0L).as("__pos"))
    val g = nz.groupBy(col("__ad"))
      .agg(count(lit(1)).as("__m"),
        coalesce(sum(col("__pos")), lit(0L)).as("__mp"))
    val wCum = Guards.seriesWindow(col("__ad").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = Guards.boundedSeries(g, "wilcoxonSignedRank |d| frame")
      .withColumn("__cum", sum(col("__m")).over(wCum))
      .select(
        ((lit(2L) * (col("__cum") - col("__m")) + col("__m") + 1L) *
          col("__mp")).as("__w2pg"),
        (col("__m") * col("__m") * col("__m") - col("__m")).as("__tie"),
        col("__m"))
    val a = r.agg(
      coalesce(sum(col("__m")), lit(0L)).as("__n"),
      coalesce(sum(col("__w2pg")), lit(0L)).as("__w2p"),
      coalesce(sum(col("__tie")), lit(0L)).as("__ties"))
    val zeros = dd.filter(col("__d4") === 0L)
      .agg(count(lit(1)).as("n_zero"))
    val n = col("__n"); val w2p = col("__w2p")
    val i48 = lit(2L) * n * (n + 1L) * (lit(2L) * n + 1L) - col("__ties")
    a.crossJoin(broadcast(zeros)).select(
      n.as("n_pairs"), col("n_zero"),
      (w2p.cast(DoubleType) / lit(2.0)).as("w_plus"),
      ((n * (n + 1L) - w2p).cast(DoubleType) / lit(2.0)).as("w_minus"),
      when(n > 0L && i48 > 0L,
        round((lit(2L) * w2p - n * (n + 1L)).cast(DoubleType) /
          sqrt(i48.cast(DoubleType) / lit(3.0)), 6))
        .otherwise(lit(null).cast(DoubleType)).as("z"))
  }

  def mannWhitney(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val v = df
      .filter(col(groupCol).isin(groupA, groupB) &&
        col(valueCol).isNotNull)
      .select(col(groupCol).cast(StringType).as("__g"),
        col(valueCol).cast(DoubleType).as("__x"))
      .withColumn("__t", lit(0))
    val (ranked, _) = globalRankByValue(v, "__x", "__t", RankRanges)
    val dec = DecimalType(38, 0)
    val perVal = ranked.groupBy(col("__x"))
      .agg(min(col("__rank")).as("__lo"), max(col("__rank")).as("__hi"),
        sum(when(col("__g") === groupA, 1L).otherwise(0L)).as("__ca"),
        count(lit(1)).as("__ct"))
    val agg1 = perVal.agg(
      sum(col("__ca")).as("__na"),
      sum(col("__ct")).as("__n"),
      sum(col("__ca").cast(dec) * (col("__lo") + col("__hi")))
        .as("__r2a"),
      sum(col("__ct").cast(dec) * col("__ct") * col("__ct") -
        col("__ct")).as("__ties"))
    val nd = col("__n").cast(DoubleType)
    val nad = col("__na").cast(DoubleType)
    val nbd = (col("__n") - col("__na")).cast(DoubleType)
    agg1.select(
      col("__na").as("n_a"),
      (col("__n") - col("__na")).as("n_b"),
      round((col("__r2a").cast(DoubleType) / 2.0 -
        nad * (nad + 1.0) / 2.0), 1).as("u_a"),
      round(
        when(nad > 0 && nbd > 0 && nd > 1,
          ((col("__r2a").cast(DoubleType) / 2.0 -
            nad * (nad + 1.0) / 2.0) - nad * nbd / 2.0) /
            sqrt(nad * nbd / 12.0 *
              ((nd + 1.0) - col("__ties").cast(DoubleType) /
                (nd * (nd - 1.0)))))
          .otherwise(lit(null).cast(DoubleType)), 6).as("z"))
  }

  /** Cramér–von Mises two-sample statistic — the INTEGRATED
    * distribution-difference test that completes the two-sample trio:
    * KS is the sup of |F_A − F_B| (one worst point), Mann–Whitney a
    * location shift; CvM integrates the squared gap over the whole
    * pooled sample, so a moderate difference that PERSISTS across the
    * range scores where KS under-reacts. Anderson's two-sample form:
    * U = n·Σ_A (r_i − i)² + m·Σ_B (s_j − j)², T = U/(nm(n+m)) −
    * (4nm − 1)/(6(n+m)), with r/s the pooled ranks and i/j the
    * within-sample ranks. T ≳ 0.46 rejects at ~5%.
    *
    * Ranks use the (value, tieCol) TOTAL order — the deterministic
    * convention, replayed verbatim by the oracle (classical
    * mid-ranks for ties belong to [[mannWhitney]]; here a stable
    * unique order keeps every intermediate an exact integer).
    *
    * Scale shape: the pooled [[globalRankByValue]] two-phase rank,
    * then per sample a SECOND two-phase rank OVER the pooled rank
    * itself (ranking a sample's rows by their unique pooled rank IS
    * the within-sample rank — a chain, never a self-join of one
    * lineage, never a single-partition window); the squared rank
    * gaps accumulate as DECIMAL(38,0) with the cast before the
    * multiply.
    *
    * Returns one row: (n_a, n_b, cvm_t). */
  def cramerVonMises(
      df: DataFrame,
      valueCol: Column,
      tieCol: Column,
      groupCol: Column,
      groupA: String,
      groupB: String): DataFrame = {
    val v = df
      .filter(groupCol.cast(StringType).isin(groupA, groupB) &&
        valueCol.isNotNull && tieCol.isNotNull)
      .select(groupCol.cast(StringType).as("__g"),
        valueCol.cast(DoubleType).as("__x"),
        tieCol.cast(LongType).as("__t"))
    val (pool, _) = globalRankByValue(v, "__x", "__t")
    // pooled rank under a name globalRankByValue's internal __r
    // column cannot collide with; persisted — both samples read it
    val poolr = pool.withColumnRenamed("__rank", "__pr")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // an empty arm abstains up front (the two-phase rank needs a
    // non-empty frame for its bounds pre-scan)
    val cnts = poolr.agg(
      sum(when(col("__g") === groupA, 1L).otherwise(0L)),
      sum(when(col("__g") === groupB, 1L).otherwise(0L))).collect()(0)
    val (ca, cb) = (if (cnts.isNullAt(0)) 0L else cnts.getLong(0),
      if (cnts.isNullAt(1)) 0L else cnts.getLong(1))
    if (ca == 0L || cb == 0L) {
      poolr.unpersist(false)
      val spark = df.sparkSession
      import spark.implicits._
      return Seq((ca, cb)).toDF("n_a", "n_b")
        .withColumn("cvm_t", lit(null).cast(DoubleType))
    }
    val dec = DecimalType(38, 0)
    def gaps(g: String): DataFrame = {
      val (rr, _) = globalRankByValue(
        poolr.filter(col("__g") === g), "__pr", "__t")
      val gap2 = (col("__pr") - col("__rank")) *
        (col("__pr") - col("__rank"))
      rr.agg(count(lit(1)).as("n"),
        coalesce(sum(gap2.cast(dec)), lit(0).cast(dec)).as("u"))
    }
    // side B collects as 1-row driver literals: the two aggregates
    // share poolr's lineage, and a crossJoin of both would be the
    // conflicting-attribute self-join (the sanctioned fix)
    val bRow = gaps(groupB).collect()(0)
    val agg = gaps(groupA)
      .select(col("n").as("__na"), col("u").as("__ua"),
        lit(bRow.getLong(0)).as("__nb"),
        lit(bRow.getDecimal(1)).cast(dec).as("__ub"))
    val naD = col("__na").cast(DoubleType)
    val nbD = col("__nb").cast(DoubleType)
    val u = naD * col("__ua").cast(DoubleType) +
      nbD * col("__ub").cast(DoubleType)
    val out = agg.select(
      col("__na").as("n_a"), col("__nb").as("n_b"),
      round(
        when(col("__na") > 0 && col("__nb") > 0,
          u / (naD * nbD * (naD + nbD)) -
            (lit(4.0) * naD * nbD - 1.0) / (lit(6.0) * (naD + nbD)))
          .otherwise(lit(null).cast(DoubleType)), 6).as("cvm_t"))
      .localCheckpoint(true) // 1 row; free the pooled ranks afterwards
    poolr.unpersist(false)
    out
  }

  /** Kruskal–Wallis H test: does `valueCol`'s distribution differ in
    * location across ALL k groups at once? The k-group step up from
    * [[mannWhitney]] and the rank-based (assumption-free) sibling of
    * [[anovaF]] — the right omnibus gate for the heavy-tailed
    * quality/length/price distributions a corpus audit meets, where
    * ANOVA's normality premise fails.
    *
    * Scale shape: ranks come from [[globalRankByValue]]'s two-phase
    * prefix sum (NOT a single-partition window); ONE (group, value)
    * aggregation over the ranked rows serves both the per-value tie
    * census and the per-group rank sums (the multi-consumer rule —
    * the gv frame persists, vocabulary×groups-sized), and everything
    * after runs on the ≤ |groups| frame.
    *
    * Determinism: tied rows occupy a contiguous rank range, so
    * per-group 2·R_g = Σ c·(lo+hi) and the tie term Σ(t³−t)
    * accumulate as exact DECIMAL(38,0) with the cast BEFORE the
    * multiply (the [[mannWhitney]] contract). Each group's
    * H-contribution normalizes to O(1) — w·u² with w = n_g/N and
    * u = r̄_g/(N+1) — BEFORE the 9-dp round-then-DECIMAL(28,9)
    * cross-group fold (the [[anovaF]] discipline; the raw R_g²/n_g
    * terms are ~N³-scale, where a 6-dp double round is below one ulp
    * and NOT engine-portable). H then recovers as
    * (N+1)·(12·S − 3) / tie-correction in literal oracle order.
    *
    * Returns one row: (n_total, k_groups, h, verdict) — h the
    * tie-corrected statistic (NULL when every value is tied), verdict
    * 'reject' / 'keep' vs the literal χ²₀.₉₅ critical value for
    * df = k−1 ≤ 8, NULL beyond the lookup. */
  def kruskalWallis(
      df: DataFrame,
      valueCol: String,
      groupCol: String): DataFrame = {
    val v = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast(StringType).as("__g"),
        col(valueCol).cast(DoubleType).as("__x"))
      .withColumn("__t", lit(0))
    val (ranked, n) = globalRankByValue(v, "__x", "__t", RankRanges)
    val dec = DecimalType(38, 0)
    val gv = ranked.groupBy(col("__g"), col("__x"))
      .agg(count(lit(1)).as("__c"), min(col("__rank")).as("__l"),
        max(col("__rank")).as("__h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-value lo/hi/ct derive FROM gv (tied rows are contiguous in
    // rank regardless of which group they fall in)
    val pv = gv.groupBy(col("__x"))
      .agg(sum(col("__c")).as("__ct"), min(col("__l")).as("__lo"),
        max(col("__h")).as("__hi"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ties = pv.agg(coalesce(sum(col("__ct").cast(dec) * col("__ct") *
      col("__ct") - col("__ct")), lit(0).cast(dec)).as("__tt"))
    val perGroup = gv.join(pv.select(col("__x"), col("__lo"), col("__hi")),
      Seq("__x"))
      .groupBy(col("__g"))
      .agg(sum(col("__c").cast(dec) * (col("__lo") + col("__hi")))
        .as("__r2"), sum(col("__c")).as("__ng"))
    val nd = lit(n.toDouble)
    // O(1)-normalized per-group term in literal oracle order
    val ud = col("__r2").cast(DoubleType) / 2.0 /
      col("__ng").cast(DoubleType) / (nd + 1.0)
    val wd = col("__ng").cast(DoubleType) / nd
    val fold = DecimalType(28, 9)
    val folded = perGroup.agg(count(lit(1)).as("k_groups"),
      sum(Guards.fastRoundDec(wd * ud * ud, 9, fold)).as("__s"))
    val n3 = (lit(n).cast(dec) * n * n - n).cast(DoubleType)
    val hRaw = (nd + 1.0) * (lit(12.0) * col("__s").cast(DoubleType) - 3.0)
    val corr = lit(1.0) - col("__tt").cast(DoubleType) / n3
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    val h = when(corr > 0.0, round(hRaw / safe(corr), 6))
      .otherwise(lit(null).cast(DoubleType))
    // χ²₀.₉₅ quantiles for df 1..8 (literals, public tables)
    val dfg = col("k_groups") - 1L
    val crit = when(dfg === 1, 3.841).when(dfg === 2, 5.991)
      .when(dfg === 3, 7.815).when(dfg === 4, 9.488)
      .when(dfg === 5, 11.070).when(dfg === 6, 12.592)
      .when(dfg === 7, 14.067).when(dfg === 8, 15.507)
      .otherwise(lit(null).cast(DoubleType))
    val out = folded.crossJoin(broadcast(ties)) // 1-row control plane
      .select(lit(n).as("n_total"), col("k_groups"), h.as("h"))
      .withColumn("verdict",
        when(col("h").isNotNull && crit.isNotNull,
          when(col("h") > crit, lit("reject")).otherwise(lit("keep")))
          .otherwise(lit(null).cast(StringType)))
      .localCheckpoint(true) // 1 row; free gv/pv afterwards
    gv.unpersist(false)
    pv.unpersist(false)
    out
  }

  /** ROC AUC of a score predicting a binary label, tie-aware — the
    * standard discrimination readout for a quality-filter audit:
    * AUC = P(score⁺ > score⁻) + ½·P(score⁺ = score⁻). Numerically it
    * IS the normalized Mann–Whitney U, and that is exactly how it
    * computes: ranks from [[globalRankByValue]]'s two-phase prefix
    * sum (no single-partition window), average ranks per distinct
    * score from the contiguous (lo+hi) span, the positive rank-sum
    * as exact DECIMAL(38,0) (cast BEFORE multiply — the
    * [[mannWhitney]] contract), then ONE double division. Gini
    * (accuracy ratio) = 2·AUC − 1 rides along from the same
    * unrounded value.
    *
    * Returns one row: (n_pos, n_neg, auc, gini); metrics NULL when
    * either class is empty (AUC is undefined, not 0.5). */
  def rocAuc(
      df: DataFrame,
      scoreCol: Column,
      labelPred: Column): DataFrame = {
    val v = df
      .select(scoreCol.cast(DoubleType).as("__x"),
        when(coalesce(labelPred, lit(false)), 1L).otherwise(0L)
          .as("__y"))
      .filter(col("__x").isNotNull)
      .withColumn("__t", lit(0))
    val (ranked, _) = globalRankByValue(v, "__x", "__t", RankRanges)
    val dec = DecimalType(38, 0)
    val perVal = ranked.groupBy(col("__x"))
      .agg(min(col("__rank")).as("__lo"), max(col("__rank")).as("__hi"),
        sum(col("__y")).as("__cp"), count(lit(1)).as("__ct"))
    val agg1 = perVal.agg(
      coalesce(sum(col("__cp")), lit(0L)).as("__np"),
      coalesce(sum(col("__ct")), lit(0L)).as("__n"),
      coalesce(sum(col("__cp").cast(dec) * (col("__lo") + col("__hi"))),
        lit(0).cast(dec)).as("__r2p"))
    val npd = col("__np").cast(DoubleType)
    val nnd = (col("__n") - col("__np")).cast(DoubleType)
    val aucRaw = (col("__r2p").cast(DoubleType) / 2.0 -
      npd * (npd + 1.0) / 2.0) / (npd * nnd)
    val ok = col("__np") > 0 && (col("__n") - col("__np")) > 0
    agg1.select(
      col("__np").as("n_pos"),
      (col("__n") - col("__np")).as("n_neg"),
      when(ok, round(aucRaw, 6)).otherwise(lit(null).cast(DoubleType))
        .as("auc"),
      when(ok, round(aucRaw * 2.0 - 1.0, 6))
        .otherwise(lit(null).cast(DoubleType)).as("gini"))
  }

  /** Forecast bins of [[brierDecomposition]]. */
  private val BrierBins = 10

  /** Brier score with the Murphy reliability/resolution/uncertainty
    * decomposition — the CALIBRATION companion of [[rocAuc]] (AUC
    * says whether the score RANKS well; Brier says whether its
    * magnitude means what it claims): mean squared error of a
    * probabilistic forecast against the binary outcome, split into
    * reliability (calibration gap per forecast bin — lower better),
    * resolution (how far bin outcomes move from the base rate —
    * higher better), and uncertainty (the base rate's own variance,
    * the no-skill floor).
    *
    * The forecast arrives as an exact PERMILLE integer (0..1000,
    * require-checked by a one-row pre-scan), so the Brier sum is
    * pure integer arithmetic: Σ(m − 1000y)² / (10⁶·n). Bins are
    * integer (m·[[BrierBins]]) div 1000; per-bin aggregates are exact
    * DECIMAL sums; the ≤ BrierBins-row decomposition fold fixes each
    * double term at 9 dp as DECIMAL(28,9) (the [[anovaF]] fold) so
    * bin order cannot move a bit.
    *
    * Returns one row: (n, brier, reliability, resolution,
    * uncertainty); all NULL when the input is empty. */
  def brierDecomposition(
      df: DataFrame,
      forecastPermille: Column,
      labelPred: Column): DataFrame = {
    val v = df
      .select(forecastPermille.cast(LongType).as("__m"),
        when(coalesce(labelPred, lit(false)), 1L).otherwise(0L)
          .as("__y"))
      .filter(col("__m").isNotNull)
    val pre = v.agg(coalesce(min(col("__m")), lit(0L)),
      coalesce(max(col("__m")), lit(0L))).collect()(0)
    require(pre.getLong(0) >= 0L && pre.getLong(1) <= 1000L,
      s"brierDecomposition: forecast permille range [${pre.getLong(0)}," +
        s" ${pre.getLong(1)}] outside [0, 1000] — rescale first")
    val dec = DecimalType(38, 0)
    val err = col("__m") - lit(1000L) * col("__y")
    val bins = v
      .withColumn("__b", least(expr(s"(__m * $BrierBins) div 1000"),
        lit(BrierBins.toLong - 1L)))
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("__nk"),
        coalesce(sum(col("__m").cast(dec)), lit(0).cast(dec))
          .as("__sm"),
        coalesce(sum(col("__y")), lit(0L)).as("__sy"),
        coalesce(sum((err * err).cast(dec)), lit(0).cast(dec))
          .as("__sq"))
    // ≤ BrierBins rows: global totals ride a full-frame window on the
    // same pass (the autocorrelation idiom — no second corpus scan)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val staged = bins
      .withColumn("__nt", sum(col("__nk")).over(wAll))
      .withColumn("__syt", sum(col("__sy")).over(wAll))
      .withColumn("__sqt", sum(col("__sq")).over(wAll))
    val nkD = col("__nk").cast(DoubleType)
    val ntD = col("__nt").cast(DoubleType)
    val pk = col("__sm").cast(DoubleType) / (nkD * 1000.0)
    val yk = col("__sy").cast(DoubleType) / nkD
    val ybar = col("__syt").cast(DoubleType) / ntD
    val fold = DecimalType(28, 9)
    val one = staged.agg(
      max(col("__nt")).as("__n"),
      max(col("__syt")).as("__syg"),
      max(col("__sqt")).as("__sqg"),
      sum(Guards.fastRoundDec(nkD * (pk - yk) * (pk - yk), 9, fold))
        .as("__rel"),
      sum(Guards.fastRoundDec(nkD * (yk - ybar) * (yk - ybar), 9, fold))
        .as("__res"))
    val nD = col("__n").cast(DoubleType)
    val yb = col("__syg").cast(DoubleType) / nD
    val ok = col("__n") > 0
    one.select(coalesce(col("__n"), lit(0L)).as("n"),
      when(ok, round(col("__sqg").cast(DoubleType) /
        (lit(1000000.0) * nD), 6))
        .otherwise(lit(null).cast(DoubleType)).as("brier"),
      when(ok, round(col("__rel").cast(DoubleType) / nD, 6))
        .otherwise(lit(null).cast(DoubleType)).as("reliability"),
      when(ok, round(col("__res").cast(DoubleType) / nD, 6))
        .otherwise(lit(null).cast(DoubleType)).as("resolution"),
      when(ok, round(yb * (lit(1.0) - yb), 6))
        .otherwise(lit(null).cast(DoubleType)).as("uncertainty"))
  }

  /** Average precision (area under the precision–recall curve, step
    * interpolation at distinct-score blocks) — the CLASS-IMBALANCE
    * companion of [[rocAuc]]: with 1% positives, AUC 0.95 can hide a
    * filter whose top bucket is still mostly junk; AP weights
    * performance where the positives actually live. Baseline (the
    * random-classifier AP) = the positive rate, emitted alongside.
    *
    * AP = Σ_b ΔR_b·P_b over distinct scores DESCENDING: tied scores
    * enter as ONE block (no intra-tie order exists to exploit),
    * P_b = precision at the block's end, ΔR_b = the block's share of
    * all positives. The cumulative window runs over the
    * distinct-VALUE frame, never rows (quantize a continuous score
    * first — the [[ksByGroup]] note); per-block terms fix at 9 dp as
    * DECIMAL(28,9) so block order cannot move a bit.
    *
    * Returns one row: (n_pos, n_neg, pr_auc, baseline); AP NULL when
    * no positives exist. */
  def prAuc(
      df: DataFrame,
      scoreCol: Column,
      labelPred: Column): DataFrame = {
    val v = df
      .select(scoreCol.cast(DoubleType).as("__x"),
        when(coalesce(labelPred, lit(false)), 1L).otherwise(0L)
          .as("__y"))
      .filter(col("__x").isNotNull)
    val perVal = v.groupBy(col("__x"))
      .agg(count(lit(1)).as("__ct"),
        coalesce(sum(col("__y")), lit(0L)).as("__cp"))
    val wCum = Guards.seriesWindow(col("__x").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val staged = Guards.boundedSeries(perVal, "prAuc distinct scores")
      .withColumn("__ncum", sum(col("__ct")).over(wCum))
      .withColumn("__tp", sum(col("__cp")).over(wCum))
      .withColumn("__pt", sum(col("__cp")).over(wAll))
      .withColumn("__nt", sum(col("__ct")).over(wAll))
    val term = when(col("__cp") > 0,
      round(col("__cp").cast(DoubleType) *
        (col("__tp").cast(DoubleType) /
          col("__ncum").cast(DoubleType)), 9))
      .otherwise(lit(0.0))
    val fold = DecimalType(28, 9)
    val one = staged.agg(
      max(col("__pt")).as("__p"), max(col("__nt")).as("__n"),
      coalesce(sum(term.cast(fold)), lit(0).cast(fold)).as("__s"))
    one.select(
      coalesce(col("__p"), lit(0L)).as("n_pos"),
      (coalesce(col("__n"), lit(0L)) - coalesce(col("__p"), lit(0L)))
        .as("n_neg"),
      when(col("__p") > 0,
        round(col("__s").cast(DoubleType) /
          col("__p").cast(DoubleType), 6))
        .otherwise(lit(null).cast(DoubleType)).as("pr_auc"),
      when(col("__n") > 0,
        round(col("__p").cast(DoubleType) /
          col("__n").cast(DoubleType), 6))
        .otherwise(lit(null).cast(DoubleType)).as("baseline"))
  }

  /** Cliff's delta ordinal effect size between two groups:
    * δ = (#(a>b) − #(a<b)) / (n_a·n_b) ∈ [−1, 1] — the MAGNITUDE
    * companion of [[mannWhitney]] (U says whether the shift is
    * real; δ says whether anyone should care), assumption-free like
    * the test itself. Computed WITHOUT the pair join: with tie-aware
    * average ranks, δ = 2·U_a/(n_a·n_b) − 1, so the whole statistic
    * reuses the [[globalRankByValue]] two-phase prefix-sum topology
    * and one exact DECIMAL(38,0) rank-sum.
    *
    * Magnitude labels use the Romano et al. thresholds on |δ|
    * (0.147 / 0.33 / 0.474 — negligible / small / medium / large),
    * applied to the unrounded value (pure double compares, so both
    * engines agree).
    *
    * Returns one row: (n_a, n_b, delta, magnitude); NULL when either
    * group is empty. */
  def cliffsDelta(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val v = df
      .filter(col(groupCol).isin(groupA, groupB) &&
        col(valueCol).isNotNull)
      .select(col(groupCol).cast(StringType).as("__g"),
        col(valueCol).cast(DoubleType).as("__x"))
      .withColumn("__t", lit(0))
    val (ranked, _) = globalRankByValue(v, "__x", "__t", RankRanges)
    val dec = DecimalType(38, 0)
    val perVal = ranked.groupBy(col("__x"))
      .agg(min(col("__rank")).as("__lo"), max(col("__rank")).as("__hi"),
        sum(when(col("__g") === groupA, 1L).otherwise(0L)).as("__ca"),
        count(lit(1)).as("__ct"))
    val agg1 = perVal.agg(
      coalesce(sum(col("__ca")), lit(0L)).as("__na"),
      coalesce(sum(col("__ct")), lit(0L)).as("__n"),
      coalesce(sum(col("__ca").cast(dec) * (col("__lo") + col("__hi"))),
        lit(0).cast(dec)).as("__r2a"))
    val nad = col("__na").cast(DoubleType)
    val nbd = (col("__n") - col("__na")).cast(DoubleType)
    val uRaw = col("__r2a").cast(DoubleType) / 2.0 -
      nad * (nad + 1.0) / 2.0
    val deltaRaw = uRaw * 2.0 / (nad * nbd) - 1.0
    val ok = col("__na") > 0 && (col("__n") - col("__na")) > 0
    val mag = when(abs(deltaRaw) < 0.147, lit("negligible"))
      .when(abs(deltaRaw) < 0.33, lit("small"))
      .when(abs(deltaRaw) < 0.474, lit("medium"))
      .otherwise(lit("large"))
    agg1.select(
      col("__na").as("n_a"),
      (col("__n") - col("__na")).as("n_b"),
      when(ok, round(deltaRaw, 6)).otherwise(lit(null).cast(DoubleType))
        .as("delta"),
      when(ok, mag).otherwise(lit(null).cast(StringType))
        .as("magnitude"))
  }

  /** Welch's unequal-variance t-test between two groups, plus Cohen's
    * d effect size — the parametric sibling of [[mannWhitney]] (which
    * compares ranks; Welch compares means when the values themselves
    * are trusted). No pooled-variance assumption: the
    * Welch–Satterthwaite degrees of freedom absorb unequal spreads,
    * which is the realistic case for A/B metrics at corpus scale.
    *
    * Scale shape: ONE conditional-aggregate pass over the filtered
    * rows — six accumulators (n/Σy/Σy² per group), map-side combined,
    * 1-row result. No join, no second scan.
    *
    * Determinism: values fix as DECIMAL(18,4) so Σy and Σy² are exact
    * (order-free); every double step after runs on the 1-row frame in
    * the same literal order as the DuckDB oracle, then rounds to 6 dp.
    *
    * Returns one row: (n_a, n_b, mean_a, mean_b, t, dof, cohen_d);
    * t/dof/cohen_d are NULL when either group has < 2 rows or the
    * standard error is zero. */
  def welchT(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val dec = DecimalType(18, 4)
    val v = df
      .filter(col(groupCol).isin(groupA, groupB) &&
        col(valueCol).isNotNull)
      .select(col(groupCol).cast(StringType).as("__g"),
        col(valueCol).cast(dec).as("__y"))
    def side(g: String, tag: String) = Seq(
      sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"__n$tag"),
      sum(when(col("__g") === g, col("__y"))).as(s"__s$tag"),
      sum(when(col("__g") === g, col("__y") * col("__y")))
        .as(s"__ss$tag"))
    val aggs = side(groupA, "a") ++ side(groupB, "b")
    val one = v.agg(aggs.head, aggs.tail: _*)
    def nD(t: String) = col(s"__n$t").cast(DoubleType)
    def sD(t: String) = col(s"__s$t").cast(DoubleType)
    def ssD(t: String) = col(s"__ss$t").cast(DoubleType)
    // every division must be TOTAL: ANSI mode turns x/0 into an error,
    // and codegen's subexpression elimination hoists these shared
    // terms OUT of the when() guards below, so "the branch is gated"
    // does not protect the division. safe() is the identity whenever
    // the guard would pass (denominator ≠ 0), so oracle parity holds;
    // in the degenerate cases the garbage value is NULL-gated anyway.
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    def meanOf(t: String) = sD(t) / safe(nD(t))
    // sample variance, literal op order mirrored in the oracle SQL
    def varOf(t: String) =
      (ssD(t) - sD(t) * sD(t) / safe(nD(t))) / safe(nD(t) - lit(1.0))
    val se2 = varOf("a") / safe(nD("a")) + varOf("b") / safe(nD("b"))
    val ok = col("__na") > 1 && col("__nb") > 1 && se2 > 0
    val t = (meanOf("a") - meanOf("b")) / safe(sqrt(se2))
    val dof = se2 * se2 / safe(
      varOf("a") / safe(nD("a")) * (varOf("a") / safe(nD("a"))) /
        safe(nD("a") - 1.0) +
        varOf("b") / safe(nD("b")) * (varOf("b") / safe(nD("b"))) /
          safe(nD("b") - 1.0))
    val sp2 = ((nD("a") - 1.0) * varOf("a") + (nD("b") - 1.0) * varOf("b")) /
      safe(nD("a") + nD("b") - 2.0)
    val cohenD = (meanOf("a") - meanOf("b")) / safe(sqrt(sp2))
    def gate(c: Column) =
      when(ok, round(c, 6)).otherwise(lit(null).cast(DoubleType))
    one.select(
      col("__na").as("n_a"), col("__nb").as("n_b"),
      when(col("__na") > 0, round(meanOf("a"), 6)).as("mean_a"),
      when(col("__nb") > 0, round(meanOf("b"), 6)).as("mean_b"),
      gate(t).as("t"), gate(dof).as("dof"),
      when(ok && sp2 > 0, round(cohenD, 6))
        .otherwise(lit(null).cast(DoubleType)).as("cohen_d"))
  }

  /** One-way ANOVA: the F statistic and η² effect size for a numeric
    * value across k ≥ 2 groups — "do ANY of these sources/variants
    * differ in mean?", the multi-group step up from [[welchT]] (and
    * the parametric sibling of the k-group Kruskal–Wallis family).
    *
    * Scale shape: one map-side-combined groupBy(group) producing
    * (n, Σy, Σy²) triples — the corpus is scanned ONCE and the rest
    * runs on the ≤ |groups| frame: a 1-row global agg broadcast back
    * via the control-plane crossJoin, then per-group SSB/SSW terms.
    *
    * Determinism: Σy/Σy² fix as DECIMAL (exact, order-free); each
    * group's between/within term computes in double in literal oracle
    * order, rounds to 9 dp and fixes as DECIMAL(28,9) before the
    * cross-group sum (the [[entropyByGroup]] fold discipline), so
    * group order cannot move a bit.
    *
    * Returns one row: (k, n, ss_between, ss_within, df1, df2, f,
    * eta_sq); f/eta_sq NULL when df2 = 0 or SSW = 0. */
  def anovaF(
      df: DataFrame,
      valueCol: String,
      groupCol: String): DataFrame = {
    val dec = DecimalType(18, 4)
    // the per-group triple frame feeds both the global totals and the
    // term fold — persist it or the corpus groupBy re-runs once per
    // consumer (the multi-consumer rule); the frame is ≤ |groups| rows
    val perGroup = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast(StringType).as("__g"),
        col(valueCol).cast(dec).as("__y"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__s"),
        sum(col("__y") * col("__y")).as("__ss"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = perGroup.agg(
      count(lit(1)).as("__k"), sum(col("__n")).as("__nt"),
      sum(col("__s")).as("__st"))
    val nD = col("__n").cast(DoubleType)
    val sD = col("__s").cast(DoubleType)
    val grand = col("__st").cast(DoubleType) / col("__nt").cast(DoubleType)
    val termB = nD * (sD / nD - grand) * (sD / nD - grand)
    val termW = col("__ss").cast(DoubleType) - sD * sD / nD
    val fold = DecimalType(28, 9)
    val folded = perGroup
      .crossJoin(broadcast(tot)) // 1-row control plane
      .agg(min(col("__k")).as("k"), min(col("__nt")).as("n"),
        sum(Guards.fastRoundDec(termB, 9, fold)).as("__ssb"),
        sum(Guards.fastRoundDec(termW, 9, fold)).as("__ssw"))
    val ssb = col("__ssb").cast(DoubleType)
    val ssw = col("__ssw").cast(DoubleType)
    val df1 = col("k") - 1L
    val df2 = col("n") - col("k")
    val ok = df1 > 0 && df2 > 0 && ssw > 0
    // total divisions (ANSI + subexpression hoisting — see welchT):
    // safe() is the identity whenever ok holds, garbage is NULL-gated
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    val out = folded.select(col("k"), col("n"),
      round(ssb, 6).as("ss_between"), round(ssw, 6).as("ss_within"),
      df1.as("df1"), df2.as("df2"),
      when(ok, round((ssb / safe(df1.cast(DoubleType))) /
        safe(ssw / safe(df2.cast(DoubleType))), 6))
        .otherwise(lit(null).cast(DoubleType)).as("f"),
      when(ok, round(ssb / safe(ssb + ssw), 6))
        .otherwise(lit(null).cast(DoubleType)).as("eta_sq"))
      .localCheckpoint(true)
    perGroup.unpersist(false)
    out
  }

  /** Brown–Forsythe test for variance homogeneity across k groups —
    * the robust Levene variant: do the groups SPREAD differently,
    * regardless of their centers? The companion gate [[anovaF]] and
    * [[welchT]] silently assume away (ANOVA compares means; this
    * asks whether comparing means was even fair), and a drift signal
    * in its own right — a source whose variance doubles changed even
    * if its mean held.
    *
    * W is literally one-way ANOVA on z = |x − median_g|: per-group
    * EXACT order-statistic medians from [[quantilesByGroup]] (the
    * (n·500+999) div 1000 rank, value+id total order), a broadcast
    * join of the ≤ |groups|-row median frame back onto the data, and
    * then [[anovaF]]'s exact-decimal fold verbatim — z stays
    * DECIMAL(18,4) end to end, so the only doubles are the fold's
    * 9-dp-fixed terms.
    *
    * Returns one row: (k, n, df1, df2, w, verdict) — verdict vs the
    * literal F(df1, ∞) 5% critical value, emitted only in the
    * large-sample regime (df2 ≥ 1000, df1 ≤ 8) where the ∞ row is
    * the right reference; NULL otherwise. */
  def brownForsythe(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      idCol: Column): DataFrame = {
    val dec = DecimalType(18, 4)
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast(StringType).as("__g"),
        col(valueCol).cast(dec).as("__v"), idCol.as("__vid"))
    val med = quantilesByGroup(base, Seq("__g"), col("__v"),
        col("__vid"), permilles = Seq(500))
      .select(col("__g"), col("p_500").cast(dec).as("__med"))
    val z = base.join(broadcast(med), Seq("__g"))
      .select(col("__g"), abs(col("__v") - col("__med")).as("__z"))
    val a = anovaF(z, "__z", "__g")
    val crit = when(col("df1") === 1, 3.841).when(col("df1") === 2, 2.996)
      .when(col("df1") === 3, 2.605).when(col("df1") === 4, 2.372)
      .when(col("df1") === 5, 2.214).when(col("df1") === 6, 2.099)
      .when(col("df1") === 7, 2.010).when(col("df1") === 8, 1.938)
      .otherwise(lit(null).cast(DoubleType))
    a.select(col("k"), col("n"), col("df1"), col("df2"),
      col("f").as("w"),
      when(col("f").isNotNull && crit.isNotNull && col("df2") >= 1000,
        when(col("f") > crit, lit("reject")).otherwise(lit("keep")))
        .otherwise(lit(null).cast(StringType)).as("verdict"))
  }

  /** Cohen's kappa: chance-corrected agreement between two categorical
    * "raters" over the same rows — the standard gauge for whether two
    * heuristic quality gates actually measure the same thing (raw
    * agreement flatters gates that both say "pass" 95% of the time;
    * kappa subtracts the agreement chance would produce).
    *
    * Scale shape: one map-side-combined groupBy over the (a, b) cells
    * — the corpus scans once and everything after runs on the
    * ≤ |A|·|B| cell frame (windows over cells, not data).
    *
    * Determinism: po and pe derive from exact integer cell counts;
    * pe's cross-category fold rounds each rowShare·colShare term to
    * 12 dp and fixes as DECIMAL before summing.
    *
    * Returns one row: (n, p_observed, p_expected, kappa); kappa NULL
    * when pe = 1 (degenerate single-cell case). */
  def cohenKappa(
      df: DataFrame,
      aCol: Column,
      bCol: Column): DataFrame = {
    // the cell frame feeds both marginals plus the n/agree totals —
    // persist it or the corpus groupBy re-runs once per consumer (the
    // multi-consumer rule); the frame is ≤ |A|·|B| rows
    val cells = df
      .select(aCol.cast(StringType).as("__a"),
        bCol.cast(StringType).as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = cells.agg(sum(col("__c")).as("__n"),
      sum(when(col("__a") === col("__b"), col("__c")).otherwise(0L))
        .as("__agree"))
    // pe = Σ_c P(A=c)·P(B=c) over categories BOTH raters use — an
    // inner join of the marginals (a category one rater never emits
    // contributes zero), NOT a diagonal-cells fold: two raters can
    // both use category c yet never agree on it, leaving no (c, c)
    // cell while pe's c-term is still positive
    val ra = cells.groupBy(col("__a").as("__cat"))
      .agg(sum(col("__c")).as("__ra"))
    val cb = cells.groupBy(col("__b").as("__cat"))
      .agg(sum(col("__c")).as("__cb"))
    val dec = DecimalType(28, 12)
    val nD = col("__n").cast(DoubleType)
    val folded = ra.join(cb, Seq("__cat"))
      .crossJoin(broadcast(tot)) // 1-row control plane
      .agg(min(col("__n")).as("n"), min(col("__agree")).as("__ag"),
        sum(Guards.fastRoundDec(col("__ra").cast(DoubleType) / nD *
          (col("__cb").cast(DoubleType) / nD), 12, dec))
          .as("__pe"))
    val po = col("__ag").cast(DoubleType) / col("n").cast(DoubleType)
    val pe = col("__pe").cast(DoubleType)
    // total division (ANSI + subexpression hoisting — see welchT):
    // identity whenever pe < 1, garbage NULL-gated otherwise
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    val out = folded.select(col("n"),
      round(po, 6).as("p_observed"), round(pe, 6).as("p_expected"),
      when(pe < 1.0, round((po - pe) / safe(lit(1.0) - pe), 6))
        .otherwise(lit(null).cast(DoubleType)).as("kappa"))
      .localCheckpoint(true)
    cells.unpersist(false)
    out
  }

  /** Cochran–Armitage test for a TREND in a pass rate across ORDERED
    * strata (Armitage 1955, no continuity correction) — the
    * middle ground between [[chiSquare]] (which ignores stratum
    * order) and a full regression: "does the gate's pass rate rise
    * or fall systematically along length buckets / quality deciles /
    * schema versions". Scores are the stratum ordinals themselves.
    *
    * T = Σwr − (R/N)·Σwn and
    * V = (R/N)(1 − R/N)·(Σw²n − (Σwn)²/N), Z = T/√V — five exact
    * long accumulators (w is a small ordinal, so every product is
    * integer-exact) from ONE map-side-combined aggregate pass; the
    * closed form runs on the 1-row frame in literal oracle order.
    * NULL predicate = fail (the [[graft.operators.Expectations]]
    * discipline); NULL stratum rows are excluded. NULL-gated when
    * V ≤ 0 (all mass in one stratum, or a 0%/100% overall rate).
    *
    * Returns one row: (n, k_strata, r_total, z, verdict). */
  def cochranArmitage(
      df: DataFrame,
      strataOrdinal: Column,
      pred: Column): DataFrame = {
    val w = strataOrdinal.cast(LongType)
    val s = when(coalesce(pred, lit(false)), 1L).otherwise(0L)
    val one = df.filter(w.isNotNull).agg(
      count(lit(1)).as("n"),
      countDistinct(w).as("k_strata"),
      coalesce(sum(s), lit(0L)).as("r_total"),
      coalesce(sum(w), lit(0L)).as("__swn"),
      coalesce(sum(w * s), lit(0L)).as("__swr"),
      coalesce(sum(w * w), lit(0L)).as("__sww"))
    def d(c: Column) = c.cast(DoubleType)
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    val nD = d(col("n"))
    val rate = d(col("r_total")) / safe(nD)
    val t = d(col("__swr")) - rate * d(col("__swn"))
    val v = rate * (lit(1.0) - rate) *
      (d(col("__sww")) - d(col("__swn")) * d(col("__swn")) / safe(nD))
    one.select(col("n"), col("k_strata"), col("r_total"),
      when(col("n") > 0 && v > 0.0, round(t / safe(sqrt(v)), 6))
        .otherwise(lit(null).cast(DoubleType)).as("z"))
      .withColumn("verdict",
        when(col("z").isNotNull,
          when(abs(col("z")) > 1.96, lit("reject")).otherwise(lit("keep")))
          .otherwise(lit(null).cast(StringType)))
  }

  /** Fleiss' kappa over n ≥ 2 binary "raters" (heuristic gates) on
    * the same rows — the multi-rater extension of [[cohenKappa]]:
    * with a whole battery of quality gates, pairwise kappas grow
    * quadratically and answer n(n−1)/2 different questions; Fleiss
    * answers the one a curation pipeline asks — "does the battery
    * agree beyond chance AT ALL". Binary categories (pass/fail),
    * NULL predicate = fail (the [[graft.operators.Expectations]]
    * discipline).
    *
    * Determinism: P̄ and the category proportions are EXACT — per
    * item the agreement numerator Σ_j n_ij² − n is a small integer
    * (n_pass² + n_fail² − n), so P̄ = Σ_i num_i / (N·n·(n−1)) and
    * p_pass = Σ n_pass/(n·N) are single divisions of exact longs;
    * P̄_e and kappa then run in literal oracle order on the 1-row
    * frame. ONE map-side-combined aggregate pass, no join, no
    * shuffle of data rows.
    *
    * Returns one row: (n_items, n_raters, p_bar, p_e, kappa) —
    * kappa NULL when P̄_e = 1 (all raters unanimous on one category
    * everywhere: agreement is degenerate, not informative). */
  def fleissKappa(
      df: DataFrame,
      preds: Seq[Column]): DataFrame = {
    val n = preds.size
    require(n >= 2, s"fleissKappa needs >= 2 raters, got $n")
    val npass = preds.map(p =>
      when(coalesce(p, lit(false)), 1L).otherwise(0L)).reduce(_ + _)
    val nfail = lit(n.toLong) - npass
    val one = df.agg(count(lit(1)).as("__ni"),
      coalesce(sum(npass * npass + nfail * nfail - n.toLong), lit(0L))
        .as("__num"),
      coalesce(sum(npass), lit(0L)).as("__sp"))
    def d(c: Column) = c.cast(DoubleType)
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    val nD = d(col("__ni"))
    val pbar = d(col("__num")) /
      safe(nD * lit(n.toDouble) * lit(n - 1.0))
    val pPass = d(col("__sp")) / safe(lit(n.toDouble) * nD)
    val pFail = (lit(n.toDouble) * nD - d(col("__sp"))) /
      safe(lit(n.toDouble) * nD)
    val pe = pPass * pPass + pFail * pFail
    val ok = col("__ni") > 0 && pe < 1.0
    one.select(col("__ni").as("n_items"),
      lit(n.toLong).as("n_raters"),
      when(col("__ni") > 0, round(pbar, 6)).as("p_bar"),
      when(col("__ni") > 0, round(pe, 6)).as("p_e"),
      when(ok, round((pbar - pe) / safe(lit(1.0) - pe), 6))
        .otherwise(lit(null).cast(DoubleType)).as("kappa"))
  }

  /** Krippendorff's α (nominal, binary categories) over R rating
    * columns with MISSING ratings — the agreement coefficient that
    * tolerates absent annotations (Krippendorff 2004), the gap
    * [[fleissKappa]] leaves open (kappa needs a complete panel; a
    * NULL rating here simply drops out of its unit, and a unit with
    * < 2 remaining ratings is unpairable and drops entirely). The
    * labeling-QA question it answers: "across however many gates
    * actually fired per document, do the verdicts agree beyond
    * chance?"
    *
    * α = 1 − D_o/D_e over the coincidence matrix; for binary nominal
    * data D_o = (Σ_u 2·t_u·f_u/(m_u−1))/n and D_e = 2·n_t·n_f/(n(n−1))
    * with t/f the per-unit true/false counts, m = t+f, n the pairable
    * rating total — the 2 is the ORDERED-pair factor (a (T,F) unit
    * contributes both (T,F) and (F,T) coincidences; D_e carries the
    * same factor, ADVICE r12). Sanity anchor: one two-rater (T,F)
    * unit gives D_o = D_e = 1 → α = 0, the Scott's-π reduction.
    *
    * Exactness: per-unit contributions scale by L = lcm(1..R−1), so
    * L·t·f/(m−1) is an exact integer for EVERY m ≤ R (R ≤ 9 ⇒
    * L ≤ 840) — one aggregate pass to exact integer cells,
    * DECIMAL(38,0) casts before the final products (the [[cochranQ]]
    * contract), three literal double divisions, 6-dp rounds. α NULL
    * when chance disagreement is 0 (single-category margin) or no
    * unit is pairable.
    *
    * Returns one row: (n_units, n_pairable, n_ratings, n_true,
    * n_false, d_o, d_e, alpha). */
  def krippendorffAlpha(
      df: DataFrame,
      ratings: Seq[Column]): DataFrame = {
    val rr = ratings.size
    require(rr >= 2 && rr <= 9,
      s"krippendorffAlpha needs 2..9 raters, got $rr")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val L = (1L until rr.toLong).foldLeft(1L)((a, i) => a / gcd(a, i) * i)
    val dec = DecimalType(38, 0)
    // NULL ratings count toward neither category (=== on NULL is
    // NULL, falling through to 0)
    val t = ratings.map(r =>
      when(r === true, 1L).otherwise(0L)).reduce(_ + _)
    val f = ratings.map(r =>
      when(r === false, 1L).otherwise(0L)).reduce(_ + _)
    val m = t + f
    val pairable = m >= 2L
    // L/(m−1) is integral for every m ≤ R by the lcm construction —
    // resolved to a literal per m, so the contribution never touches
    // a division (Spark's `/` on longs would go through double)
    val factor = (2 to rr).foldLeft(lit(0L)) { (acc, mm) =>
      when(m === mm.toLong, lit(L / (mm - 1))).otherwise(acc) }
    // ordered-pair factor 2: without it D_o is halved and agreement
    // systematically inflated (ADVICE r12)
    val contrib =
      when(pairable, lit(2L) * t * f * factor).otherwise(lit(0L))
    // parallelized: all-integer coincidence sums over a possibly
    // one-split scan (exact folds — partitioning cannot move a digit)
    val one = Guards.parallelized(df).agg(
      count(lit(1)).as("__u"),
      coalesce(sum(when(pairable, 1L).otherwise(0L)), lit(0L))
        .as("__p"),
      coalesce(sum(contrib.cast(dec)), lit(0).cast(dec)).as("__s"),
      coalesce(sum(when(pairable, t).otherwise(0L)), lit(0L))
        .as("__nt"),
      coalesce(sum(when(pairable, f).otherwise(0L)), lit(0L))
        .as("__nf"))
    def d(c: Column) = c.cast(DoubleType)
    val n = col("__nt") + col("__nf")
    val dO = d(col("__s")) / d((lit(L).cast(dec) * n.cast(dec)).cast(dec))
    val dE = d((lit(2L).cast(dec) * col("__nt").cast(dec) *
        col("__nf").cast(dec)).cast(dec)) /
      d((n.cast(dec) * (n - 1L).cast(dec)).cast(dec))
    val ok = col("__p") > 0L && col("__nt") > 0L && col("__nf") > 0L &&
      n >= 2L
    one.select(col("__u").as("n_units"), col("__p").as("n_pairable"),
      n.as("n_ratings"), col("__nt").as("n_true"),
      col("__nf").as("n_false"),
      when(ok, round(dO, 6)).otherwise(lit(null).cast(DoubleType))
        .as("d_o"),
      when(ok, round(dE, 6)).otherwise(lit(null).cast(DoubleType))
        .as("d_e"),
      when(ok, round(lit(1.0) - dO / dE, 6))
        .otherwise(lit(null).cast(DoubleType)).as("alpha"))
  }

  /** Krippendorff's α for INTERVAL data — the continuous-scale
    * sibling of [[krippendorffAlpha]] (Krippendorff 2004, δ² metric):
    * the agreement gauge when the "raters" emit NUMBERS on a shared
    * scale (competing quality scorers, length estimators, duplicate
    * annotation passes) rather than verdicts. Same missing-data
    * tolerance: a NULL rating drops out of its unit; units with < 2
    * remaining ratings are unpairable.
    *
    * α = 1 − D_o/D_e with squared-difference disagreement. Both
    * sides reduce to ONE aggregate over exact integers via the
    * pair-sum identity Σ_{i≠j}(xᵢ−xⱼ)² = 2(m·Σx² − (Σx)²):
    * D_o = Σ_u 2(m_u·Q_u − S_u²)/(m_u−1) / n (L-scaled by
    * lcm(1..R−1) so every /(m−1) is exact — the nominal op's trick)
    * and D_e = 2(n·Q − S²)/(n(n−1)) over the pooled ratings. Values
    * fix at `scale` dp (x·10^s longs); squares fold as DECIMAL(38,0);
    * both D's then fix at 6 dp in value² units by EXACT integer
    * division (the huge decimal intermediates never convert to
    * double), and α = 1 − D_o⁶/D_e⁶ is ONE correctly-rounded IEEE
    * division over the emitted values — self-consistent and
    * engine-portable. α NULL when the fixed chance disagreement is 0
    * or nothing is pairable. Binary values as interval reduce to the
    * nominal [[krippendorffAlpha]] (a (1,0) two-rater unit: α = 0).
    *
    * Returns one row: (n_units, n_pairable, n_ratings, d_o, d_e,
    * alpha). */
  def krippendorffAlphaInterval(
      df: DataFrame,
      ratings: Seq[Column],
      scale: Int = 4): DataFrame = {
    val rr = ratings.size
    require(rr >= 2 && rr <= 9,
      s"krippendorffAlphaInterval needs 2..9 raters, got $rr")
    require(scale >= 0 && scale <= 4, s"scale out of range: $scale")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val L = (1L until rr.toLong).foldLeft(1L)((a, i) => a / gcd(a, i) * i)
    val dec = DecimalType(38, 0)
    val pow = math.pow(10, scale).toLong
    val vs = ratings.map(r =>
      (r.cast(DecimalType(18, scale)) * pow).cast(LongType))
    val m = vs.map(v => when(v.isNotNull, 1L).otherwise(0L))
      .reduce(_ + _)
    val s = vs.map(v => coalesce(v, lit(0L))).reduce(_ + _)
    val q = vs.map(v =>
      coalesce((v.cast(dec) * v.cast(dec)).cast(dec),
        lit(0).cast(dec))).reduce(_ + _).cast(dec)
    val pairable = m >= 2L
    val factor = (2 to rr).foldLeft(lit(0L)) { (acc, mm) =>
      when(m === mm.toLong, lit(L / (mm - 1))).otherwise(acc) }
    // 2(m·Q − S²)·L/(m−1): the ordered-pair squared disagreement,
    // exactly integral by the lcm construction
    val contrib = when(pairable,
      (lit(2).cast(dec) * (m.cast(dec) * q - s.cast(dec) * s.cast(dec))
        .cast(dec) * factor.cast(dec)).cast(dec))
      .otherwise(lit(0).cast(dec))
    // parallelized: exact integer/decimal coincidence sums (see
    // krippendorffAlpha)
    val one = Guards.parallelized(df).agg(
      count(lit(1)).as("__u"),
      coalesce(sum(when(pairable, 1L).otherwise(0L)), lit(0L))
        .as("__p"),
      coalesce(sum(contrib), lit(0).cast(dec)).as("__do"),
      coalesce(sum(when(pairable, m).otherwise(0L)), lit(0L))
        .as("__n"),
      coalesce(sum(when(pairable, s).otherwise(0L)), lit(0L))
        .as("__s"),
      coalesce(sum(when(pairable, q).otherwise(lit(0).cast(dec))),
        lit(0).cast(dec)).as("__q"))
    val n = col("__n")
    val deNum = (lit(2).cast(dec) *
      (n.cast(dec) * col("__q") - col("__s").cast(dec) *
        col("__s").cast(dec)).cast(dec)).cast(dec)
    // BOTH D's fix at 6 dp in value² units by EXACT integer division
    // BEFORE any double exists (the huge decimal intermediates —
    // n·Q reaches ~10²⁴ — can't convert to double reproducibly across
    // engines; the ≤ var·10⁶ quotients can, exactly). α is then
    // computed FROM the fixed D's — self-consistent with the emitted
    // d_o/d_e, and one correctly-rounded IEEE division.
    val sq = pow * pow
    val do6 = expr(s"(__do * 1000000) div (${L * sq} * __n)")
    val de6 = expr(
      s"(__deNum * 1000000) div (__n * (__n - 1) * $sq)")
    val ok = col("__p") > 0L && n >= 2L && col("__de6") > 0L
    one.withColumn("__deNum", deNum)
      .withColumn("__do6", do6)
      .withColumn("__de6", de6)
      .select(col("__u").as("n_units"), col("__p").as("n_pairable"),
        n.as("n_ratings"),
        when(ok, col("__do6").cast(DoubleType) / lit(1e6))
          .otherwise(lit(null).cast(DoubleType)).as("d_o"),
        when(ok, col("__de6").cast(DoubleType) / lit(1e6))
          .otherwise(lit(null).cast(DoubleType)).as("d_e"),
        when(ok, round(lit(1.0) - col("__do6").cast(DoubleType) /
            col("__de6").cast(DoubleType), 6))
          .otherwise(lit(null).cast(DoubleType)).as("alpha"))
  }

  /** Cronbach's α — internal consistency of a k-item battery: do the
    * gates measure ONE underlying quality trait, or k unrelated
    * things? The scale-reliability complement of [[fleissKappa]]
    * (kappa asks whether raters agree per item; α asks whether the
    * items hang together as a scale — a battery can agree perfectly
    * and still be incoherent as a composite score).
    *
    * α = k/(k−1)·(1 − Σσᵢ²/σ_T²). With binary items the population
    * variances clear their n² denominators exactly:
    * Σσᵢ²/σ_T² = Σkᵢ(n−kᵢ) / (n·ΣR² − (ΣR)²) — ONE aggregate pass to
    * exact integer cells, DECIMAL(38,0) cast before each product
    * (the [[cochranQ]] contract), one double division. NULL when the
    * total-score variance is 0 (every row passes the same count).
    *
    * Returns one row: (n, k_items, alpha). */
  def cronbachAlpha(
      df: DataFrame,
      preds: Seq[Column]): DataFrame = {
    val k = preds.size
    require(k >= 2 && k <= 9, s"cronbachAlpha needs 2..9 items, got $k")
    val dec = DecimalType(38, 0)
    val bits = preds.map(p =>
      when(coalesce(p, lit(false)), 1L).otherwise(0L))
    val r = bits.reduce(_ + _)
    val cAggs = bits.zipWithIndex.map { case (b, j) =>
      coalesce(sum(b), lit(0L)).as(s"__c$j") }
    val aggs = cAggs ++ Seq(
      count(lit(1)).as("__ni"),
      coalesce(sum(r), lit(0L)).as("__sr"),
      coalesce(sum(r * r), lit(0L)).as("__srr"))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val num = (0 until k)
      .map(j => col(s"__c$j").cast(dec) * (col("__ni") - col(s"__c$j")))
      .reduce(_ + _)
    val den = col("__ni").cast(dec) * col("__srr") -
      col("__sr").cast(dec) * col("__sr")
    val denD = den.cast(DoubleType)
    val alpha = lit(k.toDouble) / lit((k - 1).toDouble) *
      (lit(1.0) - num.cast(DoubleType) / denD)
    one.select(col("__ni").as("n"), lit(k.toLong).as("k_items"),
      when(denD > 0.0, round(alpha, 6))
        .otherwise(lit(null).cast(DoubleType)).as("alpha"))
  }

  /** McNemar's test on PAIRED binary judgments — did swapping gate A
    * for gate B change the pass/fail outcome on the same rows, or do
    * they only differ by noise? The marginal-homogeneity companion of
    * [[cohenKappa]] (kappa asks "do they agree"; McNemar asks "does
    * one pass systematically more"), and the right test when both
    * gates ran on the SAME documents: only the discordant cells
    * carry signal, so the usual two-proportion z on overlapping
    * samples would be wrong.
    *
    * χ² = (|b − c| − 1)² / (b + c) with the Edwards continuity
    * correction, b/c the discordant counts — exact integers from ONE
    * map-side-combined aggregate pass (NULL predicate = fail, the
    * [[graft.operators.Expectations]] discipline). The only doubles
    * are one division and the literal 3.841 verdict. NULL-gated when
    * b + c = 0 (no discordance — nothing to test).
    *
    * Returns one row: (n, both_pass, a_only, b_only, neither, chi2,
    * verdict ∈ {reject, keep, NULL}). */
  def mcnemar(
      df: DataFrame,
      aPred: Column,
      bPred: Column): DataFrame = {
    val a = coalesce(aPred, lit(false))
    val b = coalesce(bPred, lit(false))
    val one = df.agg(count(lit(1)).as("n"),
      coalesce(sum(when(a && b, 1L).otherwise(0L)), lit(0L))
        .as("both_pass"),
      coalesce(sum(when(a && !b, 1L).otherwise(0L)), lit(0L))
        .as("a_only"),
      coalesce(sum(when(!a && b, 1L).otherwise(0L)), lit(0L))
        .as("b_only"),
      coalesce(sum(when(!a && !b, 1L).otherwise(0L)), lit(0L))
        .as("neither"))
    val disc = col("a_only") + col("b_only")
    val diff = abs(col("a_only") - col("b_only"))
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    // (|b−c|−1)² clamps at 0 when the discordant counts differ by < 1
    val num = greatest(diff.cast(DoubleType) - 1.0, lit(0.0))
    val chi2 = when(disc > 0,
      round(num * num / safe(disc.cast(DoubleType)), 6))
      .otherwise(lit(null).cast(DoubleType))
    one.select(col("n"), col("both_pass"), col("a_only"), col("b_only"),
      col("neither"), chi2.as("chi2"),
      when(chi2.isNotNull,
        when(chi2 > 3.841, lit("reject")).otherwise(lit("keep")))
        .otherwise(lit(null).cast(StringType)).as("verdict"))
  }

  /** Cochran's Q test over k ≥ 2 PAIRED binary judgments on the same
    * rows — the k-gate generalization of [[mcnemar]] (and the binary
    * special case of Friedman's test): do the gates pass at the same
    * rate, or does at least one differ systematically? The omnibus
    * companion of [[fleissKappa]] on the same battery (kappa asks
    * "do they agree per row"; Q asks "do their marginal rates
    * match").
    *
    * Q = (k−1)·(k·ΣC_j² − N²) / (k·N − ΣR_i²) with C_j the per-gate
    * pass totals, R_i the per-row pass counts, N = ΣR. ONE
    * map-side-combined aggregate pass; every term is an exact
    * integer with the DECIMAL(38,0) cast BEFORE the squaring (N² at
    * 10¹⁴ rows wraps a Long), then one double division. NULL-gated
    * when the denominator is 0 (every row passes all-or-none of the
    * gates — no within-row discordance to test). Verdict against
    * the literal χ²(k−1) 5% critical value, df ≤ 8.
    *
    * Returns one row: (n_items, k_gates, q, verdict). */
  def cochranQ(
      df: DataFrame,
      preds: Seq[Column]): DataFrame = {
    val k = preds.size
    require(k >= 2 && k <= 9, s"cochranQ needs 2..9 gates, got $k")
    val dec = DecimalType(38, 0)
    val bits = preds.map(p =>
      when(coalesce(p, lit(false)), 1L).otherwise(0L))
    val r = bits.reduce(_ + _)
    val cAggs = bits.zipWithIndex.map { case (b, j) =>
      coalesce(sum(b), lit(0L)).as(s"__c$j") }
    val aggs = cAggs ++ Seq(
      count(lit(1)).as("__ni"),
      coalesce(sum(r), lit(0L)).as("__nn"),
      coalesce(sum(r * r), lit(0L)).as("__rr"))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val sumC2 = (0 until k)
      .map(j => col(s"__c$j").cast(dec) * col(s"__c$j"))
      .reduce(_ + _)
    val num = (lit(k.toLong - 1L).cast(dec) *
      (lit(k.toLong) * sumC2 -
        col("__nn").cast(dec) * col("__nn"))).cast(DoubleType)
    val den = (lit(k.toLong) * col("__nn") - col("__rr"))
      .cast(DoubleType)
    val q = when(den > 0.0, round(num / den, 6))
      .otherwise(lit(null).cast(DoubleType))
    val crit = k - 1 match {
      case 1 => 3.841; case 2 => 5.991; case 3 => 7.815
      case 4 => 9.488; case 5 => 11.070; case 6 => 12.592
      case 7 => 14.067; case _ => 15.507
    }
    one.select(col("__ni").as("n_items"),
      lit(k.toLong).as("k_gates"), q.as("q"),
      when(q.isNotNull,
        when(q > crit, lit("reject")).otherwise(lit("keep")))
        .otherwise(lit(null).cast(StringType)).as("verdict"))
  }

  /** Friedman test — the BLOCKED k-sample rank test: does any of k
    * treatments consistently rank higher WITHIN blocks (days,
    * cohorts), where [[kruskalWallis]] would let between-block
    * variation (weekday/weekend swings) drown the signal? The
    * k-level generalization the [[cochranQ]]/[[mcnemar]] pair gives
    * binary outcomes, for ordered values.
    *
    * χ²_F = 12/(n·k·(k+1))·ΣR_j² − 3n(k+1) over within-block average
    * ranks. Only COMPLETE blocks (all k treatments present) enter —
    * the classic design requirement, enforced by a per-block census,
    * with k from a 1-row pre-scan. Ranks average via the contiguous
    * (lo+hi) span per (block, value) — 2R_j accumulates as exact
    * DECIMAL(38,0), ΣR_j² = Σ(2R_j)²/4 folds into the double formula
    * (3·Σ(2R)²/(n·k·(k+1)) instead of 12·ΣR²/…), so the only doubles
    * are one literal-order expression. No tie-correction term
    * (conservative under ties, the textbook form). Windows partition
    * per block — never a global sort.
    *
    * Returns one row: (n_blocks, k_treatments, chi2, verdict) —
    * verdict vs the literal χ²(k−1) 5% critical value (k ≤ 9);
    * NULL-gated when no complete block exists. */
  def friedman(
      df: DataFrame,
      blockCol: String,
      treatCol: String,
      valueCol: String): DataFrame = {
    val base = df.select(col(blockCol).cast(StringType).as("__b"),
        col(treatCol).cast(StringType).as("__tr"),
        col(valueCol).cast(DoubleType).as("__x"))
      .filter(col("__b").isNotNull && col("__tr").isNotNull &&
        col("__x").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val k = base.select(countDistinct(col("__tr"))).collect()(0)
      .getLong(0)
    if (k < 2 || k > 9) {
      base.unpersist(false)
      require(k >= 2 && k <= 9,
        s"friedman needs 2..9 treatments, got $k")
    }
    val blocks = base.groupBy(col("__b"))
      .agg(count(lit(1)).as("__nb"),
        countDistinct(col("__tr")).as("__kb"))
      .filter(col("__nb") === k && col("__kb") === k)
      .select(col("__b"))
    val cb = base.join(blocks, Seq("__b"))
    val wR = Window.partitionBy(col("__b"))
      .orderBy(col("__x").asc, col("__tr").asc)
    val wV = Window.partitionBy(col("__b"), col("__x"))
    val dec = DecimalType(38, 0)
    val avg2 = cb.withColumn("__rk", row_number().over(wR))
      .withColumn("__r2",
        min(col("__rk")).over(wV) + max(col("__rk")).over(wV))
    val perT = avg2.groupBy(col("__tr"))
      .agg(coalesce(sum(col("__r2").cast(dec)), lit(0).cast(dec))
        .as("__R2t"), count(lit(1)).as("__n"))
    val one = perT.agg(
      max(col("__n")).as("__nblocks"),
      coalesce(sum(col("__R2t") * col("__R2t")), lit(0).cast(dec))
        .as("__S"))
    val nd = col("__nblocks").cast(DoubleType)
    val chiRaw = lit(3.0) * col("__S").cast(DoubleType) /
      (nd * lit(k.toDouble) * lit(k + 1.0)) -
      lit(3.0) * nd * lit(k + 1.0)
    val ok = col("__nblocks").isNotNull && col("__nblocks") > 0
    val chi = when(ok, round(chiRaw, 6))
      .otherwise(lit(null).cast(DoubleType))
    val crit = (k - 1) match {
      case 1 => 3.841; case 2 => 5.991; case 3 => 7.815
      case 4 => 9.488; case 5 => 11.070; case 6 => 12.592
      case 7 => 14.067; case _ => 15.507
    }
    val out = one.select(
      coalesce(col("__nblocks"), lit(0L)).as("n_blocks"),
      lit(k).as("k_treatments"), chi.as("chi2"),
      when(chi.isNotNull,
        when(chi > crit, lit("reject")).otherwise(lit("keep")))
        .otherwise(lit(null).cast(StringType)).as("verdict"))
      .localCheckpoint(true) // 1 row; free base afterwards
    base.unpersist(false)
    out
  }

  /** Jarque–Bera normality test over an integer-valued column: is
    * the distribution's shape consistent with a Gaussian, measured
    * by its sample skewness and excess kurtosis?
    * JB = n/6·(S² + K²/4) ~ χ²(2) — the moment-based screen that
    * says WHY a distribution fails (asymmetry vs tails), where
    * [[ksByGroup]] only says THAT it differs.
    *
    * Scale shape: ONE map-side-combined aggregate accumulates the
    * four raw power sums as exact DECIMAL(38,0) — per-row x² x³ x⁴
    * stay in Long because the input is require-bounded to
    * |x| ≤ 55 000 (x⁴ < 2⁶³; a one-row pre-scan enforces it loudly —
    * scale prices to integers OUTSIDE that bound before calling).
    * The central moments then derive from the exact sums in ONE
    * fixed double formula both engines replay literally (no pow():
    * m2^1.5 is m2·sqrt(m2)).
    *
    * Returns one row: (n, skewness, kurtosis_excess, jb, verdict);
    * metrics NULL when n < 2 or the variance is 0. */
  def jarqueBera(
      df: DataFrame,
      valueCol: Column): DataFrame = {
    val v = df.select(valueCol.cast(LongType).as("__x"))
      .filter(col("__x").isNotNull)
    val pre = v.agg(coalesce(max(abs(col("__x"))), lit(0L))).collect()(0)
    require(pre.getLong(0) <= 55000L,
      s"jarqueBera: max |value| ${pre.getLong(0)} exceeds the " +
        "exact-moment bound 55000 — rescale the input first")
    val dec = DecimalType(38, 0)
    val p = v.withColumn("__x2", col("__x") * col("__x"))
    val one = p.agg(
      count(lit(1)).as("__n"),
      coalesce(sum(col("__x").cast(dec)), lit(0).cast(dec)).as("__s1"),
      coalesce(sum(col("__x2").cast(dec)), lit(0).cast(dec)).as("__s2"),
      coalesce(sum((col("__x2") * col("__x")).cast(dec)),
        lit(0).cast(dec)).as("__s3"),
      coalesce(sum((col("__x2") * col("__x2")).cast(dec)),
        lit(0).cast(dec)).as("__s4"))
    val nD = col("__n").cast(DoubleType)
    def s(i: Int) = col(s"__s$i").cast(DoubleType)
    val mean = s(1) / nD
    val m2 = s(2) / nD - mean * mean
    val m3 = s(3) / nD - lit(3.0) * mean * (s(2) / nD) +
      lit(2.0) * mean * mean * mean
    val m4 = s(4) / nD - lit(4.0) * mean * (s(3) / nD) +
      lit(6.0) * (mean * mean) * (s(2) / nD) -
      lit(3.0) * (mean * mean) * (mean * mean)
    val skew = m3 / (m2 * sqrt(m2))
    val exk = m4 / (m2 * m2) - 3.0
    val jb = nD / 6.0 * (skew * skew + exk * exk / 4.0)
    val ok = col("__n") >= 2 && m2 > 0.0
    one.select(col("__n").as("n"),
      when(ok, round(skew, 6)).otherwise(lit(null).cast(DoubleType))
        .as("skewness"),
      when(ok, round(exk, 6)).otherwise(lit(null).cast(DoubleType))
        .as("kurtosis_excess"),
      when(ok, round(jb, 6)).otherwise(lit(null).cast(DoubleType))
        .as("jb"),
      when(ok, when(jb > 5.991, lit("reject")).otherwise(lit("keep")))
        .otherwise(lit(null).cast(StringType)).as("verdict"))
  }

  /** Miscoverage α of [[splitConformal]], in permille (90% intervals),
    * read by its oracle. */
  private[graft] val ConformalAlphaPermille = 100

  /** [[Sampling.idBucket]] seed of [[splitConformal]]'s calibration
    * split, read by its oracle. */
  private[graft] val ConformalSeed = 37

  /** Split-conformal prediction interval around an [[ols2]] plane
    * fit (Vovk et al.; the Lei et al. 2018 split-conformal recipe):
    * fit on a deterministic hash-half of the rows, take the
    * ⌈(n_c+1)(1−α)⌉-th smallest absolute calibration residual as the
    * interval half-width q, and audit empirical coverage of
    * |y − ŷ| ≤ q on the held-out half — distribution-free ~(1−α)
    * coverage with NO assumption on the regression's correctness.
    * The model-aware member of the interval family
    * ([[poissonBootstrap]] mean / [[medianCI]] median / this for
    * predictions).
    *
    * Scale shape: one pass fits the plane (ten exact moments); the
    * single order statistic q̂ comes from [[kthValue]]'s histogram
    * refinement — a few shuffle-free scans of the (persisted)
    * calibration half, never a full rank materialization or window
    * sort; then one broadcast-q scoring pass over the test half.
    * Determinism: the
    * split is the portable [[Sampling.idBucket]]; ŷ uses the EMITTED
    * 6-dp betas (the gate-replays-emitted-precision rule); the
    * conformal rank is pure integer arithmetic
    * (((n+1)·(1000−α‰) + 999) div 1000).
    *
    * Returns (n_calib, n_test, b0, b1, b2, q_alpha, coverage). */
  def splitConformal(
      df: DataFrame,
      idCol: Column,
      y: Column,
      x1: Column,
      x2: Column): DataFrame = {
    val dec = DecimalType(18, 4)
    // parallelized BEFORE the persist: a one-split scan would leave
    // the cache single-partition, making every downstream pass (fit
    // moments, kthValue refinement scans, the coverage pass) a
    // single-task job; all of them are exact-arithmetic folds, so the
    // widened partitioning cannot move a digit (no-op at scale)
    val base = Guards.parallelized(
      df.select(idCol.cast(LongType).as("__id"),
        y.cast(dec).as("__y"), x1.cast(dec).as("__x1"),
        x2.cast(dec).as("__x2"))
        .na.drop("any", Seq("__id", "__y", "__x1", "__x2"))
        .withColumn("__calib",
          Sampling.idBucket(col("__id"), ConformalSeed) <
            Sampling.Buckets / 2))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val calib = base.filter(col("__calib"))
    // the fit is a 1-row scalar consumed by every later pass — collect
    // it to driver literals once, or kthValue's refinement scans (and
    // the test-half scoring pass) would each re-run the OLS aggregate
    // through a lazy crossJoin
    val fitRow = ols2(calib, col("__y"), col("__x1"), col("__x2"))
      .select(col("n"), col("b0"), col("b1"), col("b2")).collect()(0)
    // ols2's n is count(*) over calib (base is already na-dropped),
    // so the calibration count rides the fit pass for free
    val nc = fitRow.getLong(0)
    require(nc >= 1, "conformal calibration half is empty")
    require(!fitRow.anyNull, "conformal: degenerate calibration fit")
    val (b0, b1, b2) =
      (fitRow.getDouble(1), fitRow.getDouble(2), fitRow.getDouble(3))
    def resid = abs(col("__y").cast(DoubleType) -
      (lit(b0) + lit(b1) * col("__x1").cast(DoubleType) +
        lit(b2) * col("__x2").cast(DoubleType)))
    // selection is tie-insensitive — no tie column needed
    val cres = calib.select(resid.as("__res"))
    // ⌈(n_c+1)(1−α)⌉ in pure integer arithmetic, clamped into 1..n_c
    val keep = 1000L - ConformalAlphaPermille
    val k = math.min(nc, math.max(1L, ((nc + 1) * keep + 999L) / 1000L))
    // one order statistic, not a full rank: histogram-refined select
    val qv = kthValue(cres, "__res", k)
    val out = base.filter(!col("__calib"))
      .agg(count(lit(1)).as("n_test"),
        round(sum(when(resid <= lit(qv), 1L).otherwise(0L))
          .cast(DoubleType) / count(lit(1)).cast(DoubleType), 6)
          .as("coverage"))
      .select(lit(nc).as("n_calib"), col("n_test"), lit(b0).as("b0"),
        lit(b1).as("b1"), lit(b2).as("b2"),
        round(lit(qv), 6).as("q_alpha"), col("coverage"))
      .localCheckpoint(true)
    base.unpersist(false)
    out
  }

  /** Gini coefficient of a non-negative value distribution — the
    * concentration gauge ("do 1% of customers carry 60% of
    * revenue?", "is the corpus dominated by a handful of sources?"):
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over the value-ascending
    * ranking. 0 = perfectly equal, →1 = one unit holds everything.
    *
    * Scale shape: one [[globalRankByValue]] two-phase distributed
    * rank (never a single-partition sort) + one aggregate of two
    * exact DECIMAL sums (rank·value products stay decimal — the
    * rank-weighted sum is exactly the kind of dot product a double
    * fold would scramble by partition order). Negative values are
    * rejected by filter (the index is undefined there).
    *
    * Returns one row: (n, total, gini); gini NULL when total = 0. */
  def giniCoefficient(
      df: DataFrame,
      valueCol: Column,
      tieCol: Column): DataFrame = {
    val dec = DecimalType(18, 4)
    val v = df.select(valueCol.cast(dec).as("__xd"), tieCol.as("__t"))
      .filter(col("__xd").isNotNull && col("__xd") >= 0)
      .withColumn("__x", col("__xd").cast(DoubleType))
    val (ranked, n) = globalRankByValue(v, "__x", "__t")
    require(n >= 1, "gini needs at least one non-negative value")
    val agg = ranked.agg(
      sum(col("__xd")).as("__s1"),
      sum(col("__rank") * col("__xd")).as("__s2"))
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    val s1 = col("__s1").cast(DoubleType)
    val s2 = col("__s2").cast(DoubleType)
    agg.select(lit(n).as("n"),
      round(s1, 4).as("total"),
      when(s1 > 0, round((lit(2.0) * s2 - lit((n + 1).toDouble) * s1) /
        safe(lit(n.toDouble) * s1), 6))
        .otherwise(lit(null).cast(DoubleType)).as("gini"))
  }

  /** Lorenz curve at decile resolution — [[giniCoefficient]]'s
    * companion that shows WHERE the concentration lives: for each
    * value-ascending decile of units, its share of the total and the
    * cumulative share up to it ("the bottom 50% of customers carry
    * 18% of revenue"). Shares are integer ppm (sum·10⁶ div total —
    * exact, no float division), the decile assignment is the integer
    * ⌊(rank−1)·10/n⌋+1 over the two-phase distributed rank, and the
    * cumulative runs over the 10-row control frame.
    *
    * Returns ≤ 10 rows: (decile, n_units, value_sum, share_ppm,
    * cum_share_ppm). */
  def lorenzDeciles(
      df: DataFrame,
      valueCol: Column,
      tieCol: Column): DataFrame = {
    val dec = DecimalType(18, 4)
    val v = df.select(valueCol.cast(dec).as("__xd"), tieCol.as("__t"))
      .filter(col("__xd").isNotNull && col("__xd") >= 0)
      .withColumn("__x", col("__xd").cast(DoubleType))
    val (ranked, n) = globalRankByValue(v, "__x", "__t")
    require(n >= 1, "lorenz needs at least one non-negative value")
    val byDec = ranked
      .withColumn("decile",
        expr(s"CAST((__rank - 1) * 10 div $n + 1 AS INT)"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_units"), sum(col("__xd")).as("__s"))
    // ≤ 10 rows: total + cumulative are control-plane windows;
    // scaled-decimal ppm keeps every share exact
    val wAll = Window.partitionBy(lit(1))
    val wCum = Guards.seriesWindow(col("decile").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ppm via EXACT scaled-integer division: DuckDB's `//` on
    // decimals routes through double math (off-by-one ppm), so both
    // engines divide integral 10⁴-scaled values (DECIMAL(38,0) here,
    // HUGEINT there) — truncation of exact rationals agrees
    Guards.boundedSeries(byDec, "lorenzDeciles")
      .withColumn("__tot", sum(col("__s")).over(wAll))
      .withColumn("__cum", sum(col("__s")).over(wCum))
      .select(col("decile"), col("n_units"),
        round(col("__s").cast(DoubleType), 4).as("value_sum"),
        expr("CAST((CAST(__s * 10000 AS DECIMAL(38,0)) * 1000000) div " +
          "CAST(__tot * 10000 AS DECIMAL(38,0)) AS BIGINT)")
          .as("share_ppm"),
        expr("CAST((CAST(__cum * 10000 AS DECIMAL(38,0)) * 1000000) div " +
          "CAST(__tot * 10000 AS DECIMAL(38,0)) AS BIGINT)")
          .as("cum_share_ppm"))
  }

  /** Decile lift / gains table of a ranking score against a binary
    * label — the model-eval view [[rocAuc]] compresses away: per
    * score-DESCENDING decile, the positive rate, the cumulative
    * capture ("the top 20% of docs by the cheap score hold 61% of
    * the gate passes"), and the lift over the base rate — the table
    * that decides where to CUT when the expensive stage has a budget.
    *
    * Scale shape: decile assignment via [[globalRankByValue]]'s
    * two-phase distributed rank on the NEGATED score (never a
    * single-partition ntile), one decile aggregate, then windows
    * over the ≤ 10-row control frame. Determinism: counts are exact
    * longs; capture is exact integer ppm (cum·10⁶ div total — the
    * [[lorenzDeciles]] discipline); rate and lift are fixed-form
    * double divisions rounded at 6 dp.
    *
    * Returns ≤ 10 rows: (decile, n_rows, n_pos, pos_rate,
    * cum_capture_ppm, lift); lift NULL when the corpus has no
    * positives. */
  def liftTable(
      df: DataFrame,
      scoreCol: Column,
      labelCol: Column,
      tieCol: Column): DataFrame = {
    val v = df.select((-scoreCol.cast(DoubleType)).as("__x"),
        when(coalesce(labelCol, lit(false)), 1L).otherwise(0L)
          .as("__p"), tieCol.as("__t"))
      .filter(col("__x").isNotNull)
    val (ranked, n) = globalRankByValue(v, "__x", "__t")
    require(n >= 1, "liftTable: empty input")
    val byDec = ranked
      .withColumn("decile",
        expr(s"CAST((__rank - 1) * 10 div $n + 1 AS INT)"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__p")).as("n_pos"))
    val wAll = Window.partitionBy(lit(1))
    val wCum = Guards.seriesWindow(col("decile").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def d(c: Column) = c.cast(DoubleType)
    Guards.boundedSeries(byDec, "liftTable")
      .withColumn("__totp", sum(col("n_pos")).over(wAll))
      .withColumn("__totn", sum(col("n_rows")).over(wAll))
      .withColumn("__cump", sum(col("n_pos")).over(wCum))
      .select(col("decile"), col("n_rows"), col("n_pos"),
        round(d(col("n_pos")) / d(col("n_rows")), 6).as("pos_rate"),
        when(col("__totp") > 0,
          expr("CAST((CAST(__cump AS DECIMAL(38,0)) * 1000000) div " +
            "CAST(__totp AS DECIMAL(38,0)) AS BIGINT)"))
          .as("cum_capture_ppm"),
        when(col("__totp") > 0,
          round((d(col("n_pos")) / d(col("n_rows"))) /
            (d(col("__totp")) / d(col("__totn"))), 6))
          .otherwise(lit(null).cast(DoubleType)).as("lift"))
  }

  /** Two-sample proportion z-test: is the success RATE different
    * between groups A and B? The pooled-variance normal test
    * z = (p̂_a − p̂_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)) — the conversion-
    * rate primitive next to [[welchT]] (means) and [[jackknifeRatio]]
    * (correlated ratios). ONE conditional-aggregate pass, four exact
    * integer accumulators, 1-row closed-form math in oracle-literal
    * order; degenerate cases (empty group, all-success/all-failure
    * pool) NULL-gate with total division arithmetic.
    *
    * Returns one row: (n_a, n_b, x_a, x_b, p_a, p_b, diff, z). */
  def propZTest(
      df: DataFrame,
      groupCol: String,
      success: Column,
      groupA: String,
      groupB: String): DataFrame = {
    val v = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(groupCol).cast(StringType).as("__g"),
        when(success, 1L).otherwise(0L).as("__s"))
    def side(g: String, tag: String) = Seq(
      sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"__n$tag"),
      sum(when(col("__g") === g, col("__s")).otherwise(0L))
        .as(s"__x$tag"))
    val aggs = side(groupA, "a") ++ side(groupB, "b")
    val one = v.agg(aggs.head, aggs.tail: _*)
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    def nD(t: String) = col(s"__n$t").cast(DoubleType)
    def xD(t: String) = col(s"__x$t").cast(DoubleType)
    def pOf(t: String) = xD(t) / safe(nD(t))
    val pool = (xD("a") + xD("b")) / safe(nD("a") + nD("b"))
    val se = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / safe(nD("a")) + lit(1.0) / safe(nD("b"))))
    val ok = col("__na") > 0 && col("__nb") > 0 &&
      pool > 0.0 && pool < 1.0
    one.select(
      col("__na").as("n_a"), col("__nb").as("n_b"),
      col("__xa").as("x_a"), col("__xb").as("x_b"),
      when(col("__na") > 0, round(pOf("a"), 6)).as("p_a"),
      when(col("__nb") > 0, round(pOf("b"), 6)).as("p_b"),
      when(col("__na") > 0 && col("__nb") > 0,
        round(pOf("a") - pOf("b"), 6)).as("diff"),
      when(ok, round((pOf("a") - pOf("b")) / safe(se), 6))
        .otherwise(lit(null).cast(DoubleType)).as("z"))
  }

  /** Delete-one buckets of [[jackknifeRatio]], read by its oracle. */
  private[graft] val JackknifeBuckets = 100

  /** [[Sampling.idBucket]] seed of [[jackknifeRatio]]'s unit
    * bucketing, read by its oracle. */
  private[graft] val JackknifeSeed = 41

  /** Delete-one-bucket jackknife for a RATIO metric Σnum/Σden — the
    * experimentation-stack standard error: a ratio of sums is not a
    * mean of anything, so the bootstrap-of-rows and the CLT-of-rows
    * are both wrong when units (orders, users) correlate their rows;
    * the bucket jackknife deletes one UNIT-hash bucket at a time and
    * reads the spread of the B leave-one-out ratios
    * (SE² = (B−1)/B · Σ(θᵢ − θ̄)²). Completes the uncertainty family
    * with the metric shape A/B dashboards actually report ("revenue
    * per unit", "clicks per session").
    *
    * Scale shape: ONE corpus pass to B exact per-bucket sum pairs
    * (map-side combined), localCheckpoint-materialized so every
    * downstream consumer reads the B-row control frame, then pure
    * closed-form math. Determinism: bucket assignment is the
    * portable [[Sampling.idBucket]] of the UNIT id (all rows of a
    * unit share a bucket); θᵢ are doubles from exact decimal
    * differences; both cross-bucket folds round to 12 dp and fix as
    * DECIMAL before summing.
    *
    * Returns one row: (n_buckets, num_sum, den_sum, ratio, se,
    * ci_lo, ci_hi) with a 1.96·SE normal interval. */
  def jackknifeRatio(
      df: DataFrame,
      unitCol: Column,
      numCol: Column,
      denCol: Column): DataFrame = {
    val dec = DecimalType(18, 4)
    val per = df.select(
        (Sampling.idBucket(unitCol, JackknifeSeed) % JackknifeBuckets)
          .as("__b"),
        numCol.cast(dec).as("__n"), denCol.cast(dec).as("__d"))
      .filter(col("__b").isNotNull && col("__n").isNotNull &&
        col("__d").isNotNull)
      .groupBy(col("__b"))
      .agg(sum(col("__n")).as("__bn"), sum(col("__d")).as("__bd"))
      .localCheckpoint(true) // ≤ JackknifeBuckets rows; one corpus pass
    // "__cnt", not "__B": column resolution is case-insensitive and
    // "__B" would collide with per's bucket column "__b"
    val tot = per.agg(sum(col("__bn")).as("__N"),
      sum(col("__bd")).as("__D"), count(lit(1)).as("__cnt"))
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    // A bucket holding ALL denominator mass (D − bd = 0) makes its
    // leave-one-out ratio θ = (N − bn)/0 garbage; unlike welchT's
    // NULL-gated safe(), that garbage would flow into tbar/se/ci
    // unseen (ADVICE r9). Exclude such buckets from the θ frame AND
    // NULL-gate se/ci when any exist, so a degenerate denominator
    // split fails visibly instead of skewing the interval.
    // materialized (≤ JackknifeBuckets rows): two consumers below, and
    // a lazy th would make the tbar agg + deviation agg a self-join of
    // the same lineage (conflicting-attribute resolution)
    val th = per.crossJoin(broadcast(tot))
      .filter((col("__D") - col("__bd")) =!= 0)
      .select(col("__N"), col("__D"), col("__cnt"),
        ((col("__N") - col("__bn")).cast(DoubleType) /
          safe((col("__D") - col("__bd")).cast(DoubleType))).as("__t"))
      .localCheckpoint(true)
    // control-plane: count of degenerate buckets (≤ JackknifeBuckets
    // rows)
    val nBad = per.crossJoin(broadcast(tot))
      .filter((col("__D") - col("__bd")) === 0).count()
    if (nBad > 0) {
      // degenerate split: the jackknife SE is undefined — emit the
      // point estimate with NULL se/ci (visible, not skewed)
      return tot.select(col("__cnt").as("n_buckets"),
        round(col("__N").cast(DoubleType), 4).as("num_sum"),
        round(col("__D").cast(DoubleType), 4).as("den_sum"),
        round(col("__N").cast(DoubleType) /
          safe(col("__D").cast(DoubleType)), 6).as("ratio"),
        lit(null).cast(DoubleType).as("se"),
        lit(null).cast(DoubleType).as("ci_lo"),
        lit(null).cast(DoubleType).as("ci_hi"))
    }
    val fold = DecimalType(28, 12)
    // 1-row control-plane collect — the exact double the oracle's
    // tbar column computes, used as a literal in the deviation fold
    val tbar = th.agg(
      (sum(Guards.fastRoundDec(col("__t"), 12, fold))
        .cast(DoubleType) /
        count(lit(1))).as("__tbar")).collect()(0).getDouble(0)
    val ss = th
      .agg(max(col("__N")).as("__N"), max(col("__D")).as("__D"),
        max(col("__cnt")).as("__cnt"),
        sum(Guards.fastRoundDec((col("__t") - lit(tbar)) *
          (col("__t") - lit(tbar)), 12, fold))
          .cast(DoubleType).as("__ss"))
    val nD = col("__N").cast(DoubleType)
    val dD = col("__D").cast(DoubleType)
    val bD = col("__cnt").cast(DoubleType)
    val se = sqrt((bD - 1.0) / bD * col("__ss"))
    ss.select(col("__cnt").as("n_buckets"),
      round(nD, 4).as("num_sum"), round(dD, 4).as("den_sum"),
      round(nD / safe(dD), 6).as("ratio"),
      round(se, 6).as("se"),
      round(nD / safe(dD) - lit(1.96) * se, 6).as("ci_lo"),
      round(nD / safe(dD) + lit(1.96) * se, 6).as("ci_hi"))
  }

  /** Distribution-free 95% confidence interval for the MEDIAN via
    * order statistics (the binomial/sign-test interval, normal
    * approximation): the true median lies between the ⌊(n − z√n)/2⌋-th
    * and ⌈(n + z√n)/2 + 1⌉-th order statistics with ~95% coverage,
    * for ANY distribution — no resampling, no variance estimate, no
    * distributional assumption. The [[poissonBootstrap]]'s sibling
    * for the robust center: two extra rank probes on a pass the
    * median already needs.
    *
    * Scale shape: one [[globalRankByValue]] two-phase distributed
    * rank; the interval ranks are driver-side integers (floor/ceil
    * of 1.96·√n — sqrt is IEEE-correctly-rounded in every engine, so
    * the oracle lands on the same ranks); the result is one row.
    *
    * Returns (n, median, ci_lo, ci_hi, rank_lo, rank_hi). */
  def medianCI(
      df: DataFrame,
      valueCol: Column,
      tieCol: Column): DataFrame = {
    val v = df.select(valueCol.cast(DoubleType).as("__x"),
        tieCol.as("__t"))
      .filter(col("__x").isNotNull)
    val (ranked, n) = globalRankByValue(v, "__x", "__t")
    require(n >= 2, s"medianCI needs >= 2 rows, got $n")
    val zn = 1.96 * math.sqrt(n.toDouble)
    val rLo = math.max(1L, math.floor((n - zn) / 2.0).toLong)
    val rHi = math.min(n, math.ceil((n + zn) / 2.0 + 1.0).toLong)
    val midLo = (n + 1) / 2
    val midHi = (n + 2) / 2
    ranked.agg(
      round((sum(when(col("__rank") === midLo, col("__x"))) +
        sum(when(col("__rank") === midHi, col("__x")))) / 2.0, 6)
        .as("median"),
      min(when(col("__rank") === rLo, col("__x"))).as("ci_lo"),
      min(when(col("__rank") === rHi, col("__x"))).as("ci_hi"))
      .select(lit(n).as("n"), col("median"), col("ci_lo"), col("ci_hi"),
        lit(rLo).as("rank_lo"), lit(rHi).as("rank_hi"))
  }

  /** Two-feature multiple linear regression (with intercept) by the
    * normal equations — the multivariate step up from
    * [[groupedTrend]]'s single-x OLS: y ≈ β₀ + β₁x₁ + β₂x₂, solved
    * in closed form by Cramer's rule on the 3×3 Gram system. The
    * standard "fit a plane, read the partial effects" primitive; at
    * corpus scale the entire fit is ONE map-side-combined pass
    * producing ten exact moment accumulators — no iterative solver,
    * no second scan, 1-row control-plane math after.
    *
    * Determinism: inputs fix as DECIMAL(18,4) (moment sums exact and
    * order-free); every determinant expands along the first row in
    * one literal formula shared with the oracle; divisions are total
    * (the welchT safe() discipline) and degenerate systems (singular
    * Gram, zero y-variance) NULL-gate their outputs.
    *
    * Returns one row: (n, b0, b1, b2, r2). */
  def ols2(
      df: DataFrame,
      y: Column,
      x1: Column,
      x2: Column): DataFrame = {
    val dec = DecimalType(18, 4)
    // parallelized: the ten exact-decimal moment folds are the whole
    // cost of this operator, and a single-split input (one-row-group
    // parquet) would run them on one task while 31 cores idle; the
    // widened partial aggregation is exact-decimal, so partitioning
    // cannot move a digit (no-op on an already-parallel scan)
    val d = Guards.parallelized(
      df.select(y.cast(dec).as("__y"), x1.cast(dec).as("__x1"),
        x2.cast(dec).as("__x2"))
        .na.drop("any", Seq("__y", "__x1", "__x2")))
    val one = d.agg(count(lit(1)).as("__n"),
      sum(col("__x1")).as("__s1"), sum(col("__x2")).as("__s2"),
      sum(col("__y")).as("__sy"),
      sum(col("__x1") * col("__x1")).as("__s11"),
      sum(col("__x1") * col("__x2")).as("__s12"),
      sum(col("__x2") * col("__x2")).as("__s22"),
      sum(col("__x1") * col("__y")).as("__s1y"),
      sum(col("__x2") * col("__y")).as("__s2y"),
      sum(col("__y") * col("__y")).as("__syy"))
    def D(c: String) = col(c).cast(DoubleType)
    val (n, s1, s2, sy) = (D("__n"), D("__s1"), D("__s2"), D("__sy"))
    val (s11, s12, s22) = (D("__s11"), D("__s12"), D("__s22"))
    val (s1y, s2y, syy) = (D("__s1y"), D("__s2y"), D("__syy"))
    // first-row cofactor expansion, literal order shared with the
    // oracle SQL
    def det3(m00: Column, m01: Column, m02: Column,
        m10: Column, m11: Column, m12: Column,
        m20: Column, m21: Column, m22: Column): Column =
      m00 * (m11 * m22 - m12 * m21) -
        m01 * (m10 * m22 - m12 * m20) +
        m02 * (m10 * m21 - m11 * m20)
    val det = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
    val det0 = det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)
    val det1 = det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22)
    val det2 = det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y)
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    val b0 = det0 / safe(det)
    val b1 = det1 / safe(det)
    val b2 = det2 / safe(det)
    val sse = syy - b0 * sy - b1 * s1y - b2 * s2y
    val sst = syy - sy * sy / safe(n)
    val okB = col("__n") > 2 && det =!= 0.0
    val okR = okB && sst > 0
    one.select(col("__n").as("n"),
      when(okB, round(b0, 6)).otherwise(lit(null).cast(DoubleType))
        .as("b0"),
      when(okB, round(b1, 6)).otherwise(lit(null).cast(DoubleType))
        .as("b1"),
      when(okB, round(b2, 6)).otherwise(lit(null).cast(DoubleType))
        .as("b2"),
      when(okR, round(lit(1.0) - sse / safe(sst), 6))
        .otherwise(lit(null).cast(DoubleType)).as("r2"))
  }

  /** Replicates of [[poissonBootstrapByGroup]] and the default of
    * [[poissonBootstrap]], read by the bootstrap oracles. */
  private[graft] val BootstrapReplicates = 200

  /** [[Sampling.idBucket]] seed of the Poisson(1) replicate weights,
    * read by the bootstrap oracles. */
  private[graft] val BootstrapSeed = 29

  /** Poisson-bootstrap 95% confidence interval for a mean — the
    * resampling scheme that works at 100 TB: a true bootstrap draws n
    * rows WITH replacement (a global shuffle per replicate, n·B rows
    * materialized); the Poisson approximation gives each row an
    * independent Poisson(1) multiplicity per replicate, which is a
    * pure per-row expression — no resample materialization, no
    * per-replicate pass (Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams", Google 2012).
    *
    * Scale shape: ONE corpus scan explodes each row into `b`
    * (replicate, weight) pairs; map-side partial aggregation collapses
    * every partition to ≤ b rows before the shuffle, so the exchange
    * carries b·partitions tiny rows no matter the corpus size. The
    * replicate-mean frame (b rows) is control-plane: the rank window
    * over it is single-partition BY CONSTRUCTION (bounded by b), the
    * order-statistic CI needs no interpolation, and the full-sample
    * mean is a second 2-column scan.
    *
    * Determinism: the Poisson draw inverts the integer
    * [[Sampling.idBucket]] of (id·b + replicate) against
    * floor(cdf·Buckets) literal thresholds — every engine draws the
    * SAME multiplicities; weighted sums fix values as DECIMAL(18,4)
    * (exact, order-free); the CI ranks are pure integer arithmetic
    * (ceil via (x + 39) div 40), never a double·count product.
    *
    * Returns one row: (n, mean, b_used, ci_lo, ci_hi). */
  def poissonBootstrap(
      df: DataFrame,
      idCol: Column,
      valueCol: Column,
      b: Int = BootstrapReplicates): DataFrame = {
    require(b >= 40, s"need >= 40 replicates for a 95% CI, got $b")
    require(b <= 10000, s"replicate fan-out is per-row: b=$b too large")
    val dec = DecimalType(18, 4)
    val base = df.select(idCol.cast(LongType).as("__id"),
        valueCol.cast(dec).as("__y"))
      .filter(col("__id").isNotNull && col("__y").isNotNull)
    val reps = base.select(col("__id"), col("__y"),
      explode(sequence(lit(0), lit(b - 1))).as("__i"))
    val bucket =
      Sampling.idBucket(col("__id") * b + col("__i"), BootstrapSeed)
    // Poisson(1) inverse CDF over the integer bucket; thresholds are
    // floor(cdf(k)·10^6) literals shared verbatim with the oracle
    val w = when(bucket < 367879L, 0L)
      .when(bucket < 735758L, 1L)
      .when(bucket < 919698L, 2L)
      .when(bucket < 981011L, 3L)
      .when(bucket < 996340L, 4L)
      .when(bucket < 999405L, 5L)
      .when(bucket < 999916L, 6L)
      .otherwise(7L)
    val means = reps.withColumn("__w", w)
      .groupBy(col("__i"))
      .agg(sum(col("__w")).as("__sw"),
        sum(col("__w") * col("__y")).as("__swy"))
      .filter(col("__sw") > 0)
      .select(col("__i"), (col("__swy").cast(DoubleType) /
        col("__sw").cast(DoubleType)).as("__m"))
    // b bounded rows: single-partition rank is the documented
    // control-plane pattern (ranks replicates, never data) — routed
    // through the sanctioned Guards pair like every other series
    // window (VERDICT r10 item 2)
    val ranked = Guards.boundedSeries(means, "poissonBootstrap replicates")
      .withColumn("__rk", row_number().over(
        Guards.seriesWindow(col("__m").asc, col("__i").asc)))
      .withColumn("__nb", count(lit(1)).over(Window.partitionBy(lit(1))))
    // integer ceil(nb·0.025) / ceil(nb·0.975) — `div`, not `/`
    // (Spark's `/` is double division even on longs)
    val kLo = expr("(__nb + 39) div 40")
    val kHi = expr("(39 * __nb + 39) div 40")
    val ci = ranked.agg(
      count(lit(1)).as("b_used"),
      min(when(col("__rk") === kLo, col("__m"))).as("__lo"),
      min(when(col("__rk") === kHi, col("__m"))).as("__hi"))
    val stat = base.agg(count(lit(1)).as("n"), sum(col("__y")).as("__sy"))
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    stat.crossJoin(broadcast(ci)) // 1-row control plane
      .select(col("n"),
        when(col("n") > 0, round(col("__sy").cast(DoubleType) /
          safe(col("n").cast(DoubleType)), 6)).as("mean"),
        col("b_used"),
        round(col("__lo"), 6).as("ci_lo"),
        round(col("__hi"), 6).as("ci_hi"))
  }

  /** Per-group [[poissonBootstrap]]: a 95% CI for each group's mean
    * from the SAME single replicate-exploded pass — the form a corpus
    * dashboard actually wants ("mean doc length per language, with
    * error bars"). The per-group replicate-mean frames are
    * |groups|·b bounded rows; the rank window partitions by group (a
    * group's b replicates in one partition — control-plane), and the
    * order-statistic ranks are the same pure-integer ceil forms.
    *
    * Returns one row per group: (groupCol, n, mean, b_used, ci_lo,
    * ci_hi). */
  def poissonBootstrapByGroup(
      df: DataFrame,
      groupCol: String,
      idCol: Column,
      valueCol: Column): DataFrame = {
    val dec = DecimalType(18, 4)
    val base = df.select(col(groupCol).cast(StringType).as("__g"),
        idCol.cast(LongType).as("__id"), valueCol.cast(dec).as("__y"))
      .filter(col("__g").isNotNull && col("__id").isNotNull &&
        col("__y").isNotNull)
    val reps = base.select(col("__g"), col("__id"), col("__y"),
      explode(sequence(lit(0), lit(BootstrapReplicates - 1))).as("__i"))
    val bucket = Sampling.idBucket(
      col("__id") * BootstrapReplicates + col("__i"), BootstrapSeed)
    val w = when(bucket < 367879L, 0L)
      .when(bucket < 735758L, 1L)
      .when(bucket < 919698L, 2L)
      .when(bucket < 981011L, 3L)
      .when(bucket < 996340L, 4L)
      .when(bucket < 999405L, 5L)
      .when(bucket < 999916L, 6L)
      .otherwise(7L)
    val means = reps.withColumn("__w", w)
      .groupBy(col("__g"), col("__i"))
      .agg(sum(col("__w")).as("__sw"),
        sum(col("__w") * col("__y")).as("__swy"))
      .filter(col("__sw") > 0)
      .select(col("__g"), col("__i"), (col("__swy").cast(DoubleType) /
        col("__sw").cast(DoubleType)).as("__m"))
    val ranked = means
      .withColumn("__rk", row_number().over(Window.partitionBy(col("__g"))
        .orderBy(col("__m").asc, col("__i").asc)))
      .withColumn("__nb", count(lit(1)).over(
        Window.partitionBy(col("__g"))))
    val kLo = expr("(__nb + 39) div 40")
    val kHi = expr("(39 * __nb + 39) div 40")
    val ci = ranked.groupBy(col("__g")).agg(
      count(lit(1)).as("b_used"),
      min(when(col("__rk") === kLo, col("__m"))).as("__lo"),
      min(when(col("__rk") === kHi, col("__m"))).as("__hi"))
    val stat = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("__sy"))
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    stat.join(ci, Seq("__g"))
      .select(col("__g").as(groupCol), col("n"),
        when(col("n") > 0, round(col("__sy").cast(DoubleType) /
          safe(col("n").cast(DoubleType)), 6)).as("mean"),
        col("b_used"),
        round(col("__lo"), 6).as("ci_lo"),
        round(col("__hi"), 6).as("ci_hi"))
  }

  /** Classical additive seasonal decomposition of a DAILY series:
    * rev = trend + seasonal + residual — trend is the centered 7-term
    * moving average (full windows only; the 3-day edges emit NULL
    * components), the seasonal index is the day-of-week mean of the
    * detrended series re-centered to sum ≈ 0, and the residual is
    * what's left: the decomposition behind every "is this drop real
    * or just a weekend?" dashboard, next to [[seasonalNaiveBacktest]]
    * (which scores forecasts) and [[madOutliers]] (which fences) —
    * this one EMITS the components.
    *
    * The series is per-period control-plane BY CONSTRUCTION (the
    * autocorrelation discipline): both windows order periods, the
    * seasonal frame is 7 rows. Determinism: the MA divides an exact
    * 7-term DECIMAL sum; each downstream component reuses the
    * 6-dp-EMITTED previous component (the gate-replays-emitted rule);
    * day-of-week means fold 9-dp-rounded values as DECIMAL.
    *
    * Returns one row per period: (orderCol, valueCol, dow, trend,
    * seasonal, resid) — dow in 1..7, Sunday = 1. */
  def seasonalDecompose(
      series: DataFrame,
      orderCol: String,
      valueCol: String): DataFrame = {
    val dec = DecimalType(18, 4)
    val wMa = Guards.seriesWindow(col(orderCol).asc).rowsBetween(-3, 3)
    val base = Guards.boundedSeries(series, "seasonalDecompose")
      .select(col(orderCol), col(valueCol).cast(dec).as("__v"))
      .withColumn("__n7", count(lit(1)).over(wMa))
      .withColumn("trend",
        when(col("__n7") === 7,
          round(sum(col("__v")).over(wMa).cast(DoubleType) / 7.0, 6)))
      .withColumn("dow", dayofweek(to_date(col(orderCol))))
      .withColumn("__det",
        col("__v").cast(DoubleType) - col("trend"))
    val dowMeans = base.filter(col("trend").isNotNull)
      .groupBy(col("dow"))
      .agg((sum(Guards.fastRoundDec(col("__det"), 9,
        DecimalType(28, 9)))
        .cast(DoubleType) / count(lit(1))).as("__raw"))
    val grand = dowMeans.agg(
      (sum(round(col("__raw"), 9).cast(DecimalType(28, 9)))
        .cast(DoubleType) / count(lit(1))).as("__g"))
    val seasonal = dowMeans.crossJoin(broadcast(grand))
      .select(col("dow"),
        round(col("__raw") - col("__g"), 6).as("seasonal"))
    // LEFT join: a day-of-week that never coincides with a full
    // 7-term MA window (series shorter than ~13 periods) has no
    // seasonal index — its periods must survive with NULL components,
    // not vanish, to honor the one-row-per-period contract (ADVICE r9)
    base.join(broadcast(seasonal), Seq("dow"), "left")
      .select(col(orderCol), col("__v").cast(DoubleType).as(valueCol),
        col("dow"), col("trend"),
        when(col("trend").isNotNull, col("seasonal")).as("seasonal"),
        when(col("trend").isNotNull,
          round(col("__det") - col("seasonal"), 6)).as("resid"))
  }

  /** Trailing exponentially-weighted moving average of an
    * ALREADY-AGGREGATED series: for each period, the dot product of
    * the last `k` values with weights (1/2)^j (j = 0 at the current
    * period), normalized by the weights actually present — the
    * smoother behind drift dashboards, with a FINITE window so the
    * value is a pure per-row expression (the classic recursive EWMA
    * needs a sequential scan; truncating at k = 10 leaves < 0.1% of
    * the mass and keeps the plan embarrassingly parallel).
    *
    * The series is per-period control-plane BY CONSTRUCTION (the
    * autocorrelation discipline) — the lag window orders periods,
    * never data. Determinism: the half-decay weights are exact binary
    * fractions, value·2⁻ʲ is an exponent shift (exact in IEEE), and
    * the numerator/denominator fold in fixed left-to-right lag order,
    * so both engines produce bit-identical doubles before the final
    * 6-dp round.
    *
    * Returns one row per period: (orderCol, valueCol, n_terms, ewma). */
  def ewmaTrailing(
      series: DataFrame,
      orderCol: String,
      valueCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 1 && k <= 30, s"k out of range: $k")
    val x = col(valueCol).cast(DoubleType)
    val w = Guards.seriesWindow(col(orderCol).asc)
    val lagged = Guards.boundedSeries(series, "ewmaTrailing").select(
      Seq(col(orderCol), col(valueCol)) ++
        (1 until k).map(j => lag(x, j).over(w).as(s"__x$j")): _*)
    def term(j: Int): Column = {
      val xj = if (j == 0) x else col(s"__x$j")
      when(xj.isNotNull, xj * lit(math.pow(0.5, j))).otherwise(lit(0.0))
    }
    def wgt(j: Int): Column = {
      val xj = if (j == 0) x else col(s"__x$j")
      when(xj.isNotNull, lit(math.pow(0.5, j))).otherwise(lit(0.0))
    }
    def cnt(j: Int): Column = {
      val xj = if (j == 0) x else col(s"__x$j")
      when(xj.isNotNull, 1).otherwise(0)
    }
    val num = (1 until k).foldLeft(term(0))((acc, j) => acc + term(j))
    val den = (1 until k).foldLeft(wgt(0))((acc, j) => acc + wgt(j))
    val nt = (1 until k).foldLeft(cnt(0))((acc, j) => acc + cnt(j))
    lagged.select(col(orderCol), col(valueCol),
      nt.as("n_terms"),
      when(den > 0, round(num / den, 6))
        .otherwise(lit(null).cast(DoubleType)).as("ewma"))
  }

  /** CUSUM level-shift locator over an ALREADY-AGGREGATED series:
    * S_i = Σ_{t≤i}(x_t − x̄); the period where |S_i| peaks is the
    * most likely changepoint, and the peak magnitude (vs. the series
    * scale) says whether there IS one — the classic offline
    * changepoint diagnostic for "did the corpus mix shift mid-crawl".
    *
    * Exact arithmetic throughout: multiplying S_i by n clears the
    * mean's division, so T_i = n·cum_i − i·total is integer-exact in
    * DECIMAL(38,4) and the argmax compares exact decimals (no
    * float-accumulation drift deciding the winner). Only the emitted
    * magnitude divides back to double. The series is per-period
    * control-plane (the autocorrelation discipline); the cumulative
    * window orders periods, never data.
    *
    * Returns one row: (change_at, n, s_max) — the peak period, the
    * series length, and max|S_i| rounded to 6 dp. */
  def cusumMaxShift(
      series: DataFrame,
      orderCol: String,
      valueCol: String): DataFrame = {
    val dec = DecimalType(38, 4)
    val x4 = col(valueCol).cast(DecimalType(18, 4))
    val w = Guards.seriesWindow(col(orderCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = Guards.boundedSeries(series, "cusumMaxShift")
      .select(col(orderCol), x4.as("__x"))
      .withColumn("__cum", sum(col("__x")).over(w).cast(dec))
      .withColumn("__i",
        row_number().over(Guards.seriesWindow(col(orderCol).asc)))
      .withColumn("__tot", sum(col("__x")).over(wAll).cast(dec))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__ti",
        col("__cum") * col("__n") - col("__tot") * col("__i"))
    cum.orderBy(abs(col("__ti")).desc, col(orderCol).asc).limit(1)
      .select(col(orderCol).as("change_at"), col("__n").as("n"),
        round(abs(col("__ti")).cast(DoubleType) /
          col("__n").cast(DoubleType), 6).as("s_max"))
  }

  /** Page–Hinkley sequential change detection over an
    * ALREADY-AGGREGATED period series (Page 1954; Hinkley 1971 — the
    * SEQUENTIAL drift alarm beside [[cusumMaxShift]]'s retrospective
    * single-change locator): m_t = Σᵢ≤t (x_i − x̄_i − δ) with x̄_i
    * the running mean, and the statistic PH_t = m_t − minⱼ≤t m_j
    * alarms when it exceeds λ — "has the level shifted UP since any
    * historical low-water mark", the monitor a daily-revenue or
    * daily-doc-count pipeline pages on.
    *
    * Scale shape: the [[cusumMaxShift]] control-frame discipline —
    * one distributed aggregate builds the period series upstream;
    * everything here is four windows over the days-bounded frame
    * ([[Guards.boundedSeries]] enforced). No driver recursion: the
    * running mean is a prefix-sum ratio, not carried state.
    *
    * Determinism: PURE 64-BIT INTEGER end to end — values fix at 4 dp
    * (x₄ = x·10⁴ as long), each deviation term fixes at 6 dp by
    * integer division (term₆ = (x₄·i − S₄ᵢ)·100 div i, truncation
    * toward zero in BOTH engines), and m/min/PH are integer window
    * folds. The only doubles are the final /10⁴ and /10⁶ emit
    * divisions. RANGE: |x₄·i·100| must fit a long — |x| ≤ ~10⁹ over
    * ~10⁴ periods; the period aggregate upstream owns that contract
    * (a corpus-scale caller aggregates to coarser periods first).
    *
    * δ and λ arrive in ppm of the value unit (`deltaPpm`,
    * `lambdaPpm`). Returns one row per period: (orderCol, x, m, ph,
    * alarm). */
  def pageHinkley(
      series: DataFrame,
      orderCol: String,
      valueCol: String,
      deltaPpm: Long = 0L,
      lambdaPpm: Long): DataFrame = {
    require(lambdaPpm > 0, s"lambdaPpm must be positive: $lambdaPpm")
    require(deltaPpm >= 0, s"deltaPpm must be non-negative: $deltaPpm")
    val wCum = Guards.seriesWindow(col(orderCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val src = Guards.boundedSeries(
      series.select(col(orderCol),
        (col(valueCol).cast(DecimalType(18, 4)) * 10000)
          .cast(LongType).as("__x4"))
        .filter(col(orderCol).isNotNull && col("__x4").isNotNull),
      "pageHinkley")
    src
      .withColumn("__i",
        row_number().over(Guards.seriesWindow(col(orderCol).asc)))
      .withColumn("__s4", sum(col("__x4")).over(wCum))
      .withColumn("__t6",
        expr(s"((__x4 * __i - __s4) * 100) div __i") - deltaPpm)
      .withColumn("__m6", sum(col("__t6")).over(wCum))
      .withColumn("__mn6", min(col("__m6")).over(wCum))
      .select(col(orderCol),
        (col("__x4").cast(DoubleType) / lit(1e4)).as("x"),
        (col("__m6").cast(DoubleType) / lit(1e6)).as("m"),
        ((col("__m6") - col("__mn6")).cast(DoubleType) / lit(1e6))
          .as("ph"),
        (col("__m6") - col("__mn6") > lambdaPpm).as("alarm"))
  }

  /** Hurst exponent by rescaled-range analysis (Hurst 1951; Mandelbrot
    * & Wallis 1969) over an ALREADY-AGGREGATED period series: for
    * each window size w the series splits into ⌊n/w⌋ full blocks,
    * each block scores R/S = (max−min cumulative deviation) / (its
    * population std), and H is the OLS slope of mean ln(R/S) on
    * ln w. H ≈ 0.5 = memoryless walk; H → 1 = long-range persistence
    * (trending regimes); H < 0.5 = mean reversion — whether
    * yesterday's anomaly predicts tomorrow's, the question ACF's
    * fixed lags can't answer about SCALING.
    *
    * Scale shape: the [[cusumMaxShift]] control-frame discipline —
    * windows and groupBys over the days-bounded frame × |windows|
    * copies ([[Guards.boundedSeries]] enforced); the per-(w, block)
    * windows are PARTITIONED (never a data-sized single partition).
    *
    * Determinism: R and S share the block scale, so R/S reduces to
    * EXACT INTEGERS under one sqrt — R·w·10⁴ = max−min of
    * (P₄ₜ·w − t·S₄) (pure longs) and (S·w·10⁴)² = w·Σx₄² − S₄²
    * (DECIMAL(38,0) squares, the [[cochranQ]] contract), giving
    * R/S = range / √num with both operands exact. Each ln rounds at
    * 9 dp and folds as DECIMAL (order-free); the per-w mean is one
    * IEEE division; the slope folds literal-coefficient products
    * (cᵢ interpolated from the SAME Scala doubles as the oracle)
    * rounded at 9 dp — no order-dependent double sum anywhere.
    * Blocks with zero range or zero variance are excluded (ln
    * undefined); H is NULL unless every window produced blocks.
    *
    * Returns one row per window: (w, n_blocks, ln_rs_mean, hurst —
    * the same fitted slope on every row). */
  def hurstRS(
      series: DataFrame,
      orderCol: String,
      valueCol: String,
      windows: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    require(windows.nonEmpty && windows.size >= 2 &&
      windows.distinct.size == windows.size &&
      windows.forall(w => w >= 2 && w <= 65536),
      s"bad window set: $windows")
    val dec = DecimalType(38, 0)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val src = Guards.boundedSeries(
      series.select(col(orderCol).as("__d"),
        (col(valueCol).cast(DecimalType(18, 4)) * 10000)
          .cast(LongType).as("__x4"))
        .filter(col("__d").isNotNull && col("__x4").isNotNull),
      "hurstRS")
      .withColumn("__i",
        row_number().over(Guards.seriesWindow(col("__d").asc)))
      .withColumn("__n", count(lit(1)).over(wAll))
    val e = src
      .withColumn("__w", explode(lit(windows.toArray)))
      .filter(expr("(__i - 1) div __w") < expr("__n div __w"))
      .withColumn("__blk", expr("(__i - 1) div __w"))
      .withColumn("__t", expr("(__i - 1) % __w + 1"))
    val wBlk = Window.partitionBy(col("__w"), col("__blk"))
    val wCumBlk = wBlk.orderBy(col("__i").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dev = e
      .withColumn("__p4", sum(col("__x4")).over(wCumBlk))
      .withColumn("__s4", sum(col("__x4")).over(
        wBlk.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("__dw", col("__p4") * col("__w") -
        col("__t") * col("__s4"))
    val blocks = dev.groupBy(col("__w"), col("__blk"))
      .agg((max(col("__dw")) - min(col("__dw"))).as("__rng"),
        (max(col("__s4").cast(dec) * col("__s4").cast(dec))).as("__sq"),
        coalesce(sum((col("__x4").cast(dec) * col("__x4").cast(dec))
          .cast(dec)), lit(0).cast(dec)).as("__xx"),
        max(col("__w")).as("__wv"))
      .withColumn("__num",
        (col("__wv").cast(dec) * col("__xx") - col("__sq")).cast(dec))
      .filter(col("__rng") > 0L && col("__num") > 0)
      .withColumn("__ln",
        round(log(col("__rng").cast(DoubleType) /
          sqrt(col("__num").cast(DoubleType))), 9)
          .cast(DecimalType(28, 9)))
    val perW = blocks.groupBy(col("__w").as("w"))
      .agg(count(lit(1)).as("n_blocks"),
        coalesce(sum(col("__ln")), lit(0).cast(DecimalType(28, 9)))
          .as("__lnsum"))
      .withColumn("ln_rs_mean", col("__lnsum").cast(DoubleType) /
        col("n_blocks").cast(DoubleType))
    // OLS slope via LITERAL coefficients: cᵢ = (ln wᵢ − mean)/den
    // depends only on the window set, so it interpolates from the
    // same Scala doubles into the oracle text
    val xs = windows.map(w => math.log(w.toDouble))
    val xbar = xs.sum / xs.size
    val den = xs.map(x => (x - xbar) * (x - xbar)).sum
    val coef = windows.zip(xs).foldLeft(lit(null).cast(DoubleType)) {
      case (acc, (w, x)) =>
        when(col("w") === w, lit((x - xbar) / den)).otherwise(acc)
    }
    perW
      .withColumn("__hterm",
        round(coef * col("ln_rs_mean"), 9).cast(DecimalType(28, 9)))
      .withColumn("__k", count(lit(1)).over(wAll))
      .withColumn("hurst",
        when(col("__k") === windows.size,
          sum(col("__hterm")).over(wAll).cast(DoubleType))
          .otherwise(lit(null).cast(DoubleType)))
      .select(col("w").cast(LongType).as("w"), col("n_blocks"),
        col("ln_rs_mean"), col("hurst"))
  }

  /** Isotonic (PAV) calibration of a cheap score against a binary
    * gate — THE standard monotone probability calibrator (Barlow et
    * al. 1972; Zadrozny & Elkan 2002): bin the score, then fit the
    * non-decreasing step function closest to the per-bin pass rates
    * in L², via the minimax identity ŷᵢ = max_{j≤i} min_{l≥i}
    * mean(j..l) — the closed form of pool-adjacent-violators. The
    * output is the lookup table that turns a raw heuristic score
    * into a calibrated pass probability; where [[liftTable]] ranks
    * and `q_quality_calibration` audits, this one CORRECTS.
    *
    * Scale shape: ONE map-side-combined aggregate to the ≤ nBins
    * cell frame; the minimax runs as two joins over that bounded
    * frame (≤ nBins² control-plane pairs, broadcast — nBins ≤ 64 by
    * contract). Corpus size only touches the first aggregate.
    *
    * Determinism: block means are single IEEE divisions of exact
    * long prefix sums (correctly rounded → engine-identical), and
    * min/max over identical double sets pick identical values; the
    * emitted rates round once at 6 dp. Empty bins are absent rows
    * (PAV runs over the occupied bins in order). */
  def isotonicCalibration(
      df: DataFrame,
      scoreCol: String,
      label: Column,
      lo: Double,
      hi: Double,
      nBins: Int): DataFrame = {
    require(nBins >= 2 && nBins <= 64, s"nBins out of range: $nBins")
    val cells = df
      .select(binExpr(scoreCol, lo, hi, nBins).as("bin"),
        when(coalesce(label, lit(false)), 1L).otherwise(0L).as("__y"))
      .filter(col("bin").isNotNull)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("__y")), lit(0L))
        .as("k"))
    isotonicFromCells(cells)
  }

  /** The PAV finish of [[isotonicCalibration]] over a PRE-AGGREGATED
    * (bin, n, k) cell frame — split out so the streaming twin's
    * drained per-bin keyed state feeds the IDENTICAL minimax
    * arithmetic (the psiFromBinCounts treatment): same exact-prefix-
    * long block means, same ≤ nBins² broadcast pair frame, same 6-dp
    * edge rounds. `cells` must be ≤ 64 occupied bins with integer n
    * (rows) and k (positives). */
  def isotonicFromCells(cells: DataFrame): DataFrame = {
    val wCum = Guards.seriesWindow(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val g = Guards.boundedSeries(cells, "isotonicCalibration bins",
        maxRows = 64)
      .withColumn("__i",
        row_number().over(Guards.seriesWindow(col("bin").asc)))
      .withColumn("__cn", sum(col("n")).over(wCum))
      .withColumn("__ck", sum(col("k")).over(wCum))
      .localCheckpoint(true) // ≤ 64 rows; three consumers below
    // block means over every (j, l) span — exact-prefix-long ratios
    val pairs = g.select(col("__i").as("__j"),
        (col("__cn") - col("n")).as("__cnp"),
        (col("__ck") - col("k")).as("__ckp"))
      .join(broadcast(g.select(col("__i").as("__l"),
        col("__cn").as("__cnl"), col("__ck").as("__ckl"))),
        col("__l") >= col("__j"))
      .select(col("__j"), col("__l"),
        ((col("__ckl") - col("__ckp")).cast(DoubleType) /
          (col("__cnl") - col("__cnp")).cast(DoubleType)).as("__mu"))
    val iso = g.select(col("__i"))
      .join(broadcast(pairs),
        col("__j") <= col("__i") && col("__l") >= col("__i"))
      .groupBy(col("__i"), col("__j")).agg(min(col("__mu")).as("__mn"))
      .groupBy(col("__i")).agg(max(col("__mn")).as("__iso"))
    g.join(broadcast(iso), Seq("__i"))
      .select(col("bin"), col("n").as("n_rows"), col("k").as("n_pos"),
        round(col("k").cast(DoubleType) / col("n").cast(DoubleType), 6)
          .as("rate"),
        round(col("__iso"), 6).as("iso_rate"))
  }

  /** Hill tail-index estimator over the top-k order statistics of a
    * positive magnitude (Hill 1975): α̂ = k / Σᵢ₌₁ᵏ(ln x₍ᵢ₎ −
    * ln x₍ₖ₊₁₎) — HOW heavy the upper tail is, the number behind
    * every "can one document blow the packing budget / does the mean
    * even exist" question (α ≤ 1: infinite mean; α ≤ 2: infinite
    * variance; the [[benfordDigits]]-adjacent shape diagnostic for
    * lengths and prices).
    *
    * Scale shape: one TakeOrderedAndProject top-(k+1) cut (per-
    * partition top-k + driver merge — no global sort), then
    * everything runs on the (k+1)-row control frame. Ties straddling
    * the k-boundary are value-deterministic: the top-k VALUE multiset
    * is unique even when the row pick is not.
    *
    * Determinism: each ln rounds to 6 dp and fixes as DECIMAL(18,6)
    * before the sum (the [[graft.operators.TextAnalysis.zipfFit]]
    * discipline); α̂ finishes in literal order on the 1-row frame.
    * Fewer than k+1 positive rows → EMPTY output (no tail to
    * estimate), α NULL when the tail is degenerate (all top values
    * equal).
    *
    * Returns one row: (k, x_min, alpha_inv, alpha). */
  def hillTailIndex(
      df: DataFrame,
      valueCol: String,
      k: Int = 100): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    val v = col(valueCol).cast(DoubleType)
    val top = df.filter(v.isNotNull && v > 0).select(v.as("__x"))
      .orderBy(col("__x").desc).limit(k + 1)
    val rk = Guards.boundedSeries(top, "hillTailIndex top order stats")
      .withColumn("__r", row_number().over(
        Guards.seriesWindow(col("__x").desc)))
    val dec = DecimalType(18, 6)
    val mn = rk.filter(col("__r") === k + 1)
      .select(col("__x").as("x_min"))
    val sl = rk.filter(col("__r") <= k)
      .agg(sum(Guards.fastRoundDec(log(col("__x")), 6, dec))
        .as("__sl"))
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    val kD = lit(k.toDouble)
    val aInv = (col("__sl").cast(DoubleType) -
      kD * round(log(col("x_min")), 6)) / kD
    mn.crossJoin(broadcast(sl)) // 1×1 control plane
      .select(lit(k.toLong).as("k"), col("x_min"),
        round(aInv, 6).as("alpha_inv"),
        when(aInv > 0.0, round(lit(1.0) / safe(aInv), 6))
          .otherwise(lit(null).cast(DoubleType)).as("alpha"))
  }

  /** Benford first-digit audit: the distribution of leading digits of
    * a positive magnitude column against Benford's law
    * p(d) = log₁₀(1 + 1/d) — the fraud/synthetic-data smell test for
    * price-like columns (organically-grown magnitudes follow it;
    * fabricated or truncated ones don't). The leading digit comes
    * from the INTEGER PART's string (values < 1 are filtered; floor →
    * long → first char), not log₁₀ floor-division — values sitting
    * exactly on powers of ten would otherwise flip digits on a
    * one-ulp log difference between engines, and a double's direct
    * string form goes scientific above 10⁷. One
    * map-side-combined 9-group aggregate; the expected probabilities
    * are 6-dp literals baked at plan build so both engines compare
    * against identical constants.
    *
    * Returns one row per digit: (digit, n, p_obs, p_benford, diff). */
  def benfordDigits(
      df: DataFrame,
      valueCol: String): DataFrame = {
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val counts = df
      .filter(col(valueCol).isNotNull && col(valueCol) >= 1)
      .select(substring(floor(col(valueCol)).cast(LongType)
        .cast(StringType), 1, 1).cast(IntegerType).as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
    val expect = benfordExpected.foldLeft(lit(null).cast(DoubleType)) {
      case (acc, (d, p)) => when(col("digit") === d, lit(p)).otherwise(acc)
    }
    counts
      .withColumn("__tot", sum(col("n")).over(wAll))
      .select(col("digit"), col("n"),
        round(col("n").cast(DoubleType) /
          col("__tot").cast(DoubleType), 6).as("p_obs"),
        expect.as("p_benford"))
      .withColumn("diff", round(col("p_obs") - col("p_benford"), 6))
  }

  /** log₁₀(1 + 1/d) for d = 1..9, rounded to 6 dp at build time —
    * shared with the oracle so both sides compare literal constants. */
  val benfordExpected: Seq[(Int, Double)] =
    (1 to 9).map(d => d ->
      BigDecimal(math.log10(1.0 + 1.0 / d))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)

  /** Cross-correlation function between two ALREADY-AGGREGATED series
    * sharing one period spine: r_k = Σ(x_t−x̄)(y_{t−k}−ȳ) /
    * √(Σ(x−x̄)²·Σ(y−ȳ)²) for k = −maxLag..maxLag — the lead/lag
    * diagnostic ("does y move before x, with x, or after x?") that
    * [[autocorrelation]] is the self-paired special case of. Negative
    * lags look FORWARD in y (lead), positive look back (lag); the
    * peak's sign of k says which series leads.
    *
    * Same discipline as [[autocorrelation]]: the input is per-period
    * control-plane BY CONSTRUCTION, both means ride the same window
    * pass as the lags (over ALL periods, not just pair-complete
    * ones), each centered product rounds to 2 dp and fixes as
    * DECIMAL before the sums, and the shared denominator multiplies
    * the two exact sums in double before one √.
    *
    * Returns one row per lag: (lag, n_terms, ccf). */
  def crossCorrelation(
      series: DataFrame,
      orderCol: String,
      xCol: String,
      yCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 0 && maxLag <= 64, s"maxLag out of range: $maxLag")
    val x = col(xCol).cast(DoubleType)
    val y = col(yCol).cast(DoubleType)
    def fix2(c: Column) = round(c, 2).cast(DecimalType(28, 2))
    val w = Guards.seriesWindow(col(orderCol).asc)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ks = (-maxLag to maxLag).toSeq
    def shifted(k: Int): Column =
      if (k == 0) y else if (k > 0) lag(y, k).over(w)
      else lead(y, -k).over(w)
    def cname(k: Int) = if (k < 0) s"__ym${-k}" else s"__yp$k"
    val lagged = Guards.boundedSeries(series, "crossCorrelation")
      .select(Seq(
        x.as("__x"), y.as("__y"),
      (sum(x.cast(DecimalType(18, 4))).over(wAll).cast(DoubleType) /
        count(lit(1)).over(wAll)).as("__mx"),
      (sum(y.cast(DecimalType(18, 4))).over(wAll).cast(DoubleType) /
        count(lit(1)).over(wAll)).as("__my")) ++
      ks.map(k => shifted(k).as(cname(k))): _*)
    val denx = sum(fix2((col("__x") - col("__mx")) *
      (col("__x") - col("__mx")))).cast(DoubleType)
    val deny = sum(fix2((col("__y") - col("__my")) *
      (col("__y") - col("__my")))).cast(DoubleType)
    val nums = ks.flatMap(k => Seq(
      sum(fix2((col("__x") - col("__mx")) *
        (col(cname(k)) - col("__my")))).cast(DoubleType)
        .as(s"__num${cname(k)}"),
      count(col(cname(k))).as(s"__cnt${cname(k)}")))
    val one = lagged.agg(denx.as("__dx"), (Seq(deny.as("__dy")) ++ nums): _*)
    val rows = ks.map(k =>
      struct(lit(k).as("lag"), col(s"__cnt${cname(k)}").as("n_terms"),
        when(col("__dx") > 0 && col("__dy") > 0,
          round(col(s"__num${cname(k)}") /
            sqrt(col("__dx") * col("__dy")), 6))
          .otherwise(lit(null).cast(DoubleType)).as("ccf")))
    one.select(explode(array(rows: _*)).as("__r"))
      .select(col("__r.lag").as("lag"), col("__r.n_terms").as("n_terms"),
        col("__r.ccf").as("ccf"))
  }

  /** Holt's linear-trend double exponential smoothing over an
    * ALREADY-AGGREGATED period series (Holt 1957/2004 reprint) — the
    * level+trend member of the smoothing family, between the ewma
    * moving smoother and [[seasonalNaiveBacktest]]'s accuracy bar:
    *
    *   l_t = α·y_t + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
    *
    * initialized l_1 = y_1, b_1 = 0. Emits one row per period:
    * (d, rev, level, trend, fcst) where fcst is the one-step-ahead
    * forecast the PREVIOUS state made for this period (l+b, NULL at
    * t = 1) — the backtest view a forecasting pipeline scores.
    *
    * Scale shape: ONE distributed aggregate builds the period series
    * upstream; the recursion is sequential BY NATURE, so it runs on
    * the driver over the collected series — a per-period control
    * frame that never grows with corpus size (dates, not rows; the
    * [[Guards.MaxSeriesRows]] ceiling is enforced loudly before the
    * collect). Identical cost at sf0.001 and 100 TB.
    *
    * Determinism: the recursion is EXACT DECIMAL end to end — the
    * smoothing constants are short decimals (α = 0.3 is exact, where
    * its double is not), period values fix at 4 dp, every product and
    * sum is exact decimal arithmetic, and each step's (level, trend,
    * fcst) sets scale 6 HALF_UP before entering the next step. No
    * float exists anywhere, so the trajectory replays bit for bit in
    * a recursive-CTE oracle with NO op-order constraint (exact
    * arithmetic is associative — the one discipline float recursions
    * can never offer). */
  def holtLinear(
      series: DataFrame,
      orderCol: String,
      valueCol: String,
      alpha: Double,
      beta: Double): DataFrame = {
    require(alpha > 0 && alpha < 1 && beta >= 0 && beta < 1,
      s"holtLinear: smoothing constants out of range ($alpha, $beta)")
    import java.math.{BigDecimal => JBD, RoundingMode}
    // valueOf goes through the shortest decimal form: 0.3d → exact 0.3
    val a = JBD.valueOf(alpha)
    val b1 = JBD.valueOf(beta)
    val ia = JBD.ONE.subtract(a)
    val ib = JBD.ONE.subtract(b1)
    def r6(x: JBD): JBD = x.setScale(6, RoundingMode.HALF_UP)
    val src = series.select(col(orderCol).cast(StringType).as("d"),
        col(valueCol).cast(DecimalType(18, 4)).as("y"))
      .filter(col("d").isNotNull && col("y").isNotNull)
    // the bound guard rides the ONE collect (limit bound+1 → a
    // TakeOrdered, never a full sort, and no separate counting scan):
    // bound+1 rows back means the series is over the ceiling
    val pts = src.orderBy(col("d").asc)
      .limit(Guards.MaxSeriesRows.toInt + 1).collect()
      .map(r => (r.getString(0), r.getDecimal(1)))
    require(pts.length >= 1, "holtLinear: empty series")
    require(pts.length <= Guards.MaxSeriesRows,
      s"holtLinear: the series exceeds the ${Guards.MaxSeriesRows}" +
        "-row control-plane bound — aggregate to coarser periods")
    // Emit boundary: the recursion is exact decimal INTERNALLY; the
    // OUTPUT is DOUBLE (the catalog emit convention — a decimal at
    // the boundary hash-mismatches the driver's typed gate, VERDICT
    // r12). Each fixed-scale decimal converts via its exact scaled
    // long and ONE IEEE division — bitwise replayable in the oracle's
    // `CAST(x · 10^s AS BIGINT) AS DOUBLE) / 10^s` tail.
    def d4(x: JBD): Double =
      x.movePointRight(4).longValueExact.toDouble / 1e4
    def d6(x: JBD): Double =
      x.movePointRight(6).longValueExact.toDouble / 1e6
    val out = Array.newBuilder[org.apache.spark.sql.Row]
    var l = r6(pts(0)._2)
    var b = r6(JBD.ZERO)
    out += org.apache.spark.sql.Row(
      pts(0)._1, d4(pts(0)._2), d6(l), d6(b), null)
    var i = 1
    while (i < pts.length) {
      val (d, y) = pts(i)
      val fcst = r6(l.add(b))
      val lNew = r6(a.multiply(y).add(ia.multiply(l.add(b))))
      val bNew = r6(b1.multiply(lNew.subtract(l)).add(ib.multiply(b)))
      out += org.apache.spark.sql.Row(d, d4(y), d6(lNew), d6(bNew),
        d6(fcst))
      l = lNew; b = bNew
      i += 1
    }
    val schema = StructType(Seq(
      StructField("d", StringType, nullable = false),
      StructField("rev", DoubleType, nullable = false),
      StructField("level", DoubleType, nullable = false),
      StructField("trend", DoubleType, nullable = false),
      StructField("fcst", DoubleType, nullable = true)))
    series.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(out.result(): _*)), schema)
  }

  /** Seasonal-naive forecast backtest over an ALREADY-AGGREGATED
    * series: forecast_t = x_{t−season}, scored with the standard
    * error suite — MAE, MAPE (over nonzero actuals), RMSE — the
    * one-row "is there exploitable seasonality" gate a forecasting
    * pipeline starts from (any model worth running must beat the
    * seasonal naive; this row is the bar).
    *
    * Control-plane series discipline as in [[autocorrelation]].
    * Determinism: each error term rounds and fixes as DECIMAL before
    * the sums (|e| at 4 dp, |e|/|x| at 9 dp, e² at 4 dp), so the
    * three accumulations are order-independent; the final divisions
    * and the one √ are fixed-form doubles.
    *
    * Returns one row: (n_forecasts, mae, mape, rmse). */
  def seasonalNaiveBacktest(
      series: DataFrame,
      orderCol: String,
      valueCol: String,
      season: Int): DataFrame = {
    require(season >= 1 && season <= 366, s"season out of range: $season")
    val x = col(valueCol).cast(DoubleType)
    val w = Guards.seriesWindow(col(orderCol).asc)
    val e = Guards.boundedSeries(series, "seasonalNaiveBacktest")
      .select(x.as("__x"), lag(x, season).over(w).as("__f"))
      .filter(col("__f").isNotNull)
      .withColumn("__e", col("__x") - col("__f"))
    e.agg(
      count(lit(1)).as("n_forecasts"),
      round(sum(Guards.fastRoundDec(abs(col("__e")), 4,
        DecimalType(28, 4)))
        .cast(DoubleType) / count(lit(1)), 6).as("mae"),
      round(sum(when(col("__x") =!= 0,
        round(abs(col("__e")) / abs(col("__x")), 9))
        .cast(DecimalType(28, 9))).cast(DoubleType) /
        sum(when(col("__x") =!= 0, 1L).otherwise(0L)), 6).as("mape"),
      round(sqrt(
        sum(Guards.fastRoundDec(col("__e") * col("__e"), 4,
          DecimalType(28, 4)))
          .cast(DoubleType) / count(lit(1))), 6).as("rmse"))
  }

  /** Theil–Sen robust trend of an ALREADY-AGGREGATED series: slope =
    * the MEDIAN of all pairwise slopes (y_j−y_i)/(j−i) over the
    * 1-based period index, intercept = the median of y_i − slope·i —
    * the breakdown-resistant alternative to [[groupedTrend]]'s OLS
    * (one outlier period drags a least-squares line; it takes ~29%
    * contamination to move this one).
    *
    * Scale shape: the series is per-period control-plane BY
    * CONSTRUCTION, but the pair set is P²/2 — generated as a
    * deliberate `crossJoin` of two tiny copies (bounded control-plane
    * nested loop, the PLANS.md pattern), then the slope median runs
    * through [[globalRankByValue]]'s two-phase prefix sum, NOT a
    * single-partition sort of P² rows. Determinism: slopes divide
    * 4-dp value differences by exact integer gaps (identical doubles
    * cross-engine), the median rank order is total via the (i,j)
    * pair encoding, and the two middle values average exactly
    * (a+b then one halving). The intercept pass reuses the 6-dp
    * EMITTED slope (the gate-replays-emitted-precision rule) and
    * rank-medians P rows.
    *
    * NaN contract: the series must be NaN-free. A NaN value makes its
    * pairwise slopes NaN, and the median selection skips NaN while
    * its ranks come from the full pair count, so one NaN would shift
    * the median silently; instead the operator counts NaN slopes in
    * the same scan as the pair count and fails with an
    * IllegalArgumentException naming that count ([[theilSenSampled]]
    * does the same). Filter or impute NaN values before the call. No
    * catalog caller can pass one: each feeds a per-day decimal
    * revenue sum.
    *
    * Returns one row: (n_periods, n_pairs, slope, intercept). */
  def theilSenTrend(
      series: DataFrame,
      orderCol: String,
      valueCol: String,
      maxPeriods: Long = MaxPeriods): DataFrame = {
    val w = Guards.seriesWindow(col(orderCol).asc)
    // Eager localCheckpoint, not persist-then-unpersist: the old
    // build-time unpersist released the cache BEFORE the caller's
    // action ran, so the exec-time plan recomputed the whole
    // scan→agg→global-sort chain once per reference (OPTIMIZATION_r16,
    // guide §5 cache discipline). The checkpointed spine is ≤
    // maxPeriods rows and serves every consumer, build and exec alike.
    val idx = Guards.boundedSeries(series, "trend series")
      .select(col(valueCol).cast(DoubleType).as("__y"),
        row_number().over(w).as("__i"))
      .localCheckpoint(true)
    val p = idx.count()
    // Contract guard (VERDICT r8 item 3 / ADVICE r8): the pair frame is
    // P²/2 — fine for the documented per-period (daily/hourly) series,
    // catastrophic for a raw per-minute one (1M periods → 5×10¹¹
    // pairs). The default cap of 10k periods bounds the crossJoin at
    // ~50M pairs; longer series need the sampled / repeated-median
    // Theil–Sen variant (Siegel 1982), not a bigger cap. p >= 2 also
    // guards the empty-slope-frame NPE inside globalRankByValue.
    require(p >= 2, s"theilSenTrend needs >= 2 periods, got $p")
    require(p <= maxPeriods,
      s"theilSenTrend: $p periods -> ${p * (p - 1) / 2} pairwise " +
        s"slopes exceeds the maxPeriods=$maxPeriods cap; aggregate " +
        "the series to coarser periods or raise the cap deliberately")
    // The checkpointed spine is ONE partition (global window), and a
    // BroadcastNestedLoopJoin streams the left side — without the
    // repartition every one of the P²/2 pair rows is produced and
    // filtered by a single task (guide §2: the pair spine was the
    // catalog's worst single-core straggler). Hash-repartitioning the
    // streamed side by __i is deterministic and spreads the per-point
    // pair generation across the cluster.
    val par = series.sparkSession.sparkContext.defaultParallelism
    val a = idx.repartition(par, col("__i"))
      .select(col("__i").as("__ia"), col("__y").as("__ya"))
    val b = idx.select(col("__i").as("__ib"), col("__y").as("__yb"))
    val slopes = a.crossJoin(b).filter(col("__ib") > col("__ia"))
      .select(
        ((col("__yb") - col("__ya")) /
          (col("__ib") - col("__ia")).cast(DoubleType)).as("__s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The slope median consumes exactly TWO adjacent order statistics,
    // so the full globalRankByValue pass it used to pay — whose
    // equal-width coarse bins concentrate the heavy-tailed slope
    // distribution into one range, making phase 2 a single-task sort
    // of all P²/2 rows — is replaced by [[kthValue]]'s histogram-
    // refined quickselect: scan-and-collect rounds over the persisted
    // pair frame, no shuffle, no sort (its own scaladoc prescribes
    // this exact swap). The k-th VALUE under the (value, tie) total
    // order is the k-th smallest value, so the median is unchanged.
    // count + NaN census in ONE scan (ADVICE r16: kthValue excludes
    // NaN before ranking, so a NaN slope would silently skew the
    // midLo/midHi ranks derived from the raw count — require NaN-free
    // input loudly at the operator boundary instead; slopes are NaN
    // only when the series itself carries NaN values)
    val cnt = slopes.agg(count(lit(1)).as("n"),
      coalesce(sum(when(isnan(col("__s")), 1L).otherwise(0L)),
        lit(0L)).as("nan")).collect()(0)
    val n = cnt.getLong(0)
    require(cnt.getLong(1) == 0L,
      s"theilSen: ${cnt.getLong(1)} NaN pairwise slopes — the input " +
        "series carries NaN values; clean or filter them first")
    val midLo = (n + 1) / 2
    val midHi = (n + 2) / 2
    // both middle ranks in ONE shared refinement sweep (VERDICT r16
    // item 3: two independent kthValue selections re-scanned the
    // persisted pair frame once per round EACH)
    val (vLo, vHi) = kthValuePair(slopes, "__s", midLo, midHi)
    slopes.unpersist(false)
    // the 6-dp round runs IN Catalyst on the same (a+b)/2 expression
    // the ranked median used — bit-identical emitted slope
    val med = series.sparkSession.range(1)
      .select(round((lit(vLo) + lit(vHi)) / 2.0, 6).as("slope"))
      .localCheckpoint(true)
    // residual frame = idx (≤ maxPeriods rows, require-guarded above)
    val wb = Guards.seriesWindow(col("__bv").asc, col("__i").asc)
    val pm = lit((p + 1) / 2)
    val ph = lit((p + 2) / 2)
    val resid = idx.crossJoin(broadcast(med))
      .withColumn("__bv", col("__y") - col("slope") * col("__i"))
      .withColumn("__rk", row_number().over(wb))
    resid.agg(
      max(col("slope")).as("slope"),
      round((sum(when(col("__rk") === pm, col("__bv"))) +
        sum(when(col("__rk") === ph, col("__bv")))) / 2.0, 6)
        .as("intercept"))
      .select(lit(p).as("n_periods"), lit(n).as("n_pairs"),
        col("slope"), col("intercept"))
  }

  /** [[Sampling.idBucket]] seed of the sampled partners of
    * [[theilSenSampled]] and [[siegelTrendSampled]], read by their
    * oracles. */
  private[graft] val TrendSampleSeed = 31

  /** SAMPLED Theil–Sen trend — the long-series escape hatch the
    * [[theilSenTrend]] maxPeriods guard points at: instead of all
    * P²/2 pairwise slopes, each point draws `pairsPerPoint`
    * deterministic hash-sampled partners ABOVE it (j = i + 1 +
    * bucket(i, r) mod (P − i)), so the pair frame is O(P·k) BY
    * CONSTRUCTION — the blow-up never materializes, unlike a filter
    * over the full crossJoin which would still evaluate P² candidate
    * rows. The randomized-Theil–Sen estimator (Matoušek 1991 shows
    * O(n log n) suffices for full accuracy; a fixed per-point budget
    * is the practical streaming-corpus form).
    *
    * Determinism: partner draws come from the portable
    * [[Sampling.idBucket]] family (replayable in the oracle),
    * duplicate draws collapse via DISTINCT, both medians run the
    * exact two-middle-average rank discipline of [[theilSenTrend]],
    * and the intercept reuses the 6-dp EMITTED slope.
    *
    * Returns one row: (n_periods, n_pairs, slope, intercept). */
  def theilSenSampled(
      series: DataFrame,
      orderCol: String,
      valueCol: String,
      pairsPerPoint: Int = 64): DataFrame = {
    require(pairsPerPoint >= 1 && pairsPerPoint <= 1024,
      s"pairsPerPoint out of range: $pairsPerPoint")
    val w = Guards.seriesWindow(col(orderCol).asc)
    // Eager localCheckpoint (see [[theilSenTrend]]): the spine is ≤
    // bounded-series rows and must survive into the caller's exec.
    val idx = Guards.boundedSeries(series, "trend series")
      .select(col(valueCol).cast(DoubleType).as("__y"),
        row_number().over(w).as("__i"))
      .localCheckpoint(true)
    val p = idx.count()
    require(p >= 2, s"theilSenSampled needs >= 2 periods, got $p")
    val k = pairsPerPoint
    val par = series.sparkSession.sparkContext.defaultParallelism
    val pairs = idx.repartition(par, col("__i")).filter(col("__i") < p)
      .select(col("__i").cast(LongType).as("__ia"), col("__y").as("__ya"),
        explode(sequence(lit(1), lit(k))).as("__r"))
      .withColumn("__j", col("__ia") + 1 +
        Sampling.idBucket(col("__ia") * k + col("__r"), TrendSampleSeed) %
          (lit(p) - col("__ia")))
      .select(col("__ia"), col("__ya"), col("__j"))
      .distinct()
    val slopes = pairs
      .join(idx.select(col("__i").cast(LongType).as("__j"),
        col("__y").as("__yb")), Seq("__j"))
      .select(((col("__yb") - col("__ya")) /
          (col("__j") - col("__ia")).cast(DoubleType)).as("__s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // two order statistics via [[kthValue]] instead of a full rank —
    // the [[theilSenTrend]] swap (same median, no shuffle/sort)
    // count + NaN census in ONE scan (ADVICE r16: kthValue excludes
    // NaN before ranking, so a NaN slope would silently skew the
    // midLo/midHi ranks derived from the raw count — require NaN-free
    // input loudly at the operator boundary instead; slopes are NaN
    // only when the series itself carries NaN values)
    val cnt = slopes.agg(count(lit(1)).as("n"),
      coalesce(sum(when(isnan(col("__s")), 1L).otherwise(0L)),
        lit(0L)).as("nan")).collect()(0)
    val n = cnt.getLong(0)
    require(cnt.getLong(1) == 0L,
      s"theilSen: ${cnt.getLong(1)} NaN pairwise slopes — the input " +
        "series carries NaN values; clean or filter them first")
    val midLo = (n + 1) / 2
    val midHi = (n + 2) / 2
    // both middle ranks in ONE shared refinement sweep (VERDICT r16
    // item 3: two independent kthValue selections re-scanned the
    // persisted pair frame once per round EACH)
    val (vLo, vHi) = kthValuePair(slopes, "__s", midLo, midHi)
    slopes.unpersist(false)
    val med = series.sparkSession.range(1)
      .select(round((lit(vLo) + lit(vHi)) / 2.0, 6).as("slope"))
      .localCheckpoint(true)
    // residual frame = idx (≤ maxPeriods rows, require-guarded above)
    val wb = Guards.seriesWindow(col("__bv").asc, col("__i").asc)
    val pm = lit((p + 1) / 2)
    val ph = lit((p + 2) / 2)
    val resid = idx.crossJoin(broadcast(med))
      .withColumn("__bv", col("__y") - col("slope") * col("__i"))
      .withColumn("__rk", row_number().over(wb))
    resid.agg(
      max(col("slope")).as("slope"),
      round((sum(when(col("__rk") === pm, col("__bv"))) +
        sum(when(col("__rk") === ph, col("__bv")))) / 2.0, 6)
        .as("intercept"))
      .select(lit(p).as("n_periods"), lit(n).as("n_pairs"),
        col("slope"), col("intercept"))
  }

  /** Siegel REPEATED-median trend (Siegel 1982): slope = the median
    * over points i of (the median over j≠i of the pairwise slopes
    * through i), intercept = the median of y_i − slope·i. The
    * higher-breakdown sibling of [[theilSenTrend]] — it survives ~50%
    * contaminated points vs Theil–Sen's ~29%, because a corrupted
    * point must first capture ITS OWN inner median before it can
    * touch the outer one. This is the "sampled / repeated-median
    * variant" the theilSenTrend scaladoc points long-series callers
    * to.
    *
    * Scale shape: the pair frame is P(P−1) rows (same deliberate
    * control-plane crossJoin contract, same `maxPeriods` guard); the
    * inner medians run as a PARTITIONED window (one partition per
    * point — parallel, never a global sort of the pair set), and the
    * outer median of the P per-point medians runs through
    * [[globalRankByValue]]'s two-phase prefix sum. Determinism:
    * slopes divide exact value differences by integer gaps (identical
    * IEEE doubles cross-engine), both median layers use total
    * (value, index) orders with exact two-middle averaging, and the
    * intercept reuses the 6-dp EMITTED slope (the
    * gate-replays-emitted-precision rule).
    *
    * NaN contract: the series must be NaN-free. Spark orders NaN above
    * every double, so a NaN slope would rank as +∞ in both median
    * layers and bias the slope upward (or make it NaN) silently;
    * instead the operator counts NaN values in the same scan as the
    * period count and fails with an IllegalArgumentException naming
    * that count ([[siegelTrendSampled]] does the same). Filter or
    * impute NaN values before the call. No catalog caller can pass
    * one: the one caller feeds a per-day decimal revenue sum.
    *
    * Returns one row: (n_periods, slope, intercept). */
  def siegelTrend(
      series: DataFrame,
      orderCol: String,
      valueCol: String,
      maxPeriods: Long = MaxPeriods): DataFrame = {
    val w = Guards.seriesWindow(col(orderCol).asc)
    // Eager localCheckpoint + streamed-side repartition + eager inner
    // medians (see [[theilSenTrend]]): the exact repeated-median was
    // the catalog's slowest query BECAUSE the old persist was released
    // at build time and the P(P−1) pair pipeline ran single-task and
    // was re-evaluated by each of globalRankByValue's two collects
    // plus the exec — ~3 single-core passes over the pair frame.
    val idx = Guards.boundedSeries(series, "trend series")
      .select(col(valueCol).cast(DoubleType).as("__y"),
        row_number().over(w).as("__i"))
      .localCheckpoint(true)
    val p = nanFreeCount(idx, "siegelTrend")
    require(p >= 2, s"siegelTrend needs >= 2 periods, got $p")
    require(p <= maxPeriods,
      s"siegelTrend: $p periods -> ${p * (p - 1)} pair slopes " +
        s"exceeds the maxPeriods=$maxPeriods cap; aggregate the " +
        "series to coarser periods or raise the cap deliberately")
    val par = series.sparkSession.sparkContext.defaultParallelism
    val a = idx.repartition(par, col("__i"))
      .select(col("__i").as("__ia"), col("__y").as("__ya"))
    val b = idx.select(col("__i").as("__ib"), col("__y").as("__yb"))
    val pairs = a.crossJoin(b).filter(col("__ib") =!= col("__ia"))
      .select(col("__ia").as("__i"), col("__ib").as("__j"),
        ((col("__yb") - col("__ya")) /
          (col("__ib") - col("__ia")).cast(DoubleType)).as("__s"))
    // inner median per point: every partition holds exactly P−1 rows,
    // so the middle ranks are compile-time constants. The per-point
    // median frame is P rows — eagerly checkpointed so the pair
    // blow-up is evaluated exactly ONCE (globalRankByValue's two
    // collects and the outer-median pass all read the P-row artifact).
    val wi = Window.partitionBy(col("__i"))
      .orderBy(col("__s").asc, col("__j").asc)
    val m1 = (p - 1 + 1) / 2
    val m2 = (p - 1 + 2) / 2
    val perI = pairs.withColumn("__rk", row_number().over(wi))
      .groupBy(col("__i"))
      .agg(((sum(when(col("__rk") === m1, col("__s"))) +
        sum(when(col("__rk") === m2, col("__s")))) / 2.0).as("__m"))
      .localCheckpoint(true)
    val (ranked, n) = globalRankByValue(perI, "__m", "__i")
    val g1 = (n + 1) / 2
    val g2 = (n + 2) / 2
    val med = ranked.agg(
      sum(when(col("__rank") === g1, col("__m"))).as("__a"),
      sum(when(col("__rank") === g2, col("__m"))).as("__b"))
      .select(round((col("__a") + col("__b")) / 2.0, 6).as("slope"))
      .localCheckpoint(true)
    // residual frame = idx (≤ maxPeriods rows, require-guarded above)
    val wb = Guards.seriesWindow(col("__bv").asc, col("__i").asc)
    val pm = lit((p + 1) / 2)
    val ph = lit((p + 2) / 2)
    val resid = idx.crossJoin(broadcast(med))
      .withColumn("__bv", col("__y") - col("slope") * col("__i"))
      .withColumn("__rk", row_number().over(wb))
    resid.agg(
      max(col("slope")).as("slope"),
      round((sum(when(col("__rk") === pm, col("__bv"))) +
        sum(when(col("__rk") === ph, col("__bv")))) / 2.0, 6)
        .as("intercept"))
      .select(lit(p).as("n_periods"), col("slope"), col("intercept"))
  }

  /** Row count of a checkpointed (`__y`, `__i`) trend spine, with a
    * NaN census in the same scan: a NaN value fails loudly, naming
    * the count, instead of ranking as +∞ in the median layers. */
  private def nanFreeCount(idx: DataFrame, op: String): Long = {
    val r = idx.agg(count(lit(1)),
      coalesce(sum(when(isnan(col("__y")), 1L).otherwise(0L)), lit(0L)))
      .collect()(0)
    require(r.getLong(1) == 0L,
      s"$op: ${r.getLong(1)} NaN values in the series; clean or filter " +
        "them first")
    r.getLong(0)
  }

  /** SAMPLED Siegel repeated-median trend — the long-series escape
    * hatch [[siegelTrend]]'s maxPeriods guard points at (the exact
    * form is the catalog's costliest trend; this one is O(P·k) BY
    * CONSTRUCTION): each point i draws `partnersPerPoint`
    * deterministic hash-sampled partners j ≠ i anywhere in the series
    * (off = 1 + bucket mod (P−1), j = ((i−1+off) mod P) + 1 — a
    * uniform draw over the other P−1 points, unlike the strictly-
    * upper theilSenSampled draw: Siegel's inner median is two-sided),
    * takes the inner median over the sampled slopes per point (a
    * PARTITIONED window — the partition is the ≤ k sampled partner
    * set), and the outer median of per-point medians through
    * [[globalRankByValue]]'s two-phase rank. Same portable
    * [[Sampling.idBucket]] draws, DISTINCT-collapsed duplicates,
    * exact two-middle medians, and the 6-dp-emitted-slope intercept.
    * NaN contract as in [[siegelTrend]].
    *
    * Returns one row: (n_periods, n_pairs, slope, intercept). */
  def siegelTrendSampled(
      series: DataFrame,
      orderCol: String,
      valueCol: String,
      partnersPerPoint: Int = 64): DataFrame = {
    require(partnersPerPoint >= 1 && partnersPerPoint <= 1024,
      s"partnersPerPoint out of range: $partnersPerPoint")
    val w = Guards.seriesWindow(col(orderCol).asc)
    // eager localCheckpoint + streamed-side repartition + eager
    // per-point medians — the [[siegelTrend]] discipline
    val idx = Guards.boundedSeries(series, "trend series")
      .select(col(valueCol).cast(DoubleType).as("__y"),
        row_number().over(w).as("__i"))
      .localCheckpoint(true)
    val p = nanFreeCount(idx, "siegelTrendSampled")
    require(p >= 2, s"siegelTrendSampled needs >= 2 periods, got $p")
    val k = partnersPerPoint
    val par = series.sparkSession.sparkContext.defaultParallelism
    val pairs = idx.repartition(par, col("__i"))
      .select(col("__i").cast(LongType).as("__ia"),
        col("__y").as("__ya"),
        explode(sequence(lit(1), lit(k))).as("__r"))
      .withColumn("__j",
        (col("__ia") - 1 + 1 +
          Sampling.idBucket(col("__ia") * k + col("__r"),
            TrendSampleSeed) % lit(p - 1)) % lit(p) + 1)
      .select(col("__ia"), col("__ya"), col("__j"))
      .distinct()
    val slopes = pairs
      .join(idx.select(col("__i").cast(LongType).as("__j"),
        col("__y").as("__yb")), Seq("__j"))
      .select(col("__ia"), col("__j"),
        ((col("__yb") - col("__ya")) /
          (col("__j") - col("__ia")).cast(DoubleType)).as("__s"))
    // inner median per point over its VARIABLE-size sampled partner
    // set: ranks against the per-partition count (integer div)
    val wi = Window.partitionBy(col("__ia"))
      .orderBy(col("__s").asc, col("__j").asc)
    val wc = Window.partitionBy(col("__ia"))
    val perI = slopes
      .withColumn("__rk", row_number().over(wi))
      .withColumn("__c", count(lit(1)).over(wc))
      .groupBy(col("__ia"))
      .agg(((sum(when(col("__rk") === expr("(__c + 1) div 2"),
        col("__s"))) +
        sum(when(col("__rk") === expr("(__c + 2) div 2"),
          col("__s")))) / 2.0).as("__m"),
        count(lit(1)).as("__cn"))
      .localCheckpoint(true) // P rows; pair blow-up evaluated once
    val (ranked, n) = globalRankByValue(perI, "__m", "__ia")
    val g1 = (n + 1) / 2
    val g2 = (n + 2) / 2
    val med = ranked.agg(
      sum(when(col("__rank") === g1, col("__m"))).as("__a"),
      sum(when(col("__rank") === g2, col("__m"))).as("__b"),
      sum(col("__cn")).as("__np"))
      .select(round((col("__a") + col("__b")) / 2.0, 6).as("slope"),
        col("__np"))
      .localCheckpoint(true)
    val wb = Guards.seriesWindow(col("__bv").asc, col("__i").asc)
    val pm = lit((p + 1) / 2)
    val ph = lit((p + 2) / 2)
    val resid = idx.crossJoin(broadcast(med))
      .withColumn("__bv", col("__y") - col("slope") * col("__i"))
      .withColumn("__rk", row_number().over(wb))
    resid.agg(
      max(col("slope")).as("slope"),
      max(col("__np")).as("n_pairs"),
      round((sum(when(col("__rk") === pm, col("__bv"))) +
        sum(when(col("__rk") === ph, col("__bv")))) / 2.0, 6)
        .as("intercept"))
      .select(lit(p).as("n_periods"), col("n_pairs"),
        col("slope"), col("intercept"))
  }

  /** Mann–Kendall trend TEST over an ALREADY-AGGREGATED period
    * series: S = Σ_{i<j} sign(x_j − x_i) with the tie-corrected
    * variance Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)] / 18
    * and the continuity-corrected Z — the non-parametric "is there a
    * monotone trend AT ALL" significance test that belongs next to
    * [[theilSenTrend]] (which estimates the slope; this one says
    * whether to believe it). No distributional assumption, immune to
    * monotone transforms of the values.
    *
    * Determinism: S and both variance terms are EXACT 64-bit
    * integers (signs from exact DECIMAL comparisons; the n³-scale
    * products stay far under Long range for the maxPeriods-capped
    * series); the only doubles are the final /18, the IEEE sqrt, and
    * the Z division — identical in every engine. The verdict
    * compares |Z| to the literal 1.96.
    *
    * Scale shape: the [[theilSenTrend]] contract — a P²/2 pair frame
    * from a deliberate control-plane crossJoin, maxPeriods-guarded;
    * the tie census is one value-keyed aggregate.
    *
    * Returns one row: (n_periods, s_stat, var_s, z, trend ∈
    * {increasing, decreasing, none}). */
  def mannKendall(
      series: DataFrame,
      orderCol: String,
      valueCol: String): DataFrame = {
    val w = Guards.seriesWindow(col(orderCol).asc)
    val idx = Guards.boundedSeries(series, "mannKendall series")
      .select(col(valueCol).cast(DecimalType(18, 4)).as("__y"),
        row_number().over(w).as("__i"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val p = idx.count()
    if (p < 2 || p > MaxPeriods) {
      idx.unpersist(false)
      require(p >= 2, s"mannKendall needs >= 2 periods, got $p")
      require(p <= MaxPeriods,
        s"mannKendall: $p periods exceeds maxPeriods=$MaxPeriods; " +
          "aggregate to coarser periods")
    }
    // streamed-side repartition: spread the single-partition spine's
    // P²/2 pair generation across the cluster (the [[theilSenTrend]]
    // fix — a BroadcastNestedLoopJoin inherits the streamed side's
    // one post-window partition otherwise)
    val par = series.sparkSession.sparkContext.defaultParallelism
    val a = idx.repartition(par, col("__i"))
      .select(col("__i").as("__ia"), col("__y").as("__ya"))
    val b = idx.select(col("__i").as("__ib"), col("__y").as("__yb"))
    val sAgg = a.crossJoin(b).filter(col("__ib") > col("__ia"))
      .agg(sum(when(col("__yb") > col("__ya"), 1L)
        .when(col("__yb") < col("__ya"), -1L)
        .otherwise(0L)).as("s_stat"))
    // tie census: Σ t(t−1)(2t+5) over equal-value groups
    val ties = idx.groupBy(col("__y"))
      .agg(count(lit(1)).as("__t"))
      .agg(coalesce(sum(col("__t") * (col("__t") - 1) *
        (lit(2L) * col("__t") + 5)), lit(0L)).as("__tt"))
    val n = lit(p)
    val out = sAgg.crossJoin(broadcast(ties))
      .select(lit(p).as("n_periods"), col("s_stat"),
        round((n * (n - 1) * (lit(2L) * n + 5) - col("__tt"))
          .cast(DoubleType) / lit(18.0), 6).as("var_s"))
      .withColumn("z",
        when(col("var_s") > 0.0,
          round(when(col("s_stat") > 0,
            (col("s_stat") - 1).cast(DoubleType))
            .when(col("s_stat") < 0,
              (col("s_stat") + 1).cast(DoubleType))
            .otherwise(lit(0.0)) /
            when(col("var_s") > 0.0, sqrt(col("var_s")))
              .otherwise(lit(1.0)), 6))
          .otherwise(lit(0.0)))
      .withColumn("trend",
        when(col("z") > 1.96, lit("increasing"))
          .when(col("z") < -1.96, lit("decreasing"))
          .otherwise(lit("none")))
      .localCheckpoint(true) // 1 row; free idx afterwards
    idx.unpersist(false)
    out
  }

  /** Knee (elbow) of a bounded monotone curve by max distance to the
    * endpoint chord (the Kneedle idea, Satopää et al. 2011, reduced
    * to its exact core): for integer points (x, y), the knee is the
    * argmax of |(yₙ−y₁)(xᵢ−x₁) − (xₙ−x₁)(yᵢ−y₁)| — the unnormalized
    * point-to-chord distance — with ties broken toward smaller x.
    * The auto-picker for threshold sweeps: past the knee of a
    * cumulative near-dup-pair curve the pair count explodes into
    * template noise, below it real duplicates thin out; the knee is
    * where a human eyeballing the plot would put the cut.
    *
    * Determinism: ENTIRELY 64-bit integer arithmetic (inputs are
    * counts and scaled buckets; the cross products stay far under
    * Long range for any curve the bound admits) — no doubles at all.
    * The frame is control-plane by contract ([[Guards.boundedSeries]]).
    *
    * Returns one row: (knee_x, knee_y, score, x_lo, x_hi). */
  def kneePoint(
      df: DataFrame,
      xCol: Column,
      yCol: Column): DataFrame = {
    val lt = LongType
    val pts = Guards.boundedSeries(
      df.select(xCol.cast(lt).as("__x"), yCol.cast(lt).as("__y"))
        .filter(col("__x").isNotNull && col("__y").isNotNull),
      "kneePoint curve")
    val ends = pts.agg(min(col("__x")).as("__x1"),
      max(col("__x")).as("__xn"))
    val withEnds = pts.crossJoin(broadcast(ends))
    val y1 = withEnds.agg(
      sum(when(col("__x") === col("__x1"), col("__y"))).as("__y1"),
      sum(when(col("__x") === col("__xn"), col("__y"))).as("__yn"))
    pts.crossJoin(broadcast(ends)).crossJoin(broadcast(y1))
      .select(col("__x"), col("__y"), col("__x1"), col("__xn"),
        abs((col("__yn") - col("__y1")) * (col("__x") - col("__x1")) -
          (col("__xn") - col("__x1")) * (col("__y") - col("__y1")))
          .as("__score"))
      .orderBy(col("__score").desc, col("__x").asc)
      .limit(1)
      .select(col("__x").as("knee_x"), col("__y").as("knee_y"),
        col("__score").as("score"), col("__x1").as("x_lo"),
        col("__xn").as("x_hi"))
  }

  /** Per-GROUP Mann–Kendall — the significance verdict to pair with
    * [[theilSenByGroup]]'s slopes on a corpus-health dashboard: for
    * every group, S = Σ sign-concordance over that group's own
    * period pairs, the tie-corrected variance, and the continuity-
    * corrected Z against the literal 1.96. Same contract as the
    * global [[mannKendall]] (exact integer S / variance terms; the
    * only doubles are /18, one IEEE sqrt, the Z division), same
    * group-parallel shape as [[theilSenByGroup]]: every window
    * partitions by the group keys and the P²/2 pair frame comes from
    * a group-keyed self-join, so groups rank and pair in parallel.
    *
    * Guard: the LARGEST group's period count is capped at
    * [[MaxPeriods]] (one control-plane collect); a single-period group
    * has no pairs and is absent from the output.
    *
    * Returns one row per group with ≥ 2 periods: (groupCols...,
    * n_periods, s_stat, var_s, z, trend). */
  def mannKendallByGroup(
      series: DataFrame,
      groupCols: Seq[String],
      orderCol: String,
      valueCol: String): DataFrame = {
    val grp = groupCols.map(col)
    val wIdx = Window.partitionBy(grp: _*).orderBy(col(orderCol).asc)
    val idx = series
      .select(grp ++ Seq(col(valueCol).cast(DecimalType(18, 4))
        .as("__y"), row_number().over(wIdx).as("__i")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pmax = idx.groupBy(grp: _*).agg(count(lit(1)).as("__p"))
      .agg(coalesce(max(col("__p")), lit(0L))).collect()(0).getLong(0)
    if (pmax > MaxPeriods) {
      idx.unpersist(false)
      require(pmax <= MaxPeriods,
        s"mannKendallByGroup: largest group has $pmax periods -> " +
          s"${pmax * (pmax - 1) / 2} pairs exceeds the " +
          s"maxPeriods=$MaxPeriods cap; aggregate to coarser periods")
    }
    val a = idx.select(grp ++ Seq(col("__i").as("__ia"),
      col("__y").as("__ya")): _*)
    val b = idx.select(grp ++ Seq(col("__i").as("__ib"),
      col("__y").as("__yb")): _*)
    val sAgg = a.join(b, groupCols)
      .filter(col("__ib") > col("__ia"))
      .groupBy(grp: _*)
      .agg(sum(when(col("__yb") > col("__ya"), 1L)
        .when(col("__yb") < col("__ya"), -1L)
        .otherwise(0L)).as("s_stat"))
    val counts = idx.groupBy(grp: _*).agg(count(lit(1)).as("n_periods"))
    val ties = idx.groupBy(grp ++ Seq(col("__y")): _*)
      .agg(count(lit(1)).as("__t"))
      .groupBy(grp: _*)
      .agg(coalesce(sum(col("__t") * (col("__t") - 1) *
        (lit(2L) * col("__t") + 5)), lit(0L)).as("__tt"))
    val n = col("n_periods")
    val out = sAgg.join(counts, groupCols).join(ties, groupCols)
      .withColumn("var_s",
        round((n * (n - 1) * (lit(2L) * n + 5) - col("__tt"))
          .cast(DoubleType) / lit(18.0), 6))
      .withColumn("z",
        when(col("var_s") > 0.0,
          round(when(col("s_stat") > 0,
            (col("s_stat") - 1).cast(DoubleType))
            .when(col("s_stat") < 0,
              (col("s_stat") + 1).cast(DoubleType))
            .otherwise(lit(0.0)) /
            when(col("var_s") > 0.0, sqrt(col("var_s")))
              .otherwise(lit(1.0)), 6))
          .otherwise(lit(0.0)))
      .withColumn("trend",
        when(col("z") > 1.96, lit("increasing"))
          .when(col("z") < -1.96, lit("decreasing"))
          .otherwise(lit("none")))
      .select(grp ++ Seq(col("n_periods"), col("s_stat"), col("var_s"),
        col("z"), col("trend")): _*)
      .localCheckpoint(true) // |groups| rows; free idx afterwards
    idx.unpersist(false)
    out
  }

  /** Per-GROUP Theil–Sen trend — the corpus-health-dashboard form of
    * [[theilSenTrend]] (VERDICT r9 stretch 8): one robust slope +
    * intercept per group over that group's own period series. CHEAPER
    * per group than the global operator: every window partitions by
    * the group keys (index assignment, slope-median rank, residual-
    * median rank — all parallel across groups, nothing single-
    * partition), and the pair blow-up is per-group P²/2 via a
    * group-keyed self-join, not a global crossJoin.
    *
    * Guard: the LARGEST group's period count is capped at
    * [[MaxPeriods]] (one control-plane collect over the per-group
    * counts); longer series need the sampled variant, not a bigger
    * cap. A group with a single period has no pairs and is absent
    * from the output.
    *
    * Determinism: the slope-median order is (slope, ia, ib) — total;
    * the residual median reuses the 6-dp EMITTED slope (the
    * gate-replays-emitted rule); even-count medians are the IEEE
    * (a + b) / 2 midpoint in both engines.
    *
    * Returns one row per group with ≥ 2 periods:
    * (groupCols..., n_periods, n_pairs, slope, intercept). */
  def theilSenByGroup(
      series: DataFrame,
      groupCols: Seq[String],
      orderCol: String,
      valueCol: String): DataFrame = {
    val grp = groupCols.map(col)
    val wIdx = Window.partitionBy(grp: _*).orderBy(col(orderCol).asc)
    // eager localCheckpoint, not persist-then-unpersist: the old
    // build-time unpersist made the caller's exec recompute the
    // indexed series once per reference (×3: both self-join sides and
    // the residual join — the [[theilSenTrend]] fix). The series is
    // an already-aggregated per-period spine, bounded by contract.
    val idx = series
      .select(grp ++ Seq(col(valueCol).cast(DoubleType).as("__y"),
        row_number().over(wIdx).as("__i")): _*)
      .localCheckpoint(true)
    val pmax = idx.groupBy(grp: _*).agg(count(lit(1)).as("__p"))
      .agg(max(col("__p"))).collect()(0).getLong(0)
    require(pmax <= MaxPeriods,
      s"theilSenByGroup: largest group has $pmax periods -> " +
        s"${pmax * (pmax - 1) / 2} pair slopes exceeds the " +
        s"maxPeriods=$MaxPeriods cap; aggregate to coarser periods")
    val a = idx.select(grp ++ Seq(col("__i").as("__ia"),
      col("__y").as("__ya")): _*)
    val b = idx.select(grp ++ Seq(col("__i").as("__ib"),
      col("__y").as("__yb")): _*)
    val slopes = a.join(b, groupCols)
      .filter(col("__ib") > col("__ia"))
      .select(grp ++ Seq(
        ((col("__yb") - col("__ya")) /
          (col("__ib") - col("__ia")).cast(DoubleType)).as("__s"),
        col("__ia"), col("__ib")): _*)
    val wG = Window.partitionBy(grp: _*)
    val wS = Window.partitionBy(grp: _*)
      .orderBy(col("__s").asc, col("__ia").asc, col("__ib").asc)
    val med = slopes
      .withColumn("__rk", row_number().over(wS))
      .withColumn("__n", count(lit(1)).over(wG))
      .groupBy(grp: _*)
      .agg(max(col("__n")).as("n_pairs"),
        sum(when(col("__rk") === expr("(__n + 1) div 2"),
          col("__s"))).as("__a"),
        sum(when(col("__rk") === expr("(__n + 2) div 2"),
          col("__s"))).as("__b"))
      .select(grp ++ Seq(col("n_pairs"),
        round((col("__a") + col("__b")) / 2.0, 6).as("slope")): _*)
    val wB = Window.partitionBy(grp: _*)
      .orderBy(col("__bv").asc, col("__i").asc)
    val out = idx.join(med, groupCols)
      .withColumn("__bv", col("__y") - col("slope") * col("__i"))
      .withColumn("__rk", row_number().over(wB))
      .withColumn("__p", count(lit(1)).over(wG))
      .groupBy(grp: _*)
      .agg(max(col("__p")).as("n_periods"),
        max(col("n_pairs")).as("n_pairs"),
        max(col("slope")).as("slope"),
        round((sum(when(col("__rk") === expr("(__p + 1) div 2"),
          col("__bv"))) +
          sum(when(col("__rk") === expr("(__p + 2) div 2"),
            col("__bv")))) / 2.0, 6).as("intercept"))
      .select(grp ++ Seq(col("n_periods"), col("n_pairs"),
        col("slope"), col("intercept")): _*)
    out
  }

  /** k-sample Anderson–Darling test (Scholz & Stephens 1987,
    * "version 1" right-continuous-ECDF statistic, ties handled by
    * the discrete formula): over the pooled distinct values z_j with
    * pooled multiplicity l_j, pooled cumulative B_j, and per-sample
    * cumulative M_ij,
    *
    *   A² = Σ_i (1/n_i) Σ_{j: B_j<N} l_j·(N·M_ij − n_i·B_j)² /
    *        (N·B_j·(N−B_j))
    *
    * — the tail-sensitive sibling of [[ksByGroup]] (KS is blind in
    * the tails where its CDF gap is pinched; AD's 1/(B(N−B)) weight
    * is exactly the tail magnifier) and of [[wassersteinByGroup]].
    * E[A²] = k−1 under H₀, so a2 ≫ k−1 rejects "all sources draw
    * one length distribution". The statistic is the UNstandardized
    * A²_kN; the Scholz–Stephens σ_N standardization is a closed
    * form of (k, N) alone, replayable downstream of the gate.
    *
    * Scale shape: the [[ksByGroup]] topology — ONE map-side-combined
    * (group, value) count, a distinct-value spine × groups grid,
    * per-group cumulative windows; the value spine's global
    * cumulative is a [[Guards.boundedSeries]] single-partition
    * window (distinct values are quantized/bounded by contract).
    *
    * Determinism: every numerator/denominator is an exact integer —
    * (N·M − n_i·B)² fixes as DECIMAL(38,0) (N·M can pass 2³¹ but the
    * square must not hit double space), one division per (i, j) cell
    * rounds at 9 dp, DECIMAL(28,9) fold, one 6-dp edge round.
    *
    * Returns one row: (k, n, n_values, a2). */
  def adTestByGroup(
      df: DataFrame,
      valueCol: String,
      groupCol: String): DataFrame = {
    val d0 = DecimalType(38, 0)
    val v = df
      .select(col(groupCol).cast(StringType).as("__g"),
        col(valueCol).cast(DoubleType).as("__x"))
      .filter(col("__x").isNotNull && col("__g").isNotNull)
    val counts = v.groupBy(col("__g"), col("__x"))
      .agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pooled spine: l_j and B_j over distinct values (bounded frame)
    val wPool = Guards.seriesWindow(col("__x").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAllPool = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pooled = Guards.boundedSeries(
        counts.groupBy(col("__x")).agg(sum(col("__c")).as("__l")),
        "adTestByGroup value spine")
      .withColumn("__b", sum(col("__l")).over(wPool))
      .withColumn("__nn", sum(col("__l")).over(wAllPool))
    val groups = counts.groupBy(col("__g"))
      .agg(sum(col("__c")).as("__ni"))
    val grid = groups.select(col("__g"), col("__ni"))
      .crossJoin(pooled.select(col("__x"), col("__l"), col("__b"),
        col("__nn")))
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__x").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = grid
      .join(counts, Seq("__g", "__x"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
      .withColumn("__m", sum(col("__c")).over(wCum))
    // __nn is the POOLED N (the formula's N); __ni the sample size
    val diff = (col("__nn") * col("__m") -
      col("__ni") * col("__b")).cast(d0)
    val terms = filled
      .filter(col("__b") < col("__nn"))
      .select(col("__g"), col("__nn").as("__n"), col("__ni"),
        round((col("__l").cast(d0) * diff * diff).cast(DoubleType) /
          (col("__nn").cast(d0) * col("__b").cast(d0) *
            (col("__nn") - col("__b")).cast(d0) *
            col("__ni").cast(d0)).cast(DoubleType), 9)
          .cast(DecimalType(28, 9)).as("__t"))
    val out = terms
      .agg(count_distinct(col("__g")).as("k"),
        max(col("__n")).as("n"),
        round(sum(col("__t")).cast(DoubleType), 6).as("a2"))
      .crossJoin(broadcast(
        pooled.agg(count(lit(1)).as("n_values"))))
      .select(col("k"), col("n"), col("n_values"), col("a2"))
      .localCheckpoint(true)
    counts.unpersist(false)
    out
  }

  /** Theil T inequality index with its within/between-group
    * decomposition (Theil 1967) — the DECOMPOSABLE complement of
    * the Gini/Lorenz pair: T_total = T_between + T_within exactly
    * (in real arithmetic; each side here is computed independently
    * under the 9-dp fold, so the identity holds to emit precision),
    * which answers "is corpus length inequality a BETWEEN-languages
    * story or a within-language story" — the question Gini cannot
    * split.
    *
    *   T_total   = Σ_v (c_v·v/X) · ln(v·N/X)
    *   T_between = Σ_g (X_g/X) · ln(X_g·N / (X·n_g))
    *   T_within  = Σ_{g,v} (c_gv·v/X) · ln(v·n_g/X_g)
    *
    * over positive integer values v (here: per-doc sizes), pooled
    * count c_v, group totals X_g = Σ c_gv·v, grand total X, counts
    * n_g, N.
    *
    * Scale shape: ONE map-side-combined (group, value) count frame
    * (bounded by |groups|·|distinct values|); group and grand totals
    * are aggregates of that frame, broadcast back; no window touches
    * corpus-sized data.
    *
    * Determinism: each ln argument is a ratio of exact integers
    * (both < 2⁵³, cast to DOUBLE exactly; the division is correctly
    * rounded in both engines, ln's ≤1-ulp wobble is absorbed by the
    * 9-dp round — the [[entropyByGroup]] discipline), each ln fixes
    * at 9 dp as DECIMAL(18,9), multiplies by the exact long c·v
    * (→ DECIMAL(38,9), exact), folds as DECIMAL, and the single /X
    * division + 6-dp round happen once at the emit edge.
    *
    * Returns one row: (n, n_groups, theil_total, theil_between,
    * theil_within). */
  def theilDecomposition(
      df: DataFrame,
      valueCol: String,
      groupCol: String): DataFrame = {
    val rows = df
      .select(col(groupCol).cast(StringType).as("__g"),
        col(valueCol).cast(LongType).as("__v"))
      .filter(col("__v").isNotNull && col("__v") > 0 &&
        col("__g").isNotNull)
    theilFromCounts(rows.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__c")))
  }

  /** The Theil finish over an already-aggregated (__g, __v, __c)
    * count frame — shared by [[theilDecomposition]] and the
    * streaming twin (whose drained grouped-aggregate state IS this
    * frame, so both gate on one oracle). */
  def theilFromCounts(countsIn: DataFrame): DataFrame = {
    // exact decimal products: DECIMAL(19,0)·DECIMAL(18,9) → (38,9)
    // stays under the 38-precision cap (a (38,9) left side would trip
    // Spark's precision-loss rule and silently reduce the scale)
    val d9 = DecimalType(19, 0)
    val counts = countsIn
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val byG = counts.groupBy(col("__g"))
      .agg(sum(col("__c") * col("__v")).as("__xg"),
        sum(col("__c")).as("__ng"))
    val tot = byG.agg(sum(col("__xg")).as("__xx"),
      sum(col("__ng")).as("__nn"), count(lit(1)).as("__k"))
    def ln9(c: Column): Column =
      round(log(c), 9).cast(DecimalType(18, 9))
    // T_total over the pooled value spine
    val tTot = counts.groupBy(col("__v"))
      .agg(sum(col("__c")).as("__cv"))
      .crossJoin(broadcast(tot))
      .select((col("__cv") * col("__v")).cast(d9) *
        ln9((col("__v") * col("__nn")).cast(DoubleType) /
          col("__xx").cast(DoubleType)) as "__t",
        col("__xx"))
      .groupBy(col("__xx"))
      .agg(sum(col("__t")).as("__s"))
      .select(round(col("__s").cast(DoubleType) /
        col("__xx").cast(DoubleType), 6).as("theil_total"))
    // T_between over the group frame
    val tBet = byG.crossJoin(broadcast(tot))
      .select(col("__xg").cast(d9) *
        ln9((col("__xg").cast(DecimalType(38, 0)) * col("__nn"))
            .cast(DoubleType) /
          (col("__xx").cast(DecimalType(38, 0)) * col("__ng"))
            .cast(DoubleType)) as "__t",
        col("__xx"), col("__nn"), col("__k"))
      .groupBy(col("__xx"), col("__nn"), col("__k"))
      .agg(sum(col("__t")).as("__s"))
      .select(col("__nn").as("n"), col("__k").as("n_groups"),
        round(col("__s").cast(DoubleType) /
          col("__xx").cast(DoubleType), 6).as("theil_between"),
        col("__xx"))
    // T_within over the (group, value) frame
    val tWit = counts.join(broadcast(byG), Seq("__g"))
      .crossJoin(broadcast(tot))
      .select((col("__c") * col("__v")).cast(d9) *
        ln9((col("__v") * col("__ng")).cast(DoubleType) /
          col("__xg").cast(DoubleType)) as "__t",
        col("__xx"))
      .groupBy(col("__xx"))
      .agg(sum(col("__t")).as("__s"))
      .select(round(col("__s").cast(DoubleType) /
        col("__xx").cast(DoubleType), 6).as("theil_within"))
    val out = tBet.crossJoin(broadcast(tTot))
      .crossJoin(broadcast(tWit))
      .select(col("n"), col("n_groups"), col("theil_total"),
        col("theil_between"), col("theil_within"))
      .localCheckpoint(true)
    counts.unpersist(false)
    out
  }

  /** Pettitt changepoint test (Pettitt 1979) over an
    * ALREADY-AGGREGATED period series — the RANK-based (outlier-
    * robust) sibling of [[cusumMaxShift]]'s mean-shift locator: with
    * midranks R_i of the values, U_t = 2·Σ_{i≤t} R_i − t·(P+1), the
    * change point is argmax |U_t| over t < P, and the classic
    * approximation p ≈ 2·exp(−6K²/(P³+P²)) gates significance. A
    * single revenue spike that drags cusum's argmax leaves Pettitt's
    * ranks almost untouched.
    *
    * Scale shape: the [[cusumMaxShift]] control-frame discipline —
    * the caller aggregates the corpus to periods upstream; here
    * everything is two [[Guards.boundedSeries]] windows (one rank
    * pass, one prefix sum) over the days-bounded frame.
    *
    * Determinism: midranks are held as the INTEGER doubled midrank
    * D_i = 2·minrank_i + ties_i − 1 (so U_t = Σ D_i − t·(P+1) is an
    * exact long fold — no half-rank floats); argmax ties break to
    * the earliest period; the only doubles are the final p-value exp
    * (1-ulp wobble absorbed by the 6-dp round) and the emitted K.
    *
    * Returns one row: (n_periods, change_at, u_abs, p_approx). */
  def pettittTest(
      series: DataFrame,
      orderCol: String,
      valueCol: String): DataFrame = {
    val x4 = col(valueCol).cast(DecimalType(18, 4))
    val base = Guards.boundedSeries(series, "pettittTest")
      .select(col(orderCol), x4.as("__x"))
    // doubled midrank: 2·minrank + ties − 1 (integer; ties share it)
    val wRank = Guards.seriesWindow(col("__x").asc)
    val ranked = base
      .withColumn("__mr", rank().over(wRank))
      .withColumn("__ties",
        count(lit(1)).over(Window.partitionBy(col("__x"))))
      .withColumn("__d", lit(2L) * col("__mr") + col("__ties") - 1L)
    val wCum = Guards.seriesWindow(col(orderCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val u = ranked
      .withColumn("__t",
        row_number().over(Guards.seriesWindow(col(orderCol).asc)))
      .withColumn("__p", count(lit(1)).over(wAll))
      .withColumn("__u",
        sum(col("__d")).over(wCum) - col("__t") * (col("__p") + 1L))
    u.filter(col("__t") < col("__p"))
      .orderBy(abs(col("__u")).desc, col(orderCol).asc)
      .limit(1)
      .select(col("__p").as("n_periods"),
        col(orderCol).as("change_at"),
        abs(col("__u")).as("u_abs"),
        round(lit(2.0) * exp(lit(-6.0) *
          col("__u").cast(DoubleType) * col("__u").cast(DoubleType) /
          (col("__p").cast(DoubleType) * col("__p").cast(DoubleType) *
            col("__p").cast(DoubleType) +
            col("__p").cast(DoubleType) * col("__p").cast(DoubleType))),
          6).as("p_approx"))
  }

  /** NDCG@k of a cheap ranking score against a boolean relevance
    * label — the RANK-QUALITY audit beside [[rocAuc]] (AUC scores
    * the whole order; NDCG@k scores the HEAD, which is what a
    * "scan the top slice by the free column" pre-filter actually
    * consumes): DCG = Σ_{i≤k} rel_i/log₂(i+1) over the (score desc,
    * id asc) top-k, IDCG = the same sum with all of the corpus's P
    * positives packed first (i ≤ min(k, P)), ndcg = DCG/IDCG.
    *
    * Scale shape: the top-k is a TakeOrderedAndProject (never a full
    * sort); P is one map-side-combined count; the discount table and
    * both folds live on k-row control frames.
    *
    * Determinism: each discount 1/log₂(i+1) rounds at 9 dp and
    * folds as DECIMAL(18,9) (rel is 0/1, so gains are sums of the
    * same fixed table both engines generate); ndcg is one division
    * of 6-dp-rounded operands. Ties rank by id asc.
    *
    * Returns one row: (k, n_pos_total, n_pos_topk, dcg, idcg,
    * ndcg). */
  def ndcgAtK(
      df: DataFrame,
      scoreCol: Column,
      idCol: Column,
      label: Column,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val base = df.select(scoreCol.as("__s"), idCol.as("__id"),
      when(label, 1L).otherwise(0L).as("__r"))
    val top = base
      .orderBy(col("__s").desc, col("__id").asc).limit(k)
    val disc9 = round(lit(1.0) /
      log(2.0, col("__i").cast(DoubleType) + lit(1.0)), 9)
      .cast(DecimalType(18, 9))
    val dcg = top
      .withColumn("__i",
        row_number().over(Guards.seriesWindow(col("__s").desc,
          col("__id").asc)))
      .agg(coalesce(sum(when(col("__r") === 1L, disc9)
          .otherwise(lit(0).cast(DecimalType(18, 9)))),
          lit(0).cast(DecimalType(18, 9))).as("__dcg"),
        coalesce(sum(col("__r")), lit(0L)).as("n_pos_topk"))
    val pos = base.agg(coalesce(sum(col("__r")), lit(0L))
      .as("n_pos_total"))
    // ideal fold: the same 9-dp discount table over i = 1..min(k, P)
    val idcg = pos
      .select(col("n_pos_total"),
        explode(sequence(lit(1L),
          greatest(least(lit(k.toLong), col("n_pos_total")), lit(0L))))
          .as("__i"))
      .agg(max(col("n_pos_total")).as("n_pos_total"),
        coalesce(sum(disc9), lit(0).cast(DecimalType(18, 9)))
          .as("__idcg"))
    dcg.crossJoin(broadcast(idcg))
      .select(lit(k.toLong).as("k"),
        coalesce(col("n_pos_total"), lit(0L)).as("n_pos_total"),
        col("n_pos_topk"),
        round(col("__dcg").cast(DoubleType), 6).as("dcg"),
        round(col("__idcg").cast(DoubleType), 6).as("idcg"),
        when(col("__idcg") > 0,
          round(round(col("__dcg").cast(DoubleType), 6) /
            round(col("__idcg").cast(DoubleType), 6), 6))
          .as("ndcg"))
  }

  /** Matthews correlation coefficient of a thresholded score against
    * a boolean label — the single-number confusion-matrix summary
    * that, unlike accuracy or F1, is symmetric in classes and honest
    * under imbalance (MCC = 0 for any constant classifier):
    * MCC = (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN)).
    *
    * ONE map-side-combined conditional-count scan; the closed form
    * runs on the 1-row frame. Products fix as DECIMAL(38,0) (four
    * counts up to n each — n⁴ passes 2⁶³ long before 38 digits),
    * one IEEE sqrt, one division, 6-dp edge round. Degenerate
    * margins (any factor 0) emit NULL mcc, not a division crash.
    *
    * Returns one row: (n, tp, fp, fn, tn, mcc). */
  def mcc(
      df: DataFrame,
      predicted: Column,
      label: Column): DataFrame = {
    val d0 = DecimalType(38, 0)
    def cnt(c: Column): Column =
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    val m = df.agg(
      cnt(predicted && label).as("tp"),
      cnt(predicted && !label).as("fp"),
      cnt(!predicted && label).as("fn"),
      cnt(!predicted && !label).as("tn"))
    val num = (col("tp").cast(d0) * col("tn").cast(d0) -
      col("fp").cast(d0) * col("fn").cast(d0))
    val den = (col("tp") + col("fp")).cast(d0) *
      (col("tp") + col("fn")).cast(d0) *
      (col("tn") + col("fp")).cast(d0) *
      (col("tn") + col("fn")).cast(d0)
    m.select(
      (col("tp") + col("fp") + col("fn") + col("tn")).as("n"),
      col("tp"), col("fp"), col("fn"), col("tn"),
      when(den > 0,
        round(num.cast(DoubleType) / sqrt(den.cast(DoubleType)), 6))
        .as("mcc"))
  }

  /** Page's L test for a MONOTONE trend across ordered treatments
    * within blocks (Page 1963) — the ordered-alternative sibling of
    * [[friedman]] (Friedman asks "do treatments differ AT ALL";
    * Page asks "do they rise IN THIS ORDER", which is strictly more
    * powerful when the order is the hypothesis): with within-block
    * ranks R and treatment positions j = 1..k,
    * L = Σ_j j·R_j, z = (12L − 3·b·k(k+1)²)/(k(k+1)·√(b(k−1))).
    *
    * Only COMPLETE blocks count (a missing treatment would deflate
    * its column sum); ties take average ranks via the [[friedman]]
    * doubled-rank trick (2R = min+max of row_number over the tied
    * span — integer, exact; the z denominator is the no-ties form,
    * the standard approximation under sparse ties). All of L, E[L],
    * and the z numerator are exact integers (12L = 6·ΣjR2); the
    * only doubles are one sqrt and the final division, 6-dp edge
    * round.
    *
    * Scale shape: the [[friedman]] topology — one aggregate to the
    * (block, treatment) cell frame upstream, per-block rank windows
    * on the bounded cell frame, a k-row column-sum fold.
    *
    * Returns one row: (n_blocks, k_treatments, l_stat, z, verdict)
    * — verdict rejects H₀ (no trend) in favor of a MONOTONE
    * INCREASE across the given order at |z| > 1.96 two-sided
    * (negative z = decreasing trend). */
  def pageTrend(
      df: DataFrame,
      blockCol: String,
      treatPosCol: String,
      valueCol: String): DataFrame = {
    val base = df.select(col(blockCol).cast(StringType).as("__b"),
        col(treatPosCol).cast(LongType).as("__j"),
        col(valueCol).cast(DoubleType).as("__x"))
      .filter(col("__b").isNotNull && col("__j").isNotNull &&
        col("__x").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val k = base.select(countDistinct(col("__j"))).collect()(0)
      .getLong(0)
    if (k < 3 || k > 20) {
      base.unpersist(false)
      require(k >= 3 && k <= 20,
        s"pageTrend needs 3..20 ordered treatments, got $k")
    }
    val blocks = base.groupBy(col("__b"))
      .agg(count(lit(1)).as("__nb"),
        countDistinct(col("__j")).as("__kb"))
      .filter(col("__nb") === k && col("__kb") === k)
      .select(col("__b"))
    val cb = base.join(blocks, Seq("__b"))
    val wR = Window.partitionBy(col("__b"))
      .orderBy(col("__x").asc, col("__j").asc)
    val wV = Window.partitionBy(col("__b"), col("__x"))
    val dec = DecimalType(38, 0)
    // positions are re-densified to 1..k by global rank of __j so a
    // caller's ordering column may be any ordered integers
    val posRank = base.select(col("__j")).distinct()
      .withColumn("__p",
        row_number().over(Guards.seriesWindow(col("__j").asc)))
    val l2 = cb
      .withColumn("__rk", row_number().over(wR))
      .withColumn("__r2",
        min(col("__rk")).over(wV) + max(col("__rk")).over(wV))
      .join(broadcast(posRank), Seq("__j"))
      .agg((count(lit(1)) / lit(k)).cast(LongType).as("__nblocks"),
        coalesce(sum((col("__p") * col("__r2")).cast(dec)),
          lit(0).cast(dec)).as("__l2"))
    val bD = col("__nblocks").cast(DoubleType)
    val kD = lit(k.toDouble)
    val zNum = lit(6L).cast(dec) * col("__l2") -
      (lit(3L * k * (k + 1) * (k + 1)).cast(dec) *
        col("__nblocks").cast(dec))
    val z = round(zNum.cast(DoubleType) /
      (kD * lit(k + 1.0) * sqrt(bD * lit(k - 1.0))), 6)
    val out = l2
      .select(col("__nblocks").as("n_blocks"),
        lit(k).as("k_treatments"),
        round(col("__l2").cast(DoubleType) / 2.0, 1).as("l_stat"),
        when(col("__nblocks") > 0, z)
          .otherwise(lit(null).cast(DoubleType)).as("z"),
        when(col("__nblocks") > 0,
          when(abs(z) > 1.96, lit("reject")).otherwise(lit("keep")))
          .otherwise(lit(null).cast(StringType)).as("verdict"))
      .localCheckpoint(true)
    base.unpersist(false)
    out
  }
}
