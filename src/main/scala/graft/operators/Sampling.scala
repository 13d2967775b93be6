package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deterministic sampling for training-data curation.
  *
  * A 100 TB corpus is never trained on wholesale: domains/languages are
  * re-weighted ("data mixing") by DOWNSAMPLING over-represented strata
  * to a target size. Two properties matter at scale:
  *
  *  - **Determinism**: membership is a pure function of the row id
  *    (portable affine hash → bucket), never of `rand()` — the sample
  *    is reproducible across runs, task retries, and engines, and the
  *    DuckDB oracle replicates it bit-for-bit.
  *  - **Narrow plan**: the only shuffle is the tiny per-stratum count
  *    aggregate (|strata| rows, broadcast back); the data itself is
  *    filtered by a codegen'd integer predicate in place — no
  *    repartition, no sort, no sampling pass.
  *
  * Rate quantization: a stratum of size n_s keeps bucket <
  * `(target·B) div n_s` of B buckets, i.e. a rate within 1/B of
  * target/n_s — exact integer arithmetic end-to-end (no float
  * thresholds, which engines round differently). Strata at or under
  * target are kept whole.
  *
  * New-capability work beyond the reference surface (SURVEY.md §7.2
  * step 7).
  */
object Sampling {

  /** Buckets for rate quantization: rates resolve to 1e-6. */
  val Buckets = 1000000L

  /** Deterministic bucket in [0, Buckets) from a non-negative integral
    * id: affine transform of the portable hash family, seed selects
    * the family member. */
  def idBucket(id: Column, seed: Int = 0): Column =
    pmod(pmod(id, lit(Dedup.PortableMod)) * Dedup.affineA(seed)
      + Dedup.affineB(seed), lit(Dedup.PortableMod)) % Buckets

  /** Downsample each stratum to ≈`target` rows (strata already at or
    * below `target` pass through whole). Membership is decided by
    * [[idBucket]] of `idCol` against the stratum's quantized keep
    * threshold — reproducible and engine-portable. */
  def stratifiedSample(
      df: DataFrame,
      strataCols: Seq[String],
      idCol: Column,
      target: Long,
      seed: Int = 0): DataFrame = {
    require(target > 0 && target <= Long.MaxValue / Buckets,
      s"target out of range: $target")
    val counts = df.groupBy(strataCols.map(col): _*)
      .agg(count(lit(1)).as("__ns"))
    // integer floor-division on both engines (Spark `div`, DuckDB `//`)
    val thr = expr(s"${target * Buckets}L div __ns")
    df.join(broadcast(counts), strataCols)
      .filter(idBucket(idCol, seed) < thr)
      .drop("__ns")
  }

  /** Keep at most `cap` rows per stratum — EXACTLY `cap` for strata
    * over it (domain capping: no single domain/source may dominate the
    * training mix, the complement of [[stratifiedSample]]'s rate-based
    * thinning). Which rows survive is a pure function of the row id:
    * rows rank by ([[idBucket]], id) inside their stratum and the
    * first `cap` win — reproducible across runs, retries, and engines.
    *
    * Cost = one hash shuffle on the strata columns + a per-partition
    * sort (the `row_number` window); no second pass, no rate
    * estimation. A stratum's rows sort within one task — fine while
    * every stratum fits a task's spill budget (domains at 100 TB:
    * millions of rows, sorts fine); a pathological mega-stratum would
    * call for a two-level pre-cap (cap per (stratum, idBucket band))
    * before the exact rank. */
  def capPerStratum(
      df: DataFrame,
      strataCols: Seq[String],
      idCol: Column,
      cap: Int,
      seed: Int = 0): DataFrame = {
    require(cap > 0, s"cap must be positive: $cap")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCols.map(col): _*)
      .orderBy(idBucket(idCol, seed).asc, idCol.asc)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= cap)
      .drop("__rk")
  }

  /** Priority scale for [[prioritySample]]: bucket (< 10^6) × 10^12
    * stays under Long.MaxValue (9.2·10^18) for any weight ≥ 1. */
  val PriorityScale = 1000000000000L

  /** Weighted sampling WITHOUT replacement, exactly `k` rows per
    * stratum: priority sampling (Duffield–Lund–Thorup). Each row draws
    * priority u/w — u a uniform deterministic hash, w its weight — and
    * the k SMALLEST priorities win, so selection probability rises
    * with weight and re-runs/retries/engines agree on the sample.
    * Priorities are computed as `bucket · 10^12 div w` — one integer
    * multiply + floor-divide, no float thresholds (which engines round
    * differently); ties break by id.
    *
    * Complements the rate-based family: [[stratifiedSample]] thins to
    * a target rate uniformly, [[temperatureSample]] reweights strata,
    * this one draws an exact-k WEIGHTED sample (quality-score-weighted
    * curation draws, importance sampling).
    *
    * Cost: the [[capPerStratum]] topology — one hash shuffle on the
    * strata + a per-stratum rank window; with NO strata the plan is a
    * global TakeOrderedAndProject (per-partition heaps of k, driver
    * merges k), never a full sort. Weights must be positive integers
    * (scale fractional weights to permille first); rows with weight
    * ≤ 0 are DROPPED before ranking — the w → 0 limit of "priority
    * u/w" is never-selected, and leaving them in would instead NULL
    * the integer division and rank them FIRST under Spark's
    * nulls-first ascending order. */
  def prioritySample(
      df: DataFrame,
      strataCols: Seq[String],
      idCol: Column,
      weight: Column,
      k: Int,
      seed: Int = 0): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    // integer floor-division on both engines (Spark `div`, DuckDB `//`)
    val staged = df
      .withColumn("__w",
        weight.cast(org.apache.spark.sql.types.LongType))
      .filter(col("__w") > 0L)
      .withColumn("__u", idBucket(idCol, seed))
      .withColumn("__pri", expr(s"(${PriorityScale}L * __u) div __w"))
    if (strataCols.isEmpty) {
      staged.orderBy(col("__pri").asc, idCol.asc)
        .limit(k)
        .drop("__u", "__w", "__pri")
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(strataCols.map(col): _*)
        .orderBy(col("__pri").asc, idCol.asc)
      staged.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= k)
        .drop("__u", "__w", "__pri", "__rk")
    }
  }

  /** Priority-sampling ESTIMATOR audit (Duffield–Lund–Thorup 2007):
    * the point of weighted sampling without replacement is that the
    * sample can ESTIMATE population totals — per kept item the DLT
    * estimator is max(w_i, τ) with τ the weight equivalent of the
    * (k+1)-th smallest priority, and Σ max(w_i, τ) is unbiased for
    * Σ w. This operator runs [[prioritySample]]'s exact priority
    * arithmetic at seed 0, rebuilds the estimate, and emits it NEXT TO the
    * exact total — the audit that says how much the k-row sample's
    * totals can be trusted before anyone aggregates on it. When the
    * population fits in k the estimate IS the exact total.
    *
    * Scale shape: one scan + a global top-(k+1) (TakeOrdered — no
    * full sort); the (k+1)-row frame is control-plane and rides the
    * sanctioned bounded single-partition rank. Determinism: the
    * integer priorities replay in any engine; τ = scale/pri_{k+1} and
    * the per-item max are double arithmetic in a literal op order,
    * rounded to 6 dp and summed as DECIMAL(28,6) — order-free.
    *
    * Returns one row: (n, total_exact, k_used, total_est). */
  def priorityEstimate(
      df: DataFrame,
      idCol: Column,
      weight: Column,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val staged = df
      .withColumn("__w",
        weight.cast(org.apache.spark.sql.types.LongType))
      .filter(col("__w") > 0L)
      .withColumn("__u", idBucket(idCol))
      .withColumn("__pri", expr(s"(${PriorityScale}L * __u) div __w"))
      .withColumn("__id", idCol.cast(org.apache.spark.sql.types.LongType))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val top = staged.orderBy(col("__pri").asc, col("__id").asc)
      .limit(k + 1)
      .select(col("__pri"), col("__id"), col("__w"))
    val ranked = Guards
      .boundedSeries(top, "priorityEstimate top-k", maxRows = k + 1L)
      .withColumn("__rk", row_number().over(
        Guards.seriesWindow(col("__pri").asc, col("__id").asc)))
    // τ in WEIGHT units: q_i = w_i/U_i with U = u/Buckets uniform in
    // [0,1), and pri = scale·u/w ⇒ q = scale·Buckets/pri — so the
    // (k+1)-th smallest priority converts via scale·Buckets = 1e18
    // (exactly representable in double)
    val tauW = lit(1.0e18) /
      col("__taupri").cast(org.apache.spark.sql.types.DoubleType)
    val wD = col("__w").cast(org.apache.spark.sql.types.DoubleType)
    val est = ranked
      .crossJoin(broadcast(ranked.agg(
        min(when(col("__rk") === k + 1, col("__pri"))).as("__taupri"))
        .localCheckpoint(true))) // 1 row; breaks the shared lineage
      .filter(col("__rk") <= k)
      .select(col("__w"),
        when(col("__taupri").isNull, wD) // population fits in k
          .otherwise(greatest(wD, tauW)).as("__est"))
      .agg(count(lit(1)).as("k_used"),
        coalesce(sum(Guards.fastRoundDec(col("__est"), 6,
          org.apache.spark.sql.types.DecimalType(28, 6))),
          lit(0).cast(org.apache.spark.sql.types.DecimalType(28, 6)))
          .as("__sum"))
      .select(col("k_used"),
        round(col("__sum").cast(org.apache.spark.sql.types.DoubleType),
          6).as("total_est"))
      .localCheckpoint(true) // 1 row; exact below shares staged's lineage
    val exact = staged.agg(count(lit(1)).as("n"),
      coalesce(sum(col("__w")), lit(0L)).as("total_exact"))
    val out = exact.crossJoin(broadcast(est))
      .select(col("n"), col("total_exact"), col("k_used"),
        col("total_est"))
      .localCheckpoint(true) // 1 row; free staged afterwards
    staged.unpersist(false)
    out
  }

  /** Deterministic train/validation/test assignment: each row gets a
    * `split` column decided by its id's bucket (permille) against the
    * cumulative split bounds. `splits` are (name, permille) pairs
    * summing to 1000 — e.g. `Seq("train"->800, "val"->100,
    * "test"->100)`.
    *
    * Why hash-of-id and not `rand()` or row position: the assignment
    * must be STABLE under reruns, task retries, corpus growth, and
    * engine changes — a document that was ever in `test` must never
    * drift into `train` (eval contamination). A pure function of the
    * id gives exactly that, costs one codegen'd integer expression per
    * row (no shuffle, no sort, no state), and is replicated
    * arithmetically by the DuckDB oracle. */
  def hashSplit(
      df: DataFrame,
      idCol: Column,
      splits: Seq[(String, Int)],
      seed: Int = 0): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      "splits must be non-empty with positive permilles")
    require(splits.map(_._2).sum == 1000,
      s"split permilles must sum to 1000: $splits")
    val bucket = idBucket(idCol, seed) % 1000L
    val bounds = splits.scanLeft(0) { case (acc, (_, p)) => acc + p }.tail
    val assign = splits.init.zip(bounds.init).foldRight(
      lit(splits.last._1): Column) { case (((name, _), ub), els) =>
      when(bucket < lit(ub.toLong), lit(name)).otherwise(els)
    }
    df.withColumn("split", assign)
  }

  /** Leakage-safe split assignment: the split is a pure function of a
    * GROUP key (crawl domain, source feed, author), not the document
    * id, so correlated documents — near-duplicates from one domain,
    * chapters of one book — can never straddle train/test. This is the
    * split discipline eval-contamination audits assume; the cost is
    * identical to [[hashSplit]] (one codegen'd hash expression per
    * row, no shuffle): the group key is portably hashed to an integral
    * id and bucketed by the same affine family. Groups land whole:
    * P(split) is proportional to GROUP count, not row count, so
    * heavily-skewed group sizes skew the row-level ratio — callers
    * wanting ratio guarantees should key on the finest leak-free
    * grouping they have. */
  def groupedSplit(
      df: DataFrame,
      groupKey: Column,
      splits: Seq[(String, Int)],
      seed: Int = 0): DataFrame =
    hashSplit(df, Dedup.polyHash(groupKey), splits, seed)

  /** Deterministic source re-weighting ("data mixing"): every row is
    * emitted `weightPermille div 1000` times, plus one more copy for
    * the ids whose bucket falls under `weightPermille mod 1000` —
    * weight 2300 means two copies for every doc and a third for a
    * deterministic 30% of them; weight 400 keeps a deterministic 40%
    * of docs once and drops the rest. The emitted copy index is
    * exposed as `copy` (1-based; training shards key on (id, copy)).
    *
    * Scale shape: upsampling is `explode(sequence(...))` — pure
    * per-row generation inside codegen, NO shuffle and no second scan;
    * downsampling (weight < 1000) is a codegen'd filter (empty
    * sequence). The fractional-copy decision reuses [[idBucket]], so
    * the mix is reproducible and oracle-replicable, never `rand()`.
    * Weights are integer permille end-to-end — no float thresholds,
    * which engines round differently. */
  def mixtureUpsample(
      df: DataFrame,
      idCol: Column,
      weightPermille: Column,
      seed: Int = 0): DataFrame = {
    val wl = weightPermille.cast(org.apache.spark.sql.types.LongType)
    // floor(x/1000) is exact for any sane permille (< 2^52)
    val whole = floor(wl / lit(1000L)).cast(
      org.apache.spark.sql.types.LongType)
    val extra = when(idBucket(idCol, seed) % 1000L < pmod(wl, lit(1000L)),
      lit(1L)).otherwise(lit(0L))
    df.withColumn("__reps", whole + extra)
      .withColumn("copy", explode(
        when(col("__reps") > 0, sequence(lit(1L), col("__reps")))
          .otherwise(array().cast("array<bigint>"))))
      .drop("__reps")
  }

  /** Keep rows in deterministic-shuffle order ([[idBucket]], id) until
    * a cost budget is exhausted — "take exactly N tokens of corpus",
    * the last sizing step of a training mix. The kept set is the
    * maximal prefix of the shuffled order whose running `costCol` sum
    * stays ≤ `budget`; membership is again a pure function of ids, so
    * the sample replays identically anywhere.
    *
    * A naive global running sum is a SINGLE-TASK window (no
    * partitionBy) — fine at demo scale, a serial bottleneck at 100 TB.
    * This is the distributed two-phase prefix sum instead: bucket
    * space splits into `nRanges` contiguous ranges; phase 1 aggregates
    * one cost total per range (narrow shuffle, ≤ nRanges rows
    * collected — control-plane, never data rows); the driver
    * prefix-sums those into per-range exclusive offsets; phase 2
    * re-joins the offsets (broadcast) and runs the running sum as a
    * PER-RANGE window — nRanges-way parallel, and ranges whose offset
    * already exceeds the budget are pruned before the sort. Range
    * blocks are contiguous in the global order, so partition-cum +
    * exclusive-offset EQUALS the global cumulative sum — the oracle
    * checks that equality against a genuine global window. */
  /** Temperature-based mixture rebalancing (α = 1/2): shrink the gap
    * between over- and under-represented strata by sampling stratum s
    * with probability ∝ √(n_s) instead of n_s — the standard
    * multilingual/multi-source smoothing (p_s^α re-weighting) at the
    * α = 1/2 point, sized to a `totalTarget` row budget.
    *
    * Why α = 1/2 exactly and not a float exponent: `sqrt` is correctly
    * rounded under IEEE 754 on every engine (unlike `pow`, which may
    * differ in the last ulp between libm and Java and flip a floor at a
    * threshold boundary), and `floor(sqrt(bigint))` of a non-square is
    * therefore bit-identical everywhere — the whole pipeline stays in
    * exact integer arithmetic and the DuckDB oracle replays it
    * bit-for-bit. General-α smoothing at scale would quantize weights
    * on the driver (|strata| rows, control-plane) instead.
    *
    * Stratum s of size n_s gets target t_s = totalTarget·w_s div W
    * where w_s = isqrt(n_s), W = Σ w_s; membership is [[idBucket]] <
    * t_s·Buckets div n_s (capped at Buckets — no upsampling; compose
    * with [[mixtureUpsample]] for strata that need growth). Plan shape:
    * the per-stratum count and the 1-row W aggregate are the only
    * shuffles (both control-plane sized, broadcast back); the corpus is
    * filtered in place by a codegen'd integer predicate — identical
    * topology to [[stratifiedSample]].
    *
    * Range contract: totalTarget·w_s and t_s·Buckets must fit a Long —
    * holds through 100 TB corpora (n_s ≤ 1e13 ⇒ w_s ≤ ~3.2e6; with
    * totalTarget ≤ 1e11 the products stay ≤ ~3.2e17 < 2^63). */
  def temperatureSample(
      df: DataFrame,
      strataCols: Seq[String],
      idCol: Column,
      totalTarget: Long,
      seed: Int = 0): DataFrame = {
    require(totalTarget > 0 && totalTarget <= 100000000000L,
      s"totalTarget out of the documented Long-safe range: $totalTarget")
    val counts = df.groupBy(strataCols.map(col): _*)
      .agg(count(lit(1)).as("__ns"))
      .withColumn("__ws",
        floor(sqrt(col("__ns").cast("double"))).cast("long"))
    val wSum = counts.agg(sum(col("__ws")).as("__w")) // 1 row
    val thr = least(
      expr(s"(($totalTarget * __ws) div __w) * $Buckets div __ns"),
      lit(Buckets))
    df.join(broadcast(counts), strataCols)
      .crossJoin(broadcast(wSum))
      .filter(idBucket(idCol, seed) < thr)
      .drop("__ns", "__ws", "__w")
  }

  /** Per-stratum quantile gate: drop the bottom `dropPermille`/1000 of
    * each stratum by `orderCol` (quality-score filtering per language:
    * "keep everything above the 25th percentile of its language"). The
    * cut is rank-based, not interpolation-based: rows rank by
    * (`orderCol`, id) inside their stratum and the first
    * n_s·dropPermille div 1000 are dropped — exact integer arithmetic,
    * deterministic under ties, replayed bit-for-bit by the SQL oracle
    * (percentile_cont interpolation would put a float threshold between
    * engines).
    *
    * Cost = ONE hash shuffle on the strata columns with a per-partition
    * sort: the stratum size comes from an unordered count(*) window
    * over the SAME partition the rank window already shuffles for (a
    * separate groupBy-count pass would re-scan the corpus once per
    * call). The [[capPerStratum]] shape otherwise, with the same
    * mega-stratum caveat: a stratum sorts within one task, so
    * pathological strata call for a pre-bucketed two-level rank. */
  def quantileFilter(
      df: DataFrame,
      strataCols: Seq[String],
      orderCol: Column,
      idCol: Column,
      dropPermille: Int): DataFrame = {
    require(dropPermille >= 0 && dropPermille < 1000,
      s"dropPermille must be in [0, 1000): $dropPermille")
    val part = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCols.map(col): _*)
    val w = part.orderBy(orderCol.asc, idCol.asc)
    df.withColumn("__rk", row_number().over(w))
      .withColumn("__ns", count(lit(1)).over(part))
      .filter(col("__rk") > expr(s"(__ns * $dropPermille) div 1000"))
      .drop("__rk", "__ns")
  }

  /** Deterministic training-shard layout: assign every row to one of
    * `nShards` shards and a 1-based `seq` position inside it, in
    * globally shuffled order — the final "write the training data in
    * random order" step, without `rand()`. Shard = [[idBucket]] mod
    * nShards (so consecutive ids scatter); within-shard order is
    * (bucket, id) — a pure function of ids, so the exact layout replays
    * across runs, task retries, and engines, and a resumed job
    * re-produces byte-identical shards.
    *
    * Plan shape: ONE hash shuffle on the shard key + a per-shard sort
    * for the `row_number`. Shard count is the parallelism/memory lever:
    * pick nShards so a shard's rows fit a task's sort budget (at 100 TB
    * with 100k shards a shard is ~1 GB — sorts in-task; the shuffle is
    * the unavoidable global redistribution any shuffled layout costs). */
  def shardOrder(
      df: DataFrame,
      idCol: Column,
      nShards: Int,
      seed: Int = 0): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    val b = idBucket(idCol, seed)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__shard")).orderBy(col("__b").asc, idCol.asc)
    df.withColumn("__b", b)
      .withColumn("__shard", col("__b") % nShards)
      .withColumn("seq", row_number().over(w))
      .withColumn("shard", col("__shard"))
      .drop("__b", "__shard")
  }

  def takeBudget(
      df: DataFrame,
      idCol: Column,
      costCol: Column,
      budget: Long,
      seed: Int = 0,
      nRanges: Int = 256): DataFrame = {
    require(budget >= 0, s"budget must be non-negative: $budget")
    require(nRanges > 0, s"nRanges must be positive: $nRanges")
    // Ceiling width: any nRanges works; the last range is merely
    // narrower when nRanges does not divide Buckets. Ranges stay
    // contiguous in bucket order, which is all phase 2 relies on.
    val width = (Buckets + nRanges - 1) / nRanges
    val longCost = costCol.cast(org.apache.spark.sql.types.LongType)
    val withB = df
      .withColumn("__b", idBucket(idCol, seed))
      .withColumn("__p", floor(col("__b") / lit(width))
        .cast(org.apache.spark.sql.types.LongType))
    val totals = withB.groupBy(col("__p"))
      .agg(sum(longCost).as("__t"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = totals.map { case (p, t) =>
      val o = (p, acc); acc += t; o
    }.filter(_._2 <= budget) // ranges starting past the budget: pruned
    // (<= not <: a zero-cost row at offset == budget still qualifies)
    val spark = df.sparkSession
    val offDf = spark.createDataset(offsets.toSeq)(
      org.apache.spark.sql.Encoders.product[(Long, Long)])
      .toDF("__p", "__off")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__p")).orderBy(col("__b").asc, idCol.asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    withB.join(broadcast(offDf), Seq("__p"))
      .withColumn("__cum", sum(longCost).over(w) + col("__off"))
      .filter(col("__cum") <= budget)
      .drop("__p", "__b", "__off", "__cum")
  }

  /** Systematic probability-proportional-to-size sampling: walk the
    * corpus in deterministic-shuffle order ([[idBucket]], id) and
    * select every row whose cumulative weight crosses a multiple of
    * the step T div nTarget (T = total weight) — the classic
    * fixed-interval PPS design (Madow 1949): inclusion probability
    * ∝ weight for weights under the step, and heavy rows can never
    * be missed (weight ≥ step ⇒ always crosses a boundary). The
    * realized count is T div step when every weight is under the
    * step; a row spanning j boundaries selects ONCE and absorbs the
    * other j−1 slots (the standard certainty-unit behavior). The weighted complement of [[prioritySample]]
    * (which ranks; this one PACES — one pass, no per-stratum k), and
    * the standard "sample documents proportional to their token
    * count" primitive of a training-mix pipeline.
    *
    * Deterministic by construction: the conventional random start
    * u ∈ [0, step) is pinned to the hash-shuffled order instead of a
    * random draw (the [[idBucket]] replay discipline) — membership is
    * a pure function of ids and weights, identical on any engine.
    *
    * Scale shape: [[takeBudget]]'s distributed two-phase prefix sum
    * verbatim — per-range totals (control-plane collect), driver
    * exclusive offsets, broadcast back, per-range window — never a
    * global single-task window. Selection is the integer crossing
    * test cum div step > (cum − w) div step; zero-weight rows never
    * select.
    *
    * Range contract: Σ weight must fit a Long (10¹⁳ tokens ≪ 2⁶³). */
  def ppsSystematic(
      df: DataFrame,
      idCol: Column,
      weightCol: Column,
      nTarget: Long,
      seed: Int = 0,
      nRanges: Int = 256): DataFrame = {
    require(nTarget > 0, s"nTarget must be positive: $nTarget")
    require(nRanges > 0, s"nRanges must be positive: $nRanges")
    val width = (Buckets + nRanges - 1) / nRanges
    val longW = weightCol.cast(org.apache.spark.sql.types.LongType)
    val withB = df
      .withColumn("__w", greatest(longW, lit(0L)))
      .withColumn("__b", idBucket(idCol, seed))
      .withColumn("__p", floor(col("__b") / lit(width))
        .cast(org.apache.spark.sql.types.LongType))
    val totals = withB.groupBy(col("__p"))
      .agg(coalesce(sum(col("__w")), lit(0L)).as("__t"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = totals.map { case (p, t) =>
      val o = (p, acc); acc += t; o
    }
    val total = acc
    require(total >= nTarget,
      s"ppsSystematic: total weight $total < nTarget $nTarget")
    val step = total / nTarget
    val spark = df.sparkSession
    val offDf = spark.createDataset(offsets.toSeq)(
      org.apache.spark.sql.Encoders.product[(Long, Long)])
      .toDF("__p", "__off")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__p")).orderBy(col("__b").asc, idCol.asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    withB.join(broadcast(offDf), Seq("__p"))
      .withColumn("__cum", sum(col("__w")).over(w) + col("__off"))
      .filter(expr(s"__cum div $step") >
        expr(s"(__cum - __w) div $step"))
      .drop("__p", "__b", "__off", "__cum", "__w")
  }

  /** Water-filling token-budget allocation across sources — the
    * fair-mixing primitive behind "spend B tokens over these domains":
    * every source below the waterline is fully funded, every source
    * above it is capped at the SAME level c, with c the largest
    * integer such that Σ min(Tᵢ, c) ≤ B. This maximizes the minimum
    * allocation (the classic max-min fair / water-filling solution)
    * and is fully deterministic integer arithmetic, so the DuckDB
    * oracle replays it exactly.
    *
    * The budget is expressed as the exact fraction
    * `budgetNum/budgetDen` of the corpus total (integer div) so the
    * contract scales with the data instead of hard-coding a count.
    *
    * Closed form over totals sorted (ascending, id tiebreak): source
    * k is fully funded iff raising EVERY not-yet-funded source to its
    * level fits the budget (P₍ₖ₋₁₎ + Tₖ·(n−k+1) ≤ B — monotone in k),
    * K = the count of funded sources, and the waterline is
    * c = (B − P_K) div (n − K) when K < n. Up to n−K−1 leftover
    * tokens stay unallocated (integer waterline; documented, exact).
    *
    * Scale shape: ONE map-side-combined corpus aggregate to per-source
    * totals; everything after runs on the |sources|-row control-plane
    * frame (the single-partition window is over sources, never data).
    * Returns (groupCol, n_tokens, allocated, capped). */
  def waterFillBudget(
      df: DataFrame,
      groupCol: String,
      tokens: Column,
      budgetNum: Long,
      budgetDen: Long): DataFrame = {
    require(budgetNum >= 0 && budgetDen > 0, "budget fraction invalid")
    val lt = org.apache.spark.sql.types.LongType
    val t = df.groupBy(col(groupCol).as("__g"))
      .agg(sum(tokens.cast(lt)).as("__nt"))
    val w = Guards.seriesWindow(col("__nt").asc, col("__g").asc)
    val o = Guards.boundedSeries(t, "waterFill group totals")
      .select(col("__g"), col("__nt"),
      row_number().over(w).cast(lt).as("__k"),
      sum(col("__nt")).over(w).as("__pk"))
    val tot = t.agg(
      expr(s"(sum(__nt) * $budgetNum) div $budgetDen").as("__b"),
      count(lit(1)).as("__n"))
    val f = o.crossJoin(broadcast(tot))
      .withColumn("__funded",
        (col("__pk") - col("__nt")) +
          col("__nt") * (col("__n") - col("__k") + 1L) <= col("__b"))
    val sol = f.agg(
        sum(when(col("__funded"), 1L).otherwise(0L)).as("__nf"),
        coalesce(max(when(col("__funded"), col("__pk"))), lit(0L))
          .as("__pf"),
        max(col("__b")).as("__b2"),
        max(col("__n")).as("__n2"))
      .select(col("__nf"), col("__pf"),
        when(col("__nf") < col("__n2"),
          expr("(__b2 - __pf) div (__n2 - __nf)")).as("__cap"))
    f.crossJoin(broadcast(sol))
      .select(col("__g").as(groupCol),
        col("__nt").as("n_tokens"),
        when(col("__k") <= col("__nf"), col("__nt"))
          .otherwise(col("__cap")).cast(lt).as("allocated"),
        (col("__k") > col("__nf")).as("capped"))
  }

  /** Kish effective sample size of a WEIGHTED corpus: n_eff =
    * (Σw)²/Σw² and the design effect n/n_eff (Kish 1965) — what a
    * mixture's up-weighting actually costs in statistical power. A
    * corpus reweighted like [[mixtureUpsample]] keeps its row count
    * but NOT its information content: every variance estimate on the
    * weighted data behaves like a sample of n_eff rows, and a
    * design effect of 2 means error bars √2 wider than the row count
    * suggests.
    *
    * ONE map-side-combined aggregate; Σw and Σw² accumulate as
    * exact DECIMAL(38,0) with the cast BEFORE the multiply (integer
    * permille weights — [[mixtureUpsample]]'s unit); the two ratios
    * run in literal oracle order on the 1-row frame. NULL weights
    * are excluded; non-positive weights are rejected loudly.
    *
    * Returns one row: (n, sum_w, n_eff, design_effect). */
  def kishEss(
      df: DataFrame,
      weight: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val dbl = org.apache.spark.sql.types.DoubleType
    val lt = org.apache.spark.sql.types.LongType
    val w = weight.cast(lt)
    val one = df.filter(w.isNotNull)
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(w <= 0, 1L).otherwise(0L)), lit(0L))
          .as("__bad"),
        coalesce(sum(w.cast(dec)), lit(0).cast(dec)).as("__sw"),
        coalesce(sum(w.cast(dec) * w), lit(0).cast(dec)).as("__sww"))
    def d(c: Column) = c.cast(dbl)
    def safe(c: Column) = when(c =!= 0.0, c).otherwise(lit(1.0))
    val ok = col("n") > 0 && col("__bad") === 0 &&
      d(col("__sww")) > 0.0
    val nEff = d(col("__sw")) * d(col("__sw")) / safe(d(col("__sww")))
    one.select(col("n"), col("__sw").cast(lt).as("sum_w"),
      when(ok, round(nEff, 6))
        .otherwise(lit(null).cast(dbl)).as("n_eff"),
      when(ok, round(d(col("n")) * d(col("__sww")) /
        safe(d(col("__sw")) * d(col("__sw"))), 6))
        .otherwise(lit(null).cast(dbl)).as("design_effect"))
  }

  /** Subsampling-only plan to hit a TARGET mixture: given per-stratum
    * target shares in ppm (the published training-mix recipe), the
    * largest total sample N* every stratum can support without
    * upsampling is N* = min_g(avail_g·10⁶ div share_g), and each
    * stratum contributes share_g·N* div 10⁶ rows. The feasibility
    * PLANNER in front of [[mixtureUpsample]] (which replicates to hit
    * weights) and [[waterFillBudget]] (which splits a budget
    * max-min-fair): this one answers "how much corpus does the
    * recipe's binding stratum leave us, and what does each stratum
    * give up". Strata outside the recipe are excluded by contract; a
    * recipe stratum with no rows pins N* = 0 (visible, not silent).
    *
    * Scale shape: ONE map-side-combined count aggregate; the plan
    * solves on the |targets|-row control-plane frame (targets
    * broadcast, the 1-row N* crossJoins back). Exact integer floor
    * divisions only.
    *
    * Returns one row per target stratum: (stratum, n_avail,
    * target_ppm, n_take, utilization_ppm, binding — the stratum
    * whose size set N*). */
  def targetMixturePlan(
      df: DataFrame,
      strataCol: String,
      targetsPpm: Seq[(String, Long)]): DataFrame = {
    require(targetsPpm.nonEmpty, "need at least one target stratum")
    require(targetsPpm.forall(_._2 > 0), "target shares must be > 0")
    require(targetsPpm.map(_._2).sum <= 1000000L,
      s"target shares exceed 10^6 ppm: ${targetsPpm.map(_._2).sum}")
    require(targetsPpm.map(_._1).distinct.size == targetsPpm.size,
      "duplicate target strata")
    val spark = df.sparkSession
    import spark.implicits._
    val targets = targetsPpm.toDF("stratum", "target_ppm")
    val avail = df.filter(col(strataCol).isNotNull)
      .groupBy(col(strataCol).cast(
        org.apache.spark.sql.types.StringType).as("stratum"))
      .agg(count(lit(1)).as("__na"))
    val per = broadcast(targets)
      .join(avail, Seq("stratum"), "left")
      .select(col("stratum"), col("target_ppm"),
        coalesce(col("__na"), lit(0L)).as("n_avail"))
      .withColumn("__cap", expr("n_avail * 1000000 div target_ppm"))
    val nstar = per.agg(min(col("__cap")).as("__nstar"))
    per.crossJoin(broadcast(nstar)) // 1-row control plane
      .select(col("stratum"), col("n_avail"), col("target_ppm"),
        expr("target_ppm * __nstar div 1000000").as("n_take"),
        when(col("n_avail") > 0,
          expr("(target_ppm * __nstar div 1000000) * 1000000" +
            " div n_avail")).otherwise(lit(0L)).as("utilization_ppm"),
        (col("__cap") === col("__nstar")).as("binding"))
  }

  /** Neyman-allocated stratified sample: spend a global `budget` of
    * rows across strata proportionally to N_h·σ_h — size × standard
    * deviation of `value` — so VOLATILE strata get surveyed harder
    * and near-constant ones barely at all (the optimal allocation for
    * estimating the overall mean at fixed budget; proportional
    * allocation is the σ-uniform special case). The audit-sampling
    * complement to [[stratifiedSample]]'s flat target.
    *
    * Scale shape: one map-side-combined moments pass (n, Σv, Σv² —
    * exact DECIMAL, squares cast BEFORE the multiply), then the whole
    * allocation runs on the |strata|-row control frame: weights
    * w_h = round(√(n·Σv² − (Σv)²), 6) fix as DECIMAL so their total
    * is order-independent, integer base shares floor-divide, and the
    * leftover budget spreads by largest fractional remainder (ties
    * on the stratum key). Selection is the [[capPerStratum]] rank —
    * (idBucket, id) per stratum, first `alloc` win — so membership
    * is a pure function of the row id. A stratum saturating at its
    * own size undershoots the budget (documented Neyman caveat, as
    * is σ = 0 ⇒ weight 0).
    *
    * Returns the surviving rows plus (`__alloc`, `__w`) for the
    * caller's audit aggregate. */
  def neymanSample(
      df: DataFrame,
      strataCols: Seq[String],
      value: Column,
      idCol: Column,
      budget: Long,
      seed: Int = 0): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val w = org.apache.spark.sql.expressions.Window
    val dec4 = org.apache.spark.sql.types.DecimalType(18, 4)
    val dec8 = org.apache.spark.sql.types.DecimalType(38, 8)
    val dbl = org.apache.spark.sql.types.DoubleType
    val v4 = value.cast(dec4)
    val m = df.groupBy(strataCols.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        sum(v4).cast(org.apache.spark.sql.types.DecimalType(38, 4))
          .as("__s1"),
        sum((v4 * v4).cast(dec8)).cast(dec8).as("__s2"))
    val nd = col("__n").cast(dbl)
    val wgt = round(sqrt(greatest(lit(0.0),
      nd * col("__s2").cast(dbl) -
        col("__s1").cast(dbl) * col("__s1").cast(dbl))), 6)
    val wAll = w.partitionBy()
      .rowsBetween(w.unboundedPreceding, w.unboundedFollowing)
    val keyAsc = strataCols.map(col(_).asc)
    val alloc = m
      .withColumn("__w", wgt.cast(
        org.apache.spark.sql.types.DecimalType(28, 6)))
      .withColumn("__totw", sum(col("__w")).over(wAll)
        .cast(org.apache.spark.sql.types.DecimalType(38, 6)))
      .withColumn("__share",
        when(col("__totw") > 0,
          lit(budget) * col("__w").cast(dbl) / col("__totw").cast(dbl))
          .otherwise(lit(0.0)))
      .withColumn("__base", floor(col("__share")).cast("long"))
      .withColumn("__rem",
        lit(budget) - sum(col("__base")).over(wAll))
      .withColumn("__rkf", row_number().over(
        w.orderBy((Seq((col("__share") - col("__base")).desc) ++
          keyAsc): _*)))
      // the remainder bump is gated on __totw > 0: when EVERY stratum
      // is degenerate (σ = 0 ⇒ all weights 0) the shares/bases are 0
      // but __rem is still the full budget, and an ungated bump would
      // hand 1 row to each of the first `budget` strata in key order —
      // contradicting the documented "weight 0 ⇒ no allocation"
      // contract (ADVICE r8)
      .withColumn("__alloc",
        least(col("__base") +
          when(col("__totw") > 0 && col("__rkf") <= col("__rem"), 1L)
            .otherwise(0L),
          col("__n")))
      .select(strataCols.map(col) ++
        Seq(col("__alloc"), col("__w")): _*)
    val wSel = w.partitionBy(strataCols.map(col): _*)
      .orderBy(idBucket(idCol, seed).asc, idCol.asc)
    df.join(broadcast(alloc), strataCols)
      .withColumn("__rk", row_number().over(wSel))
      .filter(col("__rk") <= col("__alloc"))
      .drop("__rk")
  }
}
