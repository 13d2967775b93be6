package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication family for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. Designed for the
  * 100 TB regime:
  *
  *  - exact dedup shuffles once on the content hash (never on the raw
  *    text when `keyExpr` is a digest);
  *  - SimHash and MinHash signatures are PER-ROW native expressions
  *    (a doc's signature depends only on its own row): zero exchanges,
  *    no explode blowup — the scan stage emits finished signatures;
  *  - LSH banding turns the quadratic all-pairs problem into a
  *    per-bucket join; bucket sizes are counted BEFORE any per-bucket
  *    materialization, so a degenerate hot bucket is dropped by a
  *    semi-join without ever building its member list (no
  *    collect_list OOM risk);
  *  - n-gram Jaccard uses AllPairs-style prefix filtering over
  *    hashed shingles: the candidate join carries 8-byte longs, never
  *    shingle text, and the prefix + length filters are provably
  *    complete for the threshold (no missed pairs).
  *
  * The sketches (MinHash, SimHash, shingle and window hashes) use one
  * hash family: the "portable" polynomial hash [[polyHash]] (base 31
  * mod 1e9+7) plus the affine family over it ([[affineA]],
  * [[affineB]]). DuckDB replays it exactly, so every approximate
  * operator gets a value-level oracle instead of a rows-only check.
  * The price is a ~1e9-value hash space: n distinct shingles collide
  * in about n²/2e9 pairs. The exact-count operators state that bound
  * where it applies; the oracle replays every collision, so their
  * check stays exact. xxhash64 remains only for internal keys whose
  * values never reach an output: LSH band buckets, Bloom positions,
  * edit-distance blocks and the 64-bit shingle hashes of
  * [[ngramJaccardPairs]].
  *
  * All-new capability beyond the reference (SURVEY.md §7.2 step 7).
  */
object Dedup {

  /** Modulus shared by the portable hash family (fits in 30 bits, so
    * affine transforms stay far from Long overflow under ANSI mode). */
  val PortableMod = 1000000007L

  /** Affine hash-family constants, derived arithmetically so the DuckDB
    * oracle generator reproduces them from the same formulas. */
  def affineA(i: Int): Long = ((2L * i + 1) * 104729L) % PortableMod
  def affineB(i: Int): Long = (i.toLong * 94906249L + 12345L) % PortableMod

  /** Portable 64-bit-safe string hash: rolling polynomial over code
    * points, base 31 mod 1e9+7 — the same construction as
    * [[TextAnalysis.fingerprintRolling]] (whose DuckDB twin is proven
    * hash-identical by the q_fingerprint gate), minus the whitespace
    * normalization (inputs here are already-normalized tokens).
    * Computed by the native codegen'd [[graft.functions.PolyHash]]
    * expression — value-identical to the old split/ascii HOF fold,
    * ~10× cheaper per string. */
  def polyHash(c: Column): Column = graft.functions.GraftFunctions.polyHash(c)

  /** i-th portable hash function over a pre-hashed value. */
  private def affine(i: Int, h: Column): Column =
    pmod(h * affineA(i) + affineB(i), lit(PortableMod))

  /** Bands for an LSH banding of `numHashes` rows targeted at
    * `threshold`: the S-curve midpoint of (b bands × r rows) sits at
    * (1/b)^(1/r), so pick the LARGEST r (fewest, widest bands — the
    * cheapest banding, candidates ∝ collision probability) whose
    * midpoint still sits at or below the threshold; pairs at the
    * threshold then land on the high-recall side of the curve. E.g.
    * 64 hashes: t=0.8 → 8×8 (midpoint 0.77), t=0.5 → 16×4 (0.5),
    * t=0.2 → 32×2 (0.18 — a stress regime: nearly everything
    * collides; prefer t ≥ 0.5 or accept the candidate flood). */
  def lshBanding(numHashes: Int, threshold: Double): Int = {
    require(numHashes > 0 && threshold > 0 && threshold <= 1)
    val rs = (1 to numHashes).filter(numHashes % _ == 0)
    val r = rs
      .filter(r => math.pow(1.0 / (numHashes / r), 1.0 / r) <= threshold)
      .lastOption
      .getOrElse(1)
    numHashes / r
  }

  /** Persist-and-force `result`, then release the operator-owned input
    * caches: the pair set a dedup pipeline returns is tiny (near-dup
    * pairs above threshold) while its inputs are corpus-sized shingle
    * caches — forcing the small output lets the operator drop the big
    * inputs instead of leaking them to the session (the caller owns
    * ONLY the returned frame and can `unpersist()` it when done). */
  private def ownResult(result: DataFrame, inputs: DataFrame*): DataFrame = {
    val out = result.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    inputs.foreach(_.unpersist(false))
    out
  }

  /** Exact dedup: keep, per distinct value of `key`, the single row with
    * the smallest `tieBreaker`. One hash-partitioned shuffle on the key.
    */
  def exact(df: DataFrame, key: Column, tieBreaker: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(tieBreaker).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Incremental exact dedup — the daily-sync pattern applied to
    * curation: a new batch is deduplicated (a) within itself
    * (keep-smallest-id per content fingerprint) and (b) against the
    * accumulated HISTORY of fingerprints, without ever re-reading the
    * historical corpus. At 100 TB the history is a compact digest
    * table (16 bytes/doc) maintained append-only by each run — the
    * same incremental-state shape as the reference's daily upsert
    * ledger. One shuffle on the digest for (a); (b) is an anti-join
    * that broadcasts when the day's history partition is small, or
    * shuffles both sides on the digest otherwise.
    *
    * `history` must expose a `fp` column of the same fingerprint
    * family. Returns the surviving new rows (original columns). */
  def incrementalExact(
      newDocs: DataFrame,
      history: DataFrame,
      idCol: String,
      text: Column): DataFrame = {
    val fp = TextAnalysis.fingerprintMd5(text)
    exact(newDocs.withColumn("__fp", fp), col("__fp"), idCol)
      .join(history.select(col("fp").as("__fp")).distinct(),
        Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** [[incrementalExact]] with a Bloom pre-filter on the history
    * digest — the 100 TB shape of "dedup today's batch against ALL of
    * history": most new documents are genuinely new, so the expensive
    * part of the incremental anti-join is shuffling billions of
    * definitely-absent fingerprints against the history table. A Bloom
    * filter over the history digests answers "definitely not in
    * history" per row inside codegen; only the bloom-POSITIVE sliver
    * (true hits + false positives, rate set by `bits`) reaches the
    * anti-join. Blooms have no false negatives and every positive is
    * exact-verified, so the result EQUALS [[incrementalExact]] —
    * that equality is the spec, and the catalog oracle re-derives the
    * exact answer independently.
    *
    * Mechanics: `numHashes` positions per digest from seeded xxhash64
    * mod `bits`; the filter is built distributedly (explode positions →
    * `bit_or` of 64-bit words — one narrow shuffle of |history|·k
    * longs collapsing to bits/64 rows) and the word array rides into
    * the probe expression as a literal (bits=2²⁰ → 128 KiB). The
    * collect is control-plane-bounded (bits/64 rows, never data rows).
    * Size `bits` ≈ 1.44·|history|·log₂(1/p) for false-positive rate p;
    * beyond literal-friendly sizes (~tens of MiB) the same words array
    * would ship via a real broadcast variable and a custom Expression.
    *
    * The in-batch keep-smallest dedup runs AFTER the history filter:
    * anti-joining on the fingerprint removes whole fingerprint groups,
    * so the two steps commute and the window sees only survivors. */
  def incrementalExactBloom(
      newDocs: DataFrame,
      history: DataFrame,
      idCol: String,
      text: Column,
      bits: Int = 1 << 20,
      numHashes: Int = 5): DataFrame = {
    require(bits >= 128 && (bits & (bits - 1)) == 0,
      s"bits must be a power of two >= 128: $bits")
    require(numHashes >= 1 && numHashes <= 16,
      s"numHashes out of range: $numHashes")
    val hist = history.select(col("fp")).distinct()
    def posSql(i: Int) = s"pmod(xxhash64(__fp, $i), ${bits.toLong}L)"
    // Build: one narrow shuffle (k longs per history digest) folding
    // into bits/64 bit_or'd words.
    val words = new Array[Long](bits / 64)
    hist.select(col("fp").as("__fp"))
      .selectExpr("explode(array(" +
        (0 until numHashes).map(posSql).mkString(",") + ")) AS pos")
      .selectExpr("pos div 64 AS w",
        "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)) AS m")
      .groupBy(col("w")).agg(bit_or(col("m")).as("m"))
      .collect()
      .foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    // Each xxhash64 is written exactly once: positions materialize
    // into a k-element array, and the word/bit lookups read the bound
    // lambda variable — no reliance on CSE to dedupe 2k hash calls.
    val probe = "forall(array(" +
      (0 until numHashes).map(posSql).mkString(",") + "), p -> " +
      "(element_at(__bloom, CAST(p div 64 AS INT) + 1) & " +
      "shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))) != 0)"
    val tagged = newDocs
      .withColumn("__fp", TextAnalysis.fingerprintMd5(text))
      .withColumn("__bloom", typedLit(words.toSeq))
      .withColumn("__maybe", expr(probe))
      .drop("__bloom")
    // Bloom-negative rows skip the join entirely (the scale win);
    // positives are exact-verified so false positives cannot survive.
    val fresh = tagged.filter(!col("__maybe"))
    // unionByName: the using-column anti-join reorders __fp to the
    // front, so a positional union would misalign the branches.
    val verified = tagged.filter(col("__maybe"))
      .join(hist.select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
    exact(fresh.unionByName(verified), col("__fp"), idCol)
      .drop("__maybe", "__fp")
  }

  /** All UNORDERED pairs of distinct `strCol` values within edit
    * distance 1 (substitution, insertion, or deletion) — entity
    * resolution for dirty key domains (product names, vendor strings).
    *
    * Blocking is the single-DELETION neighborhood: each value keys to
    * itself plus every one-char-deleted variant, and two values within
    * edit distance 1 PROVABLY share a key (substitution: delete the
    * differing position from both; insert/delete: the deletion variant
    * of the longer IS the shorter). So the blocked join is COMPLETE —
    * the exhaustive-verify filter only removes false candidates, never
    * misses a pair; the gate compares against a brute-force oracle.
    *
    * Scale shape: the value domain is deduplicated first (the pair
    * semantics live on values, not rows), block keys travel as 8-byte
    * hashes, and the self-join shuffles |s|·(len+1) keys — linear in
    * the domain, vs the quadratic brute force. A pathological block
    * (thousands of values one deletion apart) would need the LSH-style
    * bucket-size guard; real key domains are nowhere near it. */
  def fuzzyPairsEditDistance(df: DataFrame, strCol: Column): DataFrame = {
    val names = df.select(strCol.as("s")).filter(col("s").isNotNull)
      .distinct()
    val keyed = names
      .select(col("s"), explode(array_union(
        array(col("s")),
        when(length(col("s")) > 0, expr(
          "transform(sequence(1, length(s)), i -> " +
            "concat(substring(s, 1, i - 1), " +
            "substring(s, i + 1, length(s) - i)))"))
          .otherwise(array()))).as("__v"))
      .select(col("s"), xxhash64(col("__v")).as("__b"))
      .distinct()
    keyed.as("l")
      .join(keyed.as("r"),
        col("l.__b") === col("r.__b") && col("l.s") < col("r.s"))
      .select(col("l.s").as("a"), col("r.s").as("b"))
      .distinct()
      .filter(levenshtein(col("a"), col("b")) <= 1)
  }

  /** Word n-gram shingles (default 3-word), distinct, as an array.
    * `toks` should be an attribute (a staged column), not an inline
    * expression — HOFs defeat subexpression elimination, so an inline
    * token array gets recomputed once per shingle. */
  def shinglesOfTokens(toks: Column, n: Int = 3): Column = {
    val count = size(toks)
    when(count >= n,
      array_distinct(transform(
        sequence(lit(0), count - n),
        i => array_join(slice(toks, i + 1, lit(n)), " "))))
      .otherwise(array(array_join(toks, " ")))
  }

  /** Convenience inline form — prefer [[shingleFrame]] /
    * [[hashedShingleFrame]] (staged + cached) in pipelines. */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesOfTokens(TextAnalysis.tokens(lower(text)), n)

  /** (id, shingle-array) frame, cached — every dedup pipeline branches
    * off this at least twice (index build + verification joins), and
    * re-shingling the corpus per branch was the dominant waste in the
    * r1 bench. Callers owning the lifecycle can `unpersist()` it. */
  def shingleFrame(
      docs: DataFrame,
      idCol: String,
      text: Column,
      shingleSize: Int = 3): DataFrame =
    docs
      .select(col(idCol).as("__id"),
        TextAnalysis.tokens(lower(text)).as("__tk"))
      .select(col("__id"),
        shinglesOfTokens(col("__tk"), shingleSize).as("__sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Hashed-shingle arrays: each distinct shingle as one xxhash64 long,
    * built WITHOUT materializing shingle strings — tokens are hashed
    * once, and a shingle hash is the hash of its n-token hash slice.
    * An order of magnitude cheaper than string shingles to build AND to
    * intersect (long equality vs string hashing), at the cost of a
    * ~2⁻⁶⁴ per-pair collision probability — the right trade at scale.
    * Cached for the same reason as [[shingleFrame]]. */
  def hashedShingleFrame(
      docs: DataFrame,
      idCol: String,
      text: Column,
      shingleSize: Int = 3): DataFrame = {
    // Stage the token-hash array as an ATTRIBUTE before fanning out:
    // higher-order functions defeat subexpression elimination, so an
    // inline `th` referenced once per shingle would re-hash every token
    // O(shingles) times.
    val th = col("__th")
    val n = size(th)
    val arr = when(n >= shingleSize,
      array_distinct(transform(
        sequence(lit(0), n - shingleSize),
        i => xxhash64(slice(th, i + 1, lit(shingleSize))))))
      .otherwise(array(xxhash64(th)))
    docs
      .select(col(idCol).as("__id"),
        transform(TextAnalysis.tokens(lower(text)), t => xxhash64(t))
          .as("__th"))
      .select(col("__id"), arr.as("__sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** MinHash signature: `numHashes` min-hashes over the shingle set,
    * the affine family applied to one polyHash per shingle (the string
    * is hashed once, not `numHashes` times).
    *
    * Computed PER ROW by the fused [[graft.functions.MinHashFromTokens]]
    * kernel straight from the token array — shingle strings are never
    * built (constructing them is the dominant cost of the signature
    * plan). A doc's signature depends only on its own shingles, so
    * like the per-row [[simhash]] there is ZERO exchange; `DedupSpec`
    * pins it value-identical to the explode → groupBy(min) form. */
  def minhashSignatures(
      docs: DataFrame,
      idCol: String,
      text: Column,
      numHashes: Int = 64,
      shingleSize: Int = 3): DataFrame =
    docs.select(col(idCol),
      graft.functions.GraftFunctions.minhashFromTokens(
        TextAnalysis.tokens(lower(text)), shingleSize, numHashes)
        .as("signature"))

  /** Signatures from an (__id, __sh string-array) frame — the entry
    * the cached-[[shingleFrame]] pipelines use (the frame is needed
    * anyway for the exact-Jaccard verify joins, so signatures read the
    * SAME cache). Per-row native expression, no shuffle — total over
    * shinglesOfTokens-built frames (≥1 non-null shingle per doc, so no
    * null signatures arise; a degenerate caller-built empty array
    * yields NULL, which downstream banding's generate simply drops). */
  private def signaturesOfShingles(
      sh: DataFrame,
      idCol: String,
      numHashes: Int): DataFrame =
    sh.select(col("__id").as(idCol),
      graft.functions.GraftFunctions.minhashSig(
        transform(col("__sh"), s => polyHash(s)), numHashes)
        .as("signature"))

  /** The largest LSH bucket [[lshCandidatePairs]] pairs up. */
  private val LshMaxBucket = 1000

  /** LSH candidate pairs from MinHash signatures: split each signature
    * into `bands` bands of `numHashes / bands` rows, bucket docs by
    * band value, and pair up docs sharing a bucket.
    *
    * `numHashes` must divide evenly into `bands` (explicit integer
    * math — a fractional band width would silently overlap bands).
    *
    * Skew guard: bucket sizes come from a count-only aggregation
    * (map-side combined longs), and only buckets with
    * 2..[[LshMaxBucket]] members survive into the pair-generating
    * self-join — a degenerate bucket (B docs → B² pairs) is dropped
    * before anything per-member is materialized. Output: (a, b) with
    * a < b, distinct.
    */
  def lshCandidatePairs(
      signatures: DataFrame,
      idCol: String,
      numHashes: Int,
      bands: Int): DataFrame = {
    require(bands > 0, "bands must be positive")
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be a multiple of bands ($bands)")
    val width = numHashes / bands
    val banded = signatures.select(
      col(idCol),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(
          b,
          array_join(transform(
            slice(col("signature"), b * lit(width) + lit(1), lit(width)),
            _.cast(StringType)), ","))))
        .as(Seq("band", "bucket")))
    val keepBuckets = banded
      .groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bc"))
      .filter(col("__bc").between(2, LshMaxBucket))
      .select("band", "bucket")
    val kept = banded.join(keepBuckets, Seq("band", "bucket"))
    kept.select(col("band"), col("bucket"), col(idCol).as("a"))
      .join(
        kept.select(col("band"), col("bucket"), col(idCol).as("b")),
        Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct()
  }

  /** The most propagation rounds [[connectedComponents]] runs before
    * it fails as not converged. */
  private val CcMaxIter = 20

  /** Connected components over an undirected pair set — the CORRECT
    * cluster semantics for transitive near-duplicates: pairs (1,5) and
    * (3,5) form ONE cluster {1,3,5}, where the pairwise
    * drop-the-larger policy of [[dropNearDuplicates]] would keep both
    * 1 and 3. Returns (id, component) with component = the smallest id
    * reachable from `id`.
    *
    * Iterative min-label propagation: each round every node adopts the
    * minimum label among itself and its neighbors; converges in
    * O(component diameter) rounds — near-dup clusters are shallow, so
    * a handful of rounds suffices at any corpus size. Each round is
    * one hash join + one groupBy on ids (8-byte shuffles); the driver
    * only checks the scalar changed-count between rounds. The fixpoint
    * is independent of iteration order, so results are deterministic.
    */
  def connectedComponents(
      pairs: DataFrame,
      numPartitions: Int = 0,
      localThreshold: Long = 1L << 20): DataFrame = {
    // Near-dup pair sets are usually TINY relative to the corpus (the
    // whole point of dedup). Below `localThreshold` edges the graph is
    // a bounded control-plane object (≤16 MiB of id pairs at the
    // default 2^20), and a driver-side union-find beats N propagation
    // rounds × 2 Spark jobs each by orders of magnitude in fixed
    // overhead. Above the threshold — the genuine 100 TB regime —
    // the distributed propagation loop below runs unchanged.
    if (localThreshold > 0 && pairs.count() <= localThreshold)
      return localComponents(pairs)
    // `numPartitions > 0` pins the loop's parallelism
    // to the pair set's actual size (callers know it: the pair frame
    // is persisted+counted by the pair operators).
    val edges0 = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    val edges = (if (numPartitions > 0) edges0.repartition(numPartitions)
                 else edges0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Each round's frame is localCheckpoint'ed (eager): without lineage
    // truncation the lazy plan references the previous round TWICE
    // (next labels + changed-count join) and doubles per iteration —
    // exponential plan blowup. On a cluster a reliable checkpoint dir
    // serves the same role.
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < CcMaxIter) {
      iter += 1
      val fromNeighbors = labels
        .join(edges, col("id") === col("src"))
        .groupBy(col("dst").as("id2"))
        .agg(min(col("component")).as("nbMin"))
      val next0 = labels
        .join(fromNeighbors, col("id") === col("id2"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbMin"), col("component")))
            .as("component"))
      val next = (if (numPartitions > 0) next0.repartition(numPartitions)
                  else next0).localCheckpoint(true)
      val changed = next.join(labels.withColumnRenamed("component", "old"),
          Seq("id"))
        .filter(col("component") =!= col("old")).count()
      labels = next
      converged = changed == 0
    }
    edges.unpersist(false)
    require(converged,
      s"label propagation did not converge in $CcMaxIter rounds")
    labels
  }

  /** Driver-side union-find for pair sets under the control-plane
    * bound (see [[connectedComponents]]). Same contract: (id,
    * component) with component = the smallest id in the cluster, id
    * type preserved from the pair columns. Ids are collected AS-IS —
    * a LongType cast would null out string ids and diverge from the
    * distributed path (ADVICE r3); "smallest" uses the same ordering
    * Spark's `min`/`least` applies to that type. */
  private def localComponents(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val idType = pairs.schema("a").dataType
    val ord: Ordering[Any] = idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Ordering.by((x: Any) => x.asInstanceOf[Number].longValue)
      case FloatType | DoubleType =>
        Ordering.by((x: Any) => x.asInstanceOf[Number].doubleValue)
      case StringType => Ordering.by((x: Any) => x.asInstanceOf[String])
      case _: DecimalType =>
        Ordering.by((x: Any) => x.asInstanceOf[java.math.BigDecimal])
      case t => throw new IllegalArgumentException(
        s"connectedComponents: unsupported id type $t " +
          "(integral, floating, decimal, or string ids)")
    }
    val edges = pairs.select(col("a"), col("b"))
      .collect().map(r => (r.get(0), r.get(1)))
    val parent = scala.collection.mutable.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    // roots are unioned min-first, so find() already yields the
    // smallest id of each cluster
    import scala.jdk.CollectionConverters._
    val rows: java.util.List[org.apache.spark.sql.Row] =
      parent.keys.toSeq.sorted(ord)
        .map(id => org.apache.spark.sql.Row(id, find(id))).asJava
    spark.createDataFrame(rows, StructType(Seq(
      StructField("id", idType), StructField("component", idType))))
  }

  /** Benchmark decontamination: which training docs share at least
    * `minShared` distinct `shingleSize`-gram shingles with an
    * evaluation document? (Containment, not symmetric Jaccard — a
    * short eval prompt embedded in a long train doc is exactly what
    * must be caught, and its Jaccard is near zero.)
    *
    * Scale shape: the eval set is tiny next to a 100 TB corpus, so
    * its shingle index broadcasts and the corpus streams through one
    * map-side hash join — no corpus shuffle at all. Shingles travel as
    * 8-byte hashes, never strings.
    *
    * Collision bound: shingles are counted by [[polyHash]] value, a
    * ~1e9-value space, so n distinct shingles collide in about
    * n²/2e9 pairs; a collision can add one to `n_shared`. The oracle
    * replays the same hash, so its check stays exact.
    *
    * Returns (train_id, eval_id, n_shared), n_shared ≥ minShared.
    */
  def containmentPairs(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      text: Column,
      shingleSize: Int = 3,
      minShared: Int = 2): DataFrame = {
    require(minShared > 0)
    def shingleHashes(df: DataFrame, out: String): DataFrame = {
      // stage the token array as an attribute BEFORE shingling — the
      // inline form re-tokenizes once per shingle (HOFs defeat
      // subexpression elimination; same trap shingleFrame documents)
      df.select(col(idCol).as(out),
          TextAnalysis.tokens(lower(text)).as("__tk"))
        .select(col(out),
          explode(shinglesOfTokens(col("__tk"), shingleSize)).as("__s"))
        .select(col(out), polyHash(col("__s")).as("__h"))
        .distinct()
    }
    val trainSh = shingleHashes(corpus, "train_id")
    val evalSh = shingleHashes(evalSet, "eval_id")
    trainSh.join(broadcast(evalSh), Seq("__h"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Apply a dedup decision: drop every doc appearing as the larger id
    * of a near-dup pair (keep-smallest-id policy — pairs are emitted
    * with a < b by every pair generator here). One broadcast-friendly
    * anti-join; the pair set is tiny relative to the corpus. */
  def dropNearDuplicates(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame): DataFrame =
    docs.join(
      broadcast(pairs.select(col("b").as(idCol)).distinct()),
      Seq(idCol), "left_anti")

  /** Estimated Jaccard similarity from two MinHash signatures:
    * fraction of agreeing hash positions. */
  def minhashJaccard(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x))
      .cast(DoubleType) / size(sigA)

  /** Exact n-gram Jaccard between two shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast(DoubleType)
    val union = (size(a) + size(b)).cast(DoubleType) - inter
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** Shingle width of the MinHash operators and [[lshSCurveAudit]]. */
  private val MinhashShingle = 3

  /** End-to-end MinHash-LSH near-dup pairs: signature → banded LSH →
    * candidate pairs → exact n-gram-Jaccard verification ≥ threshold.
    * Returns (a, b, jaccard), small, persisted and forced — the
    * corpus-sized shingle cache is released before returning (the
    * caller owns only the result; `unpersist()` it when done).
    * The banding derives from the threshold via [[lshBanding]];
    * shingles are [[MinhashShingle]] characters wide. */
  def minhashNearDupPairs(
      docs: DataFrame,
      idCol: String,
      text: Column,
      threshold: Double = 0.8,
      numHashes: Int = 64): DataFrame = {
    val sh = shingleFrame(docs, idCol, text, MinhashShingle)
    val sigs = signaturesOfShingles(sh, idCol, numHashes)
    val cand = lshCandidatePairs(sigs, idCol, numHashes,
      lshBanding(numHashes, threshold))
    val pairs = cand
      .join(sh.select(col("__id").as("a"), col("__sh").as("sh_a")), Seq("a"))
      .join(sh.select(col("__id").as("b"), col("__sh").as("sh_b")), Seq("b"))
      .select(col("a"), col("b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    ownResult(pairs, sh)
  }

  /** Estimator-quality audit of the MinHash family — the dedup-side
    * twin of the ANN recall audit: for every LSH candidate pair, the
    * signature estimate of Jaccard (matching lanes / `numHashes`)
    * against the exact shingle Jaccard, rolled up to one row
    * (n_pairs, mae, bias, max_ae). A drifting MAE (or a bias away
    * from 0) means the signature width no longer supports the dedup
    * threshold — the number to check before trusting `numHashes` at a
    * new corpus mix.
    *
    * Scale shape: identical to [[minhashNearDupPairs]] up to the
    * candidate set (banded buckets, id-pair shuffles); the audit adds
    * two signature joins (fixed 8·`numHashes`-byte rows) next to the
    * shingle-verify joins the pair pipeline already pays, and the
    * rollup is a map-side-combined scalar aggregate. Determinism:
    * the estimate is an exact /`numHashes` binary fraction and the
    * exact Jaccard rounds to 6 dp; both fix as DECIMAL(18,6) before
    * the error sums (exact, order-independent), one rounded division
    * at the edge. Banding and shingles as in [[minhashNearDupPairs]]. */
  def minhashEstimatorAudit(
      docs: DataFrame,
      idCol: String,
      text: Column,
      threshold: Double = 0.8,
      numHashes: Int = 64): DataFrame = {
    val sh = shingleFrame(docs, idCol, text, MinhashShingle)
    val sigs = signaturesOfShingles(sh, idCol, numHashes)
    val cand = lshCandidatePairs(sigs, idCol, numHashes,
      lshBanding(numHashes, threshold))
    val est = round(minhashJaccard(col("sig_a"), col("sig_b")), 6)
      .cast(DecimalType(18, 6))
    val exact = round(jaccard(col("sh_a"), col("sh_b")), 6)
      .cast(DecimalType(18, 6))
    val perPair = cand
      .join(sigs.select(col(idCol).as("a"), col("signature").as("sig_a")),
        Seq("a"))
      .join(sigs.select(col(idCol).as("b"), col("signature").as("sig_b")),
        Seq("b"))
      .join(sh.select(col("__id").as("a"), col("__sh").as("sh_a")), Seq("a"))
      .join(sh.select(col("__id").as("b"), col("__sh").as("sh_b")), Seq("b"))
      .select(est.as("__e"), exact.as("__x"))
    val out = perPair.agg(
      count(lit(1)).as("n_pairs"),
      round(sum(abs(col("__e") - col("__x"))).cast(DoubleType) /
        count(lit(1)), 6).as("mae"),
      round(sum(col("__e") - col("__x")).cast(DoubleType) /
        count(lit(1)), 6).as("bias"),
      max(abs(col("__e") - col("__x"))).cast(DoubleType).as("max_ae"))
    ownResult(out, sh)
  }

  /** The [[lshSCurveAudit]] geometry, read by its oracle: signature
    * width, band count, the true-pair Jaccard floor
    * ScurvePairNum/ScurvePairDen, and the number of Jaccard bins. */
  private[graft] val ScurveHashes = 64
  private[graft] val ScurveBands = 16
  private[graft] val ScurvePairNum = 2
  private[graft] val ScurvePairDen = 5
  private[graft] val ScurveBins = 20

  /** LSH S-curve tuning audit: per true-Jaccard bin, the EMPIRICAL
    * probability that the (numHashes, bands) banding detects a pair
    * (shares ≥ 1 band) next to the THEORETICAL detection curve
    * 1 − (1 − s^r)^b — the table a dedup owner reads before changing
    * band geometry ("at J = 0.75, what fraction of real near-dups
    * does this config actually catch?"). The complement of
    * [[minhashEstimatorAudit]], which audits the estimator's VALUE;
    * this audits the banding's RECALL as a function of similarity.
    *
    * Ground truth is every pair with exact Jaccard ≥ pairNum/pairDen,
    * generated by the Bayardo AllPairs prefix filter (never the full
    * cross join); detection is a per-pair band-slice comparison of the
    * two signatures — no bucket join, the audit only touches true
    * pairs. Bins are pure integer arithmetic ((inter·nBins) div uni),
    * the detection flag is array equality, and the theory column's
    * powers are explicit left-fold multiplication chains — no pow(),
    * whose libm rounding differs across engines.
    *
    * Scale shape: one corpus pass builds the (persisted) shingle
    * frame; signatures are per-row expressions over it; the AllPairs
    * self-join is prefix-pruned; everything after the pair set is
    * bounded by |true pairs|, and the result (≤ nBins rows) is
    * materialized before the shingle cache is released.
    *
    * Returns (bin, s_mid, n_pairs, n_detected, detect_rate, theory). */
  def lshSCurveAudit(
      docs: DataFrame,
      idCol: String,
      text: Column): DataFrame = {
    val numHashes = ScurveHashes
    val bands = ScurveBands
    val pairNum = ScurvePairNum
    val pairDen = ScurvePairDen
    val nBins = ScurveBins
    val width = numHashes / bands
    val sh = shingleFrame(docs, idCol, text, MinhashShingle)
    val sigs = signaturesOfShingles(sh, idCol, numHashes)
    // AllPairs prefix filter at the integer threshold pairNum/pairDen:
    // a doc needs only its n − ceil(n·p/q) + 1 RAREST shingles indexed
    val inv = sh.select(col("__id"), size(col("__sh")).as("__n"),
      explode(col("__sh")).as("__s"))
    val docFreq = inv.groupBy("__s").agg(count(lit(1)).as("__df"))
    val prefix = inv.join(docFreq, Seq("__s"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("__id")
          .orderBy(col("__df").asc, col("__s").asc)))
      .filter(col("__rk") <= col("__n") -
        expr(s"(__n * $pairNum + ${pairDen - 1}) div $pairDen") + lit(1))
      .select(col("__s"), col("__id"), col("__n"))
    val cand = prefix.select(col("__s"), col("__id").as("a"),
        col("__n").as("na"))
      .join(prefix.select(col("__s"), col("__id").as("b"),
        col("__n").as("nb")), Seq("__s"))
      .filter(col("a") < col("b") &&
        col("nb") * pairDen >= col("na") * pairNum &&
        col("na") * pairDen >= col("nb") * pairNum)
      .select("a", "b")
      .distinct()
    val withSets = cand
      .join(sh.select(col("__id").as("a"), col("__sh").as("sh_a")),
        Seq("a"))
      .join(sh.select(col("__id").as("b"), col("__sh").as("sh_b")),
        Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"),
        (size(col("sh_a")) + size(col("sh_b")) -
          size(array_intersect(col("sh_a"), col("sh_b")))).as("uni"))
      .filter(col("inter") * pairDen >= col("uni") * pairNum)
      .withColumn("bin",
        least(expr(s"(inter * $nBins) div uni"), lit(nBins - 1))
          .cast(IntegerType))
    val bandHit = (0 until bands).map(bi =>
      slice(col("__sa"), bi * width + 1, width) ===
        slice(col("__sb"), bi * width + 1, width)).reduce(_ || _)
    val det = withSets
      .join(sigs.select(col(idCol).as("a"), col("signature").as("__sa")),
        Seq("a"))
      .join(sigs.select(col(idCol).as("b"), col("signature").as("__sb")),
        Seq("b"))
      .select(col("bin"), when(bandHit, 1L).otherwise(0L).as("__hit"))
    val g = det.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("__hit")).as("n_detected"))
    // theory at the bin midpoint: powers as LEFT-FOLD multiplication
    // chains — identical op order to the oracle's literal s*s*…*s,
    // never pow() (libm rounding is not cross-engine stable)
    val sMid = (col("bin").cast(DoubleType) + 0.5) / lit(nBins)
    val sr = (1 until width).foldLeft(sMid)((acc, _) => acc * sMid)
    val u = lit(1.0) - sr
    val ub = (1 until bands).foldLeft(u)((acc, _) => acc * u)
    val out = g.select(col("bin"),
      round(sMid, 6).as("s_mid"),
      col("n_pairs"), col("n_detected"),
      round(col("n_detected").cast(DoubleType) /
        col("n_pairs").cast(DoubleType), 6).as("detect_rate"),
      round(lit(1.0) - ub, 6).as("theory"))
    ownResult(out, sh)
  }

  /** 64-bit SimHash over whitespace tokens: lane i's ±1 contribution
    * is the parity of the i-th affine transform of the token's
    * [[polyHash]] — DuckDB-replicable.
    *
    * A document's SimHash depends only on that document's row, so this
    * is the PER-ROW formulation — the native codegen'd
    * [[graft.functions.SimHash64]] expression folds the 64 lane sums
    * over the token-hash array in one tight loop per row, entirely
    * inside the scan stage: ZERO exchanges, no explode row blowup. At
    * 100 TB that is the difference between "shuffle 64 longs per doc"
    * (the explode + groupBy formulation, kept as [[simhashViaGroupBy]]
    * and pinned value-identical by `DedupSpec`) and "never shuffle at
    * all". Docs with no tokens are dropped — the exact semantics the
    * explode formulation has (no token rows ⇒ no group). */
  def simhash(
      docs: DataFrame,
      idCol: String,
      text: Column): DataFrame =
    docs
      .select(col(idCol),
        transform(TextAnalysis.tokens(lower(text)), t => polyHash(t))
          .as("__th"))
      .filter(size(col("__th")) > 0)
      .select(col(idCol),
        graft.functions.GraftFunctions.simhash64(col("__th")).as("simhash"))

  /** The round-7 explode + groupBy SimHash formulation — one shuffle
    * of 64 map-side-combined lane sums per doc. Retained as the
    * equivalence witness for the shuffle-free [[simhash]] (`DedupSpec`
    * pins them value-identical on the documents fixture); prefer
    * [[simhash]] everywhere. */
  private[graft] def simhashViaGroupBy(
      docs: DataFrame,
      idCol: String,
      text: Column): DataFrame = {
    val tok = docs.select(col(idCol),
        explode(TextAnalysis.tokens(lower(text))).as("__t"))
      .withColumn("__h", polyHash(col("__t")))
    val laneSums = (0 until 64).map { i =>
      val bit = affine(i, col("__h")).bitwiseAND(1L)
      sum(when(bit === 1L, 1).otherwise(-1)).as(s"b$i")
    }
    val lanes = tok.groupBy(col(idCol)).agg(laneSums.head, laneSums.tail: _*)
    // assemble sign bits into one long (lane 63 sets the sign bit)
    val sim = (0 until 64)
      .map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    lanes.select(col(idCol), sim.as("simhash"))
  }

  /** Hamming distance between two 64-bit SimHashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on the four 16-bit quadrants (any
    * pair within Hamming distance ≤ maxHamming with ≤ `maxHamming` < 16
    * shares at least one exact quadrant — pigeonhole), then verify
    * full Hamming distance. Avoids the all-pairs cross join. */
  def simhashNearDupPairs(
      docs: DataFrame,
      idCol: String,
      text: Column,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 16, "quadrant blocking needs maxHamming < 16")
    val sh = simhash(docs, idCol, text)
    val blocked = sh.select(
      col(idCol),
      col("simhash"),
      posexplode(array((0 until 4).map(q =>
        shiftrightunsigned(col("simhash"), q * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("quadrant", "qval")))
    val l = blocked.select(col(idCol).as("a"), col("simhash").as("sim_a"),
      col("quadrant"), col("qval"))
    val r = blocked.select(col(idCol).as("b"), col("simhash").as("sim_b"),
      col("quadrant"), col("qval"))
    l.join(r, Seq("quadrant", "qval"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        hamming(col("sim_a"), col("sim_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram-Jaccard near-dup pairs via AllPairs-style prefix
    * filtering (Bayardo et al., WWW'07 — public algorithm):
    *
    *  1. shingles are hashed to longs immediately — the index join
    *     shuffles 8-byte keys, never shingle text;
    *  2. each doc indexes only its prefix: the `n - ceil(t*n) + 1`
    *     rarest shingles under the global (document-frequency, hash)
    *     order. Any pair with Jaccard ≥ t provably shares an indexed
    *     shingle (its globally-smallest common shingle sits in both
    *     prefixes), so candidate generation is COMPLETE — the exact
    *     verification step loses nothing;
    *  3. a length filter (t·|a| ≤ |b| ∧ t·|b| ≤ |a|) prunes candidates
    *     before the verify join. Threshold arithmetic runs in DECIMAL
    *     so prefix lengths can't be off-by-one from FP rounding.
    *
    * Returns (a, b, jaccard) with a < b and jaccard ≥ threshold —
    * small, persisted and forced; the corpus-sized hashed-shingle
    * cache is released before returning (caller owns the result).
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      text: Column,
      threshold: Double = 0.5,
      shingleSize: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val thr = lit(new java.math.BigDecimal(threshold.toString))
    val sh = hashedShingleFrame(docs, idCol, text, shingleSize)
    val inv = sh
      .select(col("__id"), size(col("__sh")).as("__n"),
        explode(col("__sh")).as("__h"))
    val docFreq = inv.groupBy("__h").agg(count(lit(1)).as("__df"))
    val prefix = inv
      .join(docFreq, Seq("__h"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("__id").orderBy(col("__df").asc, col("__h").asc)))
      .filter(col("__rk") <= col("__n") - ceil(thr * col("__n")) + lit(1))
      .select(col("__h"), col("__id"), col("__n"))
    val cand = prefix.select(col("__h"), col("__id").as("a"), col("__n").as("na"))
      .join(
        prefix.select(col("__h"), col("__id").as("b"), col("__n").as("nb")),
        Seq("__h"))
      .filter(col("a") < col("b") &&
        col("nb") >= ceil(thr * col("na")) &&
        col("na") >= ceil(thr * col("nb")))
      .select("a", "b")
      .distinct()
    val pairs = cand
      .join(sh.select(col("__id").as("a"), col("__sh").as("sh_a")), Seq("a"))
      .join(sh.select(col("__id").as("b"), col("__sh").as("sh_b")), Seq("b"))
      .select(col("a"), col("b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    ownResult(pairs, sh)
  }

  /** Exact duplicated-substring statistics — the ExactSubstr dedup
    * signal (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL 2022 — public method): slide `width`-char
    * windows at `stride` over each document, hash every window, count
    * corpus-wide occurrences of each window, and report per document
    * how many of its windows are duplicated at all (`n_dup_windows`)
    * and duplicated across distinct documents (`n_cross_doc`). A
    * document shorter than `width` contributes its whole text as one
    * window, so short exact dupes are still caught.
    *
    * 100 TB shape: window expansion is row-local (one generator, about
    * len/stride rows of (id, 8-byte hash) each — window TEXT never
    * leaves the scan); the frequency count is one map-side-combined
    * shuffle on the hash; tagging each window with its corpus
    * frequency is a same-key shuffle join of 16-byte rows; the final
    * per-doc rollup shuffles on the doc id.
    *
    * Collision bound: windows are counted by [[polyHash]] value, a
    * ~1e9-value space, so n distinct windows collide in about n²/2e9
    * pairs; a collision marks both windows duplicated. The oracle
    * replays the same hash, so even a collision replicates and the
    * check stays exact. */
  def windowDupStats(
      docs: DataFrame,
      idCol: String,
      text: Column,
      width: Int = 40,
      stride: Int = 10): DataFrame = {
    require(width > 0, s"width must be positive: $width")
    require(stride > 0, s"stride must be positive: $stride")
    // The (id, hash) window frame feeds BOTH the frequency aggregate
    // and the probe side of the join — unpersisted, the document scan
    // + window expansion + hashing subtree would run twice (the freq
    // side's partial-aggregate exchange is not reusable for the probe
    // side). Persist it for the query's lifetime, release on return.
    val windows = docs
      .select(col(idCol).as("id"), text.as("__t"))
      .select(col("id"), col("__t"),
        explode(sequence(lit(1),
          greatest(length(col("__t")) - lit(width - 1), lit(1)),
          lit(stride))).as("__p"))
      .select(col("id"),
        polyHash(col("__t").substr(col("__p"), lit(width))).as("__h"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val freq = windows.groupBy(col("__h"))
      .agg(count(lit(1)).as("__freq"),
        countDistinct(col("id")).as("__nd"))
    val stats = windows.join(freq, "__h")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__freq") > 1, 1L).otherwise(0L)).as("n_dup_windows"),
        sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("n_cross_doc"))
    ownResult(stats, windows)
  }

  /** N-gram novelty per ingestion wave: for each wave (shard, crawl
    * batch, snapshot day — any integral ordinal), the fraction of its
    * distinct shingle hashes seen in NO earlier wave. The corpus-
    * growth diagnostic: novelty decaying toward zero means new data is
    * re-crawling what the corpus already holds — the dedup pipeline's
    * leading indicator, one aggregate instead of a pairwise dedup run.
    *
    * Scale shape: the (wave, hash) pair set — 8-byte hashes, never
    * shingle text past the scan — is distinct-ed once and persisted
    * (two consumers: the first-seen aggregate and the per-wave
    * totals); first-seen is a min over waves per hash (map-side
    * combined); one hash-keyed join back. No window over waves, so a
    * new wave recomputes in O(pairs), not O(waves²).
    *
    * Collision bound: shingles are counted by [[polyHash]] value, a
    * ~1e9-value space, so n distinct shingles collide in about
    * n²/2e9 pairs; a collision counts two shingles as one. The oracle
    * replays the same hash, so its check stays exact.
    *
    * Returns (wave, n_shingles, n_novel, novelty), novelty 6 dp. */
  def shingleNovelty(
      docs: DataFrame,
      waveCol: Column,
      text: Column,
      shingleSize: Int = 3): DataFrame = {
    val pairs = docs
      .select(waveCol.cast(LongType).as("wave"),
        TextAnalysis.tokens(lower(text)).as("__tk"))
      .select(col("wave"),
        explode(shinglesOfTokens(col("__tk"), shingleSize)).as("__s"))
      .select(col("wave"), polyHash(col("__s")).as("__h"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val first = pairs.groupBy(col("__h")).agg(min(col("wave")).as("__first"))
    val out = pairs.join(first, "__h")
      .groupBy(col("wave"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__first") === col("wave"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast(DoubleType) / col("n_shingles"), 6))
    ownResult(out, pairs)
  }

  /** Corpus-pair overlap: exact shingle-set Jaccard between every
    * pair of sources — the answer to "how much of source B is already
    * in source A?" BEFORE a cross-source dedup run is paid for. Where
    * [[shingleNovelty]] tracks re-crawl over TIME (waves),
    * this measures it across PROVENANCE; together they bound how much
    * a new acquisition can possibly add.
    *
    * Scale shape: the distinct (source, hash) set is built once and
    * persisted (8-byte hashes, shingle text never leaves the scan;
    * its size is bounded by |sources|·vocab, not corpus rows); the
    * pair intersection is one hash-keyed self-join emitting
    * (src_a, src_b) pairs straight into a map-side-combined count —
    * |sources|² result rows; per-source set sizes broadcast back.
    * Pairs with ZERO common shingles are absent (inner join) —
    * intentionally, since at scale the |sources|² zero matrix is
    * noise. Jaccard in integer ppm: common·10⁶ div (n_a+n_b−common).
    *
    * Collision bound: shingles are counted by [[polyHash]] value, a
    * ~1e9-value space, so n distinct shingles collide in about
    * n²/2e9 pairs; a collision counts two shingles as one. The oracle
    * replays the same hash, so its check stays exact.
    *
    * Returns (src_a, src_b, n_a, n_b, n_common, jaccard_ppm),
    * src_a < src_b lexicographically. */
  def sourceOverlap(
      docs: DataFrame,
      sourceCol: Column,
      text: Column,
      shingleSize: Int = 3): DataFrame = {
    val pairs = docs
      .select(sourceCol.cast(StringType).as("src"),
        TextAnalysis.tokens(lower(text)).as("__tk"))
      .select(col("src"),
        explode(shinglesOfTokens(col("__tk"), shingleSize)).as("__s"))
      .select(col("src"), polyHash(col("__s")).as("__h"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sizes = pairs.groupBy(col("src")).agg(count(lit(1)).as("n"))
    val common = pairs.as("a")
      .join(pairs.as("b"),
        col("a.__h") === col("b.__h") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    val out = common
      .join(broadcast(sizes.select(col("src").as("src_a"),
        col("n").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("src").as("src_b"),
        col("n").as("n_b"))), "src_b")
      .withColumn("jaccard_ppm",
        expr("n_common * 1000000 div (n_a + n_b - n_common)"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_common"), col("jaccard_ppm"))
    ownResult(out, pairs)
  }

  /** Content-defined chunking (the FastCDC/rsync family): cut after
    * every position whose `window`-char tail hash ≡ 0 (mod `divisor`),
    * giving variable-size chunks with EXPECTED size ≈ `divisor` whose
    * boundaries move with the content — an insertion re-chunks only
    * its neighborhood, so chunk-level dedup keeps matching everything
    * downstream of an edit (fixed-size blocks lose alignment forever).
    * Returns `array<string>` chunks; docs shorter than `window` are
    * one whole-doc chunk. Chunking is a pure per-row expression — NO
    * shuffle; callers hash chunks to digests inside the array
    * (`transform(..., md5)`) before any explode so only digests ever
    * shuffle. Boundary positions come from the native codegen'd
    * [[graft.functions.CdcBoundaries]] expression — ONE sliding-window
    * pass, O(n) — whose values are provably identical to the
    * per-position window rehash the DuckDB oracle replays (both are
    * the base-31 polynomial of the window's code points mod 1e9+7;
    * DedupSpec pins the equivalence against a brute-force recompute).
    * Portable: boundary decisions are integer arithmetic on the poly
    * hash. */
  def cdcChunks(text: Column, window: Int, divisor: Int): Column = {
    require(window > 0, s"window must be positive: $window")
    require(divisor > 1, s"divisor must be > 1: $divisor")
    val n = length(text)
    val cuts =
      graft.functions.GraftFunctions.cdcBoundaries(text, window, divisor)
    val starts = concat(array(lit(0)), cuts)
    val ends = concat(cuts, array(n))
    val chunks = filter(
      zip_with(starts, ends, (st, en) =>
        when(en > st, text.substr(st + lit(1), en - st))),
      c => c.isNotNull)
    when(n >= window, chunks).otherwise(array(text))
  }
}
