package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's hash-heavy hot paths.
  *
  * The portable polynomial hash (base 31 mod 1e9+7 over code points —
  * the family every approximate-dedup oracle replicates in DuckDB) was
  * originally built from built-ins as
  * `aggregate(filter(split(s, ""), ...), 0L, (acc, c) -> pmod(acc*31 +
  * ascii(c), M))`. That chain materializes one single-char STRING per
  * character and evaluates three interpreted lambda frames per step —
  * the dominant cost of every sketch-based dedup query. This
  * expression computes the identical value in a tight codegen'd loop
  * over the string's code points: no per-char allocation, no lambda
  * dispatch, stays inside whole-stage codegen.
  *
  * Value-equivalence to the old chain holds for ALL inputs, not just
  * the gate corpus: `split(s, '')` yields one element per code point
  * (Java's regex engine never splits surrogate pairs) and Spark's
  * `ascii` returns `codePointAt(0)` (verified against the 4.1.2
  * bytecode), so folding `codePointAt` in order is the same sequence of
  * (acc * 31 + cp) % 1e9+7 steps. The empty string folds zero steps →
  * 0, matching the filtered-empty-array fold.
  */
case class PolyHash(child: Expression) extends UnaryExpression {

  // input must be a string column (AbstractDataType/ExpectsInputTypes
  // are private[sql], so the contract is asserted here instead)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[org.apache.spark.sql.types.StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_poly_hash requires a string argument, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_poly_hash"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("phStr")
      val acc = ctx.freshName("phAcc")
      val i = ctx.freshName("phI")
      val cp = ctx.freshName("phCp")
      s"""
         |java.lang.String $s = $c.toString();
         |long $acc = 0L;
         |int $i = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  $acc = ($acc * 31L + $cp) % 1000000007L;
         |  $i += java.lang.Character.charCount($cp);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

/** Portable SRP-LSH signature (random-hyperplane sign bits packed into
  * a long) over an `array<float|double>` embedding, computed in one
  * codegen'd double loop.
  *
  * Replaces the nested-HOF formulation in [[graft.operators.Similarity]]
  * (`aggregate(transform(sequence(...), p -> aggregate(zip_with(...`)
  * which evaluates bits × dims interpreted lambda frames per row — the
  * dominant cost of every SRP-based similarity query.
  *
  * Exact-equivalence contract (the DuckDB oracles replicate this
  * arithmetic, so it must not drift):
  *  - plane weight w(p,d) = ((p·1009 + d·2003 + 12345)² mod 4001) −
  *    2000, exact 64-bit integer math — identical to
  *    [[graft.operators.Similarity.planeWeightPortable]];
  *  - projection = Σ_d emb[d]·w(p,d), accumulated LEFT-TO-RIGHT in
  *    ascending d as doubles — the same IEEE-754 addition order as the
  *    zip_with/aggregate fold it replaces, so results are
  *    bit-identical;
  *  - a NULL element poisons that plane's projection to NULL → bit 0
  *    (the `when(proj >= 0, ...)` otherwise-branch), and NaN ≥ 0 is
  *    false in both Java and Catalyst — both edge cases preserved.
  */
case class SrpSignaturePortable(child: Expression, bits: Int)
    extends UnaryExpression {
  require(bits > 0 && bits <= 63, "signature must fit a long")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(et, _)
          if et == org.apache.spark.sql.types.FloatType ||
            et == org.apache.spark.sql.types.DoubleType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_srp_signature requires array<float|double>, got $other")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_srp_signature"

  private lazy val isFloat =
    child.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.FloatType

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    // empty embedding: the HOF chain zips against sequence(0,-1) =
    // [0,-1], null-pads, and every plane's projection goes NULL → no
    // bit set. Replicate: signature 0.
    if (n == 0) return 0L
    var sig = 0L
    var p = 0
    while (p < bits) {
      var proj = 0.0
      var nullSeen = false
      var d = 0
      while (d < n && !nullSeen) {
        if (arr.isNullAt(d)) nullSeen = true
        else {
          val x = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
          val v = p.toLong * 1009L + d.toLong * 2003L + 12345L
          val w = ((v * v) % 4001L - 2000L).toDouble
          proj += x * w
        }
        d += 1
      }
      if (!nullSeen && proj >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("srpN")
      val sig = ctx.freshName("srpSig")
      val p = ctx.freshName("srpP")
      val d = ctx.freshName("srpD")
      val proj = ctx.freshName("srpProj")
      val nul = ctx.freshName("srpNull")
      val v = ctx.freshName("srpV")
      val get = if (isFloat) s"(double) $c.getFloat($d)" else s"$c.getDouble($d)"
      s"""
         |int $n = $c.numElements();
         |long $sig = 0L;
         |if ($n > 0)
         |for (int $p = 0; $p < $bits; $p++) {
         |  double $proj = 0.0;
         |  boolean $nul = false;
         |  for (int $d = 0; $d < $n && !$nul; $d++) {
         |    if ($c.isNullAt($d)) { $nul = true; }
         |    else {
         |      long $v = ((long) $p) * 1009L + ((long) $d) * 2003L + 12345L;
         |      $proj += ($get) * (double) (($v * $v) % 4001L - 2000L);
         |    }
         |  }
         |  if (!$nul && $proj >= 0) $sig |= (1L << $p);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): SrpSignaturePortable =
    copy(child = newChild)
}

/** Native dot product over two `array<float|double>` columns, double
  * math, one codegen'd loop.
  *
  * Replaces `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, +)` — two
  * interpreted lambda frames per element and a materialized product
  * array per row — as the kernel under every cosine/norm in
  * [[graft.operators.Similarity]].
  *
  * Exact-equivalence contract with the HOF chain it replaces (the
  * oracles replicate that arithmetic):
  *  - element products and the sum accumulate LEFT-TO-RIGHT in
  *    ascending index as doubles — identical IEEE-754 order;
  *  - mismatched lengths → NULL (zip_with null-pads the shorter side,
  *    the null product poisons the fold);
  *  - a NULL element → NULL (same poisoning);
  *  - two empty arrays → 0.0 (empty fold = the seed).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemOk(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      et == org.apache.spark.sql.types.FloatType ||
        et == org.apache.spark.sql.types.DoubleType
    case _ => false
  }
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires two array<float|double> arguments, got " +
          s"${left.dataType} and ${right.dataType}")
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.FloatType

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (isFloat(left)) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (isFloat(right)) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c1, c2) => {
      val n = ctx.freshName("dotN")
      val i = ctx.freshName("dotI")
      val acc = ctx.freshName("dotAcc")
      val bad = ctx.freshName("dotNull")
      val getA = if (isFloat(left)) s"(double) $c1.getFloat($i)"
        else s"$c1.getDouble($i)"
      val getB = if (isFloat(right)) s"(double) $c2.getFloat($i)"
        else s"$c2.getDouble($i)"
      s"""
         |int $n = $c1.numElements();
         |double $acc = 0.0;
         |boolean $bad = ($c2.numElements() != $n);
         |if (!$bad) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($c1.isNullAt($i) || $c2.isNullAt($i)) { $bad = true; break; }
         |    $acc += ($getA) * ($getB);
         |  }
         |}
         |${ev.isNull} = $bad;
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Content-defined chunk boundaries in ONE sliding-window pass: the
  * 1-based (code-point) end positions `i` where the [[PolyHash]] of
  * the `window`-code-point tail ending at `i` is ≡ 0 (mod `divisor`).
  *
  * Replaces the HOF formulation in `Dedup.cdcChunks`
  * (`filter(sequence(w, n), i -> polyHash(substr(...)) % d = 0)`)
  * which rehashes a full window per position — O(n·w) plus an
  * interpreted lambda frame and a per-position UTF8String slice. This
  * expression slides the polynomial in O(n): drop the leaving code
  * point (subtract cp·31^(w−1) mod M), shift, add the entering one.
  *
  * Exact-equivalence contract (the DuckDB oracle replicates the
  * per-window recompute): the sliding recurrence computes the SAME
  * window hash value — both are the base-31 polynomial of the window's
  * code points mod 1e9+7, and positions count code points exactly as
  * `substr` does (UTF8String indexes by code point). Strings shorter
  * than `window` yield an empty array (no window fits — the caller's
  * whole-doc-chunk branch). */
/** 64-bit SimHash over an `array<long>` of token hashes, one codegen'd
  * call into a tight static loop.
  *
  * Replaces the nested-HOF fold in [[graft.operators.Dedup]]
  * (`aggregate(hashes, zeros64, (acc, h) -> transform(acc, ...))`) —
  * that chain allocates a fresh 64-int array and evaluates 64
  * interpreted lambda frames PER TOKEN; here the lanes live in one
  * primitive int[64] for the whole row. Same per-row, shuffle-free
  * plan shape, ~10× cheaper per token.
  *
  * Exact-equivalence contract with the formulations it replaces (the
  * q_dedup_simhash oracle replicates this arithmetic in DuckDB):
  *  - lane i's sign bit is `pmod(h·A_i + B_i, 1e9+7) & 1` with
  *    A_i = ((2i+1)·104729) mod p, B_i = (i·94906249 + 12345) mod p —
  *    [[graft.operators.Dedup.affineA]]/[[graft.operators.Dedup
  *    .affineB]] re-derived; callers pass polyHash values
  *    (h ∈ [0, 1e9+7), so h·A_i cannot overflow);
  *  - each token adds ±1 per lane; a NULL element contributes −1 to
  *    every lane (`when(NULL === 1).otherwise(-1)` in the HOF fold);
  *  - lanes with positive sum set their bit (lane 63 = the sign bit);
  *    an empty array yields 0L (callers drop token-less docs first).
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(et, _)
          if et == org.apache.spark.sql.types.LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_simhash64 requires array<bigint>, got $other")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SimHash64.evalStatic(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.SimHash64.evalStatic($c);")

  override protected def withNewChildInternal(
      newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  private final val Mod = 1000000007L
  // affine constants precomputed once — Dedup.affineA/affineB values
  private val A: Array[Long] =
    Array.tabulate(64)(i => ((2L * i + 1) * 104729L) % Mod)
  private val B: Array[Long] =
    Array.tabulate(64)(i => (i.toLong * 94906249L + 12345L) % Mod)

  /** Shared kernel for the interpreted and codegen paths. */
  def evalStatic(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = arr.numElements()
    val lanes = new Array[Int](64)
    var j = 0
    while (j < n) {
      if (arr.isNullAt(j)) {
        var i = 0
        while (i < 64) { lanes(i) -= 1; i += 1 }
      } else {
        val h = arr.getLong(j)
        var i = 0
        while (i < 64) {
          val bit = java.lang.Math.floorMod(h * A(i) + B(i), Mod) & 1L
          lanes(i) += (if (bit == 1L) 1 else -1)
          i += 1
        }
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (lanes(i) > 0) sig |= (1L << i)
      i += 1
    }
    sig
  }
}

/** Portable MinHash signature over an `array<long>` of (polyHash'd)
  * shingle hashes: out[i] = min over elements of the i-th affine
  * transform `pmod(h·A_i + B_i, 1e9+7)` — the per-row, shuffle-free
  * form of the explode → groupBy(64 × min) signature build, with the
  * lanes in one primitive long[] (same arithmetic as the DuckDB
  * replica; A/B are [[graft.operators.Dedup.affineA]]/[[graft
  * .operators.Dedup.affineB]] re-derived, cached per width).
  *
  * NULL elements are skipped (the groupBy `min` ignores NULLs); an
  * array with no usable element yields NULL (the explode path emits
  * no row for that doc — downstream banding drops NULL the same way).
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes > 0, "numHashes must be positive")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(et, _)
          if et == org.apache.spark.sql.types.LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_minhash_sig requires array<bigint>, got $other")
    }
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.evalStatic(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("mhRes")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.functions.MinHashSig.evalStatic($c, $numHashes);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Fused portable MinHash signature STRAIGHT from the whitespace-token
  * array: shingling, the rolling polynomial hash, and the `numHashes`
  * affine minima all run in one static kernel — no shingle strings are
  * ever materialized (building them is ~3 s of the sf0.1 signature
  * plan; this kernel replaces it with a code-point walk).
  *
  * Exact-equivalence contract with
  * `transform(shinglesOfTokens(toks, k), s -> polyHash(s))` feeding
  * [[MinHashSig]] (pinned by DedupSpec and the q_dedup_minhash
  * oracle):
  *  - a shingle's hash folds the code points of its tokens joined by
  *    single spaces (0x20), in order — identical to
  *    `polyHash(array_join(slice(toks, i+1, k), " "))`; NULL tokens
  *    are skipped along with their separator (array_join semantics);
  *  - `size(toks) >= k` → one shingle per start position
  *    (array_distinct in the column form only dedupes — minima are
  *    unaffected); fewer tokens → ONE whole-array shingle, and an
  *    empty array hashes to 0 (`polyHash("")`), so every doc gets a
  *    signature — same as the column form, which never yields an
  *    empty shingle array.
  */
case class MinHashFromTokens(child: Expression, shingleSize: Int,
    numHashes: Int) extends UnaryExpression {
  require(shingleSize > 0 && numHashes > 0)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(et, _)
          if et.isInstanceOf[org.apache.spark.sql.types.StringType] =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_minhash_tokens requires array<string>, got $other")
    }
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_tokens"

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.evalFromTokens(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      shingleSize, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashSig.evalFromTokens(" +
        s"$c, $shingleSize, $numHashes);")

  override protected def withNewChildInternal(
      newChild: Expression): MinHashFromTokens =
    copy(child = newChild)
}

object MinHashSig {
  private final val Mod = 1000000007L
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]
  private def consts(k: Int): (Array[Long], Array[Long]) =
    cache.computeIfAbsent(k, n => (
      Array.tabulate(n)(i => ((2L * i + 1) * 104729L) % Mod),
      Array.tabulate(n)(i => (i.toLong * 94906249L + 12345L) % Mod)))

  /** Fused kernel: token array → portable MinHash signature (see
    * [[MinHashFromTokens]] for the pinned arithmetic). */
  def evalFromTokens(
      tokens: org.apache.spark.sql.catalyst.util.ArrayData,
      shingleSize: Int,
      numHashes: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val (a, b) = consts(numHashes)
    val n = tokens.numElements()
    // one toString per token (a token sits in up to shingleSize
    // shingles — converting per shingle would triple the char work)
    val strs = new Array[String](n)
    var j = 0
    while (j < n) {
      if (!tokens.isNullAt(j)) strs(j) = tokens.getUTF8String(j).toString
      j += 1
    }
    val out = Array.fill(numHashes)(Long.MaxValue)
    def update(h: Long): Unit = {
      var i = 0
      while (i < numHashes) {
        val v = java.lang.Math.floorMod(h * a(i) + b(i), Mod)
        if (v < out(i)) out(i) = v
        i += 1
      }
    }
    // rolling polyHash of tokens [start, start+len) joined by ' ',
    // nulls skipped with their separator (array_join semantics)
    def hashSlice(start: Int, len: Int): Long = {
      var acc = 0L
      var first = true
      var k = start
      val end = math.min(start + len, n)
      while (k < end) {
        val s = strs(k)
        if (s != null) {
          if (!first) acc = (acc * 31L + 32L) % Mod
          var i = 0
          while (i < s.length) {
            val cp = s.codePointAt(i)
            acc = (acc * 31L + cp) % Mod
            i += Character.charCount(cp)
          }
          first = false
        }
        k += 1
      }
      acc
    }
    if (n >= shingleSize) {
      var start = 0
      while (start <= n - shingleSize) {
        update(hashSlice(start, shingleSize))
        start += 1
      }
    } else update(hashSlice(0, n)) // incl. n = 0 → polyHash("") = 0
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Shared kernel for the interpreted and codegen paths; null when no
    * usable element exists. */
  def evalStatic(
      arr: org.apache.spark.sql.catalyst.util.ArrayData,
      numHashes: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val (a, b) = consts(numHashes)
    val out = Array.fill(numHashes)(Long.MaxValue)
    var any = false
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        any = true
        val h = arr.getLong(j)
        var i = 0
        while (i < numHashes) {
          val v = java.lang.Math.floorMod(h * a(i) + b(i), Mod)
          if (v < out(i)) out(i) = v
          i += 1
        }
      }
      j += 1
    }
    if (!any) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

case class CdcBoundaries(child: Expression, window: Int, divisor: Int)
    extends UnaryExpression {
  require(window > 0, s"window must be positive: $window")
  require(divisor > 1, s"divisor must be > 1: $divisor")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[org.apache.spark.sql.types.StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_cdc_boundaries requires a string argument, got " +
          s"${child.dataType}")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "graft_cdc_boundaries"

  /** 31^(window−1) mod 1e9+7 — the leaving code point's weight. */
  private lazy val topWeight: Long = {
    var p = 1L
    var k = 1
    while (k < window) { p = p * 31L % 1000000007L; k += 1 }
    p
  }

  override protected def nullSafeEval(input: Any): Any = {
    val cp = input.asInstanceOf[UTF8String].toString.codePoints().toArray
    val n = cp.length
    val out = new scala.collection.mutable.ArrayBuffer[Int]()
    val M = 1000000007L
    var h = 0L
    var i = 0
    while (i < n) {
      if (i >= window)
        h = ((h - cp(i - window) * topWeight) % M + M) % M
      h = (h * 31L + cp(i)) % M
      if (i >= window - 1 && h % divisor == 0) out += (i + 1)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cp = ctx.freshName("cdcCp")
      val n = ctx.freshName("cdcN")
      val tmp = ctx.freshName("cdcTmp")
      val k = ctx.freshName("cdcK")
      val h = ctx.freshName("cdcH")
      val i = ctx.freshName("cdcI")
      val res = ctx.freshName("cdcRes")
      s"""
         |int[] $cp = $c.toString().codePoints().toArray();
         |int $n = $cp.length;
         |int[] $tmp = new int[$n];
         |int $k = 0;
         |long $h = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($i >= $window)
         |    $h = (($h - $cp[$i - $window] * ${topWeight}L) % 1000000007L
         |      + 1000000007L) % 1000000007L;
         |  $h = ($h * 31L + $cp[$i]) % 1000000007L;
         |  if ($i >= ${window - 1} && $h % ${divisor}L == 0) {
         |    $tmp[$k++] = $i + 1;
         |  }
         |}
         |int[] $res = new int[$k];
         |System.arraycopy($tmp, 0, $res, 0, $k);
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($res);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): CdcBoundaries =
    copy(child = newChild)
}

object GraftFunctions {
  /** Portable rolling hash as a Column (see [[PolyHash]]). */
  def polyHash(c: Column): Column =
    GraftColumnBridge.column(PolyHash(GraftColumnBridge.expression(c)))

  /** Portable SRP signature as a Column (see [[SrpSignaturePortable]]).
    * A NULL embedding yields 0, matching the HOF fold it replaced
    * (there the null only poisoned the inner per-plane projection, and
    * the outer OR-fold of 32 zero bits still produced 0L). */
  def srpSignaturePortable(c: Column, bits: Int): Column =
    org.apache.spark.sql.functions.coalesce(
      GraftColumnBridge.column(
        SrpSignaturePortable(GraftColumnBridge.expression(c), bits)),
      org.apache.spark.sql.functions.lit(0L))

  /** Native dot product as a Column (see [[DotProduct]]). */
  def dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProduct(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Sliding-window CDC cut positions as a Column (see
    * [[CdcBoundaries]]). */
  def cdcBoundaries(text: Column, window: Int, divisor: Int): Column =
    GraftColumnBridge.column(CdcBoundaries(
      GraftColumnBridge.expression(text), window, divisor))

  /** Per-row SimHash over an array of token hashes (see
    * [[SimHash64]]). */
  def simhash64(hashes: Column): Column =
    GraftColumnBridge.column(SimHash64(GraftColumnBridge.expression(hashes)))

  /** Per-row portable MinHash signature over an array of shingle
    * hashes (see [[MinHashSig]]). */
  def minhashSig(hashes: Column, numHashes: Int): Column =
    GraftColumnBridge.column(MinHashSig(
      GraftColumnBridge.expression(hashes), numHashes))

  /** Fused token-array → portable MinHash signature (see
    * [[MinHashFromTokens]]). */
  def minhashFromTokens(
      tokens: Column, shingleSize: Int, numHashes: Int): Column =
    GraftColumnBridge.column(MinHashFromTokens(
      GraftColumnBridge.expression(tokens), shingleSize, numHashes))
}
