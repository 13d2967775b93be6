package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Exact split-long fold of the upper-triangle outer-product lattice
  * — the shared arithmetic core of the poly-2 MMD / CKA second-moment
  * pass (batch aggregate AND the streaming keyed state).
  *
  * Per row and cell (i ≤ j): p = eᵢ·eⱼ (double), x = p·10¹² (double),
  * p12 = shortest-decimal HALF_UP round (`BigDecimal.valueOf(x)
  * .setScale(0, HALF_UP)` — exactly Spark's `round(double, 0)` + the
  * integral long cast), split into truncating hi = p12 div 10⁶ /
  * lo = p12 % 10⁶ halves summed as plain longs: |hi|,|lo| ≤ 10⁶ keeps
  * both sums exact to ~9·10¹² rows per cell, and the exact decimal
  * Σp12 = 10⁶·Σhi + Σlo reconstructs once per cell downstream. The
  * values are IDENTICAL to the `posexplode(tri lattice) →
  * round(p·10¹², 0) → div/% → sum` expression fold (the DuckDB
  * oracle's replay), so swapping a plan between the two shapes never
  * moves a hash. Cell k orders i-major, j ∈ [i, dim).
  *
  * Why an [[Aggregator]] (SURVEY §2.7 custom-aggregation tier): the
  * expression fold must EXPLODE n·dim(dim+1)/2 rows through the hash
  * aggregate before combining; this buffer folds each row's 2080
  * products in place and map-side-combines ~50 KB states — at any
  * corpus size the shuffle carries |groups| packed rows instead of
  * n·2080 cells (measured 4.4 s → see PLANS.md round 15 at sf0.1).
  */
object MmdFold {

  /** `BigDecimal.valueOf(x).setScale(0, HALF_UP).longValue()` without
    * the `Double.toString` that `valueOf` pays per call — the fold's
    * former hot spot (one shortest-decimal rendering per lattice cell,
    * ~4M per embedding aggregate at sf0.1; JFR put >90 % of the
    * aggregate's task time here). Equivalence argument, pinned by
    * `MmdFoldSpec`:
    *  - the shortest decimal rendering r of a finite double x
    *    round-trips to x, and every exact half-integer below 2⁵³ is
    *    itself a representable double — so r's fractional part is on
    *    the same side of .5 as x's, and r ends in exactly .5 iff x IS
    *    an exact half-integer. HALF_UP on the rendering therefore
    *    equals round-half-away-from-zero on the binary value.
    *  - |x| < 1 is decided by direct comparison against ±0.5 (the
    *    floor-subtract route is inexact only in (−1, 0), where
    *    x − (−1) can round ONTO 0.5).
    *  - elsewhere frac = x − floor(x) is exact (Sterbenz: x and
    *    floor(x) are within a factor of two for |floor(x)| ≥ 1), and
    *    for |x| ≥ 2⁵³ the value is already integral.
    * Non-finite inputs stay loud (the old path threw from
    * `BigDecimal.valueOf`). */
  private[graft] def roundHalfUpToLong(x: Double): Long = {
    if (!java.lang.Double.isFinite(x))
      throw new ArithmeticException(
        s"MmdFold: non-finite lattice product $x")
    if (x > -1.0 && x < 1.0) {
      if (x >= 0.5) 1L else if (x <= -0.5) -1L else 0L
    } else {
      val f = Math.floor(x)
      val frac = x - f
      val r =
        if (frac > 0.5) f + 1.0
        else if (frac < 0.5) f
        else if (x >= 0.0) f + 1.0 // exact .5 tie: away from zero
        else f
      r.toLong
    }
  }

  /** Fold one embedding row into the (hi, lo) split-sum arrays.
    * Elements must be non-null (the lattice is null-free on gated
    * corpora; a null here fails loudly instead of skewing a cell). */
  def addRow(e: Array[Double], dim: Int,
      hi: Array[Long], lo: Array[Long]): Unit = {
    require(e.length == dim,
      s"MmdFold: embedding width ${e.length} != $dim")
    var k = 0
    var i = 0
    while (i < dim) {
      val ei = e(i)
      var j = i
      while (j < dim) {
        val p = ei * e(j)
        val x = p * 1e12
        val p12 = roundHalfUpToLong(x)
        // truncating div/mod pair — the exact identity both engines
        // share (Scala / and % on Long, Spark div/%, DuckDB // and %)
        hi(k) += p12 / 1000000L
        lo(k) += p12 % 1000000L
        k += 1
        j += 1
      }
      i += 1
    }
  }

  /** Packed per-group result: row count + the split-sum halves of
    * every upper-triangle cell. */
  case class MmdCells(n: Long, sh: Seq[Long], sl: Seq[Long])

  class MmdCellAggregator(dim: Int)
      extends Aggregator[Seq[Double], (Long, Array[Long], Array[Long]),
        MmdCells] {
    private val cells = dim * (dim + 1) / 2
    override def zero: (Long, Array[Long], Array[Long]) =
      (0L, new Array[Long](cells), new Array[Long](cells))
    override def reduce(
        b: (Long, Array[Long], Array[Long]),
        e: Seq[Double]): (Long, Array[Long], Array[Long]) = {
      MmdFold.addRow(e.toArray, dim, b._2, b._3)
      (b._1 + 1L, b._2, b._3)
    }
    override def merge(
        a: (Long, Array[Long], Array[Long]),
        b: (Long, Array[Long], Array[Long]))
        : (Long, Array[Long], Array[Long]) = {
      var i = 0
      while (i < cells) {
        a._2(i) += b._2(i)
        a._3(i) += b._3(i)
        i += 1
      }
      (a._1 + b._1, a._2, a._3)
    }
    override def finish(
        b: (Long, Array[Long], Array[Long])): MmdCells =
      MmdCells(b._1, b._2.toSeq, b._3.toSeq)
    override def bufferEncoder
        : Encoder[(Long, Array[Long], Array[Long])] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Long, Array[Long], Array[Long])]()
    override def outputEncoder: Encoder[MmdCells] =
      Encoders.product[MmdCells]
  }

  /** Aggregate Column over an `array<double>` embedding column:
    * one packed (n, sh[.], sl[.]) struct per group. */
  def mmdCellsAgg(emb: Column, dim: Int): Column = {
    implicit val enc: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[Double]]()
    udaf(new MmdCellAggregator(dim), enc).apply(emb)
  }
}
