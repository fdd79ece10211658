package graft.cmf

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

/** Packed least-squares normal equation Σ c·(a aᵀ) x = Σ c·b·a.
  *
  * The buffer is the upper triangle of AtA in column-major packed order
  * (element (i,j), i ≤ j, at index j(j+1)/2 + i — k(k+1)/2 doubles), plus
  * Atb (k doubles), the explicit-observation count `n` (the ALS-WR λ·n
  * weight), and a bitmask of the relation indices that contributed (used
  * by implicit-prefs collective fits to know which relations' YtY Grams
  * to merge at solve time).
  *
  * Same math as the reference's NormalEquation
  * (`/root/reference/src/main/scala/com/github/jongwook/cmf/CollectiveALS.scala:504-560`),
  * and like the reference [[CollectiveALS]] builds these in place inside
  * each destination block from routed source factors (`addOuter`/`axpy`
  * over a flat factor buffer), so they never cross a shuffle. [[NormalEqAggregator]] carries
  * the same buffer through a Spark SQL aggregation for
  * [[CollectiveALSModel.foldIn]], where map-side partial aggregation
  * shuffles one buffer of k(k+1)/2 + k doubles per (partition, id) —
  * about k/2 times the bytes of routing k floats per (id, block), which
  * is acceptable for a fold-in batch but not for a fit.
  */
case class NormalEq(
    var ata: Array[Double],
    var atb: Array[Double],
    var n: Long,
    var mask: Long)

object NormalEq {
  def zero(rank: Int): NormalEq =
    NormalEq(new Array[Double](rank * (rank + 1) / 2), new Array[Double](rank), 0L, 0L)

  /** ata += c · f fᵀ (packed upper, column-major). */
  def addOuter(ata: Array[Double], f: Array[Float], c: Double): Unit =
    addOuter(ata, f, 0, f.length, c)

  /** ata += c · v vᵀ for v = f[off, off + k). */
  def addOuter(ata: Array[Double], f: Array[Float], off: Int, k: Int, c: Double): Unit = {
    var j = 0
    var idx = 0
    while (j < k) {
      val cfj = c * f(off + j)
      var i = 0
      while (i <= j) {
        ata(idx) += cfj * f(off + i)
        idx += 1
        i += 1
      }
      j += 1
    }
  }

  /** atb += c · f. */
  def axpy(atb: Array[Double], f: Array[Float], c: Double): Unit =
    axpy(atb, f, 0, f.length, c)

  /** atb += c · f[off, off + k). */
  def axpy(atb: Array[Double], f: Array[Float], off: Int, k: Int, c: Double): Unit = {
    var i = 0
    while (i < k) {
      atb(i) += c * f(off + i)
      i += 1
    }
  }
}

/** Typed aggregator building one [[NormalEq]] per grouped entity id from
  * (features, rating, relationIndex) rows.
  *
  * Explicit: every row adds (a aᵀ, r·a) and counts toward λ·n.
  * Implicit (Hu-Koren, reference `CollectiveALS.scala:1014-1024`):
  * confidence c1 = α·|r|; only r > 0 rows add (c1·a aᵀ, (c1+1)·a) and
  * count; r ≤ 0 rows only mark relation membership (their YtY baseline is
  * merged at solve time).
  */
class NormalEqAggregator(rank: Int, implicitPrefs: Boolean, alpha: Double)
    extends Aggregator[(Array[Float], Float, Int), NormalEq, NormalEq] {

  override def zero: NormalEq = NormalEq.zero(rank)

  override def reduce(b: NormalEq, in: (Array[Float], Float, Int)): NormalEq = {
    val (f, r, rel) = in
    require(f.length == rank, s"feature length ${f.length} != rank $rank")
    b.mask |= 1L << rel
    if (!implicitPrefs) {
      NormalEq.addOuter(b.ata, f, 1.0)
      if (r != 0.0f) NormalEq.axpy(b.atb, f, r.toDouble)
      b.n += 1
    } else if (r > 0.0f) {
      val c1 = alpha * math.abs(r.toDouble)
      NormalEq.addOuter(b.ata, f, c1)
      NormalEq.axpy(b.atb, f, c1 + 1.0)
      b.n += 1
    }
    b
  }

  override def merge(a: NormalEq, b: NormalEq): NormalEq = {
    var i = 0
    while (i < a.ata.length) { a.ata(i) += b.ata(i); i += 1 }
    i = 0
    while (i < a.atb.length) { a.atb(i) += b.atb(i); i += 1 }
    a.n += b.n
    a.mask |= b.mask
    a
  }

  override def finish(reduction: NormalEq): NormalEq = reduction

  override def bufferEncoder: Encoder[NormalEq] = Encoders.product[NormalEq]
  override def outputEncoder: Encoder[NormalEq] = Encoders.product[NormalEq]
}
