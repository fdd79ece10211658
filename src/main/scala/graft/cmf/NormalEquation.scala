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
  * each destination block from routed source factors, one rating at a
  * time through [[NormalEq.add]], so they never cross a shuffle; the fit
  * and [[CollectiveALSModel.foldIn]] share that path. [[NormalEqAggregator]]
  * carries the same buffer through a Spark SQL aggregation. No library
  * code uses it; it is kept for the benchmark's kernel timing.
  */
case class NormalEq(
    var ata: Array[Double],
    var atb: Array[Double],
    var n: Long,
    var mask: Long)

object NormalEq {
  def zero(rank: Int): NormalEq =
    NormalEq(new Array[Double](rank * (rank + 1) / 2), new Array[Double](rank), 0L, 0L)

  /** ata += c · v vᵀ for v = f[off, off + k) (packed upper, column-major). */
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

  /** Adds rating `r` of source factor v = f[off, off + k) to (ata, atb);
    * returns its count toward λ·n. Explicit: (v vᵀ, r·v), counted.
    * Implicit (Hu-Koren, reference `CollectiveALS.scala:1014-1024`):
    * c1 = α·|r|; r > 0 adds (c1·v vᵀ, (c1+1)·v), counted; r ≤ 0 adds nothing
    * (its YtY baseline is merged at solve time). */
  def add(ata: Array[Double], atb: Array[Double], f: Array[Float], off: Int, k: Int, r: Float,
      implicitPrefs: Boolean, alpha: Double): Int =
    if (!implicitPrefs) {
      addOuter(ata, f, off, k, 1.0)
      if (r != 0.0f) axpy(atb, f, off, k, r.toDouble)
      1
    } else if (r > 0.0f) {
      val c1 = alpha * math.abs(r.toDouble)
      addOuter(ata, f, off, k, c1)
      axpy(atb, f, off, k, c1 + 1.0)
      1
    } else 0

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
  * (features, rating, relationIndex) rows, by [[NormalEq.add]]'s rule; every
  * row marks its relation in the mask.
  */
class NormalEqAggregator(rank: Int, implicitPrefs: Boolean, alpha: Double)
    extends Aggregator[(Array[Float], Float, Int), NormalEq, NormalEq] {

  override def zero: NormalEq = NormalEq.zero(rank)

  override def reduce(b: NormalEq, in: (Array[Float], Float, Int)): NormalEq = {
    val (f, r, rel) = in
    require(f.length == rank, s"feature length ${f.length} != rank $rank")
    b.mask |= 1L << rel
    b.n += NormalEq.add(b.ata, b.atb, f, 0, rank, r, implicitPrefs, alpha)
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
