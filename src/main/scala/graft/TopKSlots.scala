package graft

/** The best `k` (id, score) pairs offered so far, best first, kept in k
  * fixed slots: score descending in Spark's order (NaN above every number,
  * -0.0 equal to 0.0), then id ascending. An offer costs at most k
  * comparisons and allocates nothing, so it can sit in the innermost
  * scoring loop; a candidate below the last filled slot costs one.
  *
  * Shared by [[graft.cmf.CollectiveALSModel.recommendTopK]] and the
  * `graft.ops.Pq` searches, which all select a top-k per query without
  * sorting. */
private[graft] final class TopKSlots(val k: Int) extends Serializable {
  require(k > 0, "k must be positive")
  val ids = new Array[Long](k)
  val scores = new Array[Double](k)
  private var filled = 0

  /** Slots in use: min(k, offers so far). */
  def size: Int = filled

  def offer(id: Long, score: Double): Unit = {
    var p = filled
    while (p > 0 && TopKSlots.before(score, id, scores(p - 1), ids(p - 1))) p -= 1
    if (p < k) {
      var m = math.min(filled, k - 1)
      while (m > p) { ids(m) = ids(m - 1); scores(m) = scores(m - 1); m -= 1 }
      ids(p) = id
      scores(p) = score
      if (filled < k) filled += 1
    }
  }

  /** Offers every pair of `other`: the bounded merge of two top-k lists. */
  def merge(other: TopKSlots): this.type = {
    var i = 0
    while (i < other.filled) { offer(other.ids(i), other.scores(i)); i += 1 }
    this
  }
}

private[graft] object TopKSlots {

  /** Whether (s, id) ranks ahead of (s2, id2). The score comparison is
    * Spark's `compareDoubles`, so the slots agree with a window ordered by
    * `score desc, id`. */
  @inline def before(s: Double, id: Long, s2: Double, id2: Long): Boolean = {
    val c = if (s == s2) 0 else java.lang.Double.compare(s, s2)
    c > 0 || (c == 0 && id < id2)
  }
}
