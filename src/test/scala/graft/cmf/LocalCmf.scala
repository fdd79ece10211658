package graft.cmf

/** Single-machine dense collective ALS: the reference the blocked fit is
  * checked against. Same model as [[CollectiveALS]] — the same per-id
  * init, entity update order, explicit and Hu-Koren implicit rules, λ·n
  * regularization, per-relation YtY merge over the source ids each
  * relation observes, and [[NnlsSolver]] for nonnegative fits — but with
  * full k×k matrices summed in input order and, for the unconstrained
  * case, Gaussian elimination instead of Cholesky. */
object LocalCmf {

  /** Ratings (left id, right id, rating) between entities `left` and
    * `right` (indices into the entity list). */
  final case class Relation(left: Int, right: Int, rows: Seq[(Long, Long, Float)])

  def fit(
      entities: Int,
      rels: Seq[Relation],
      rank: Int,
      iters: Int,
      reg: Double,
      seed: Long,
      implicitPrefs: Boolean = false,
      alpha: Double = 1.0,
      nonnegative: Boolean = false): IndexedSeq[Map[Long, Array[Float]]] = {
    val k = rank
    val factors = Array.tabulate(entities) { e =>
      val ids = rels.flatMap { r =>
        (if (r.left == e) r.rows.map(_._1) else Nil) ++ (if (r.right == e) r.rows.map(_._2) else Nil)
      }.distinct
      val s = CollectiveALS.splitmix64(seed + e)
      ids.map(id => id -> CollectiveALS.initFactor(s, id, k)).toMap
    }
    for (_ <- 0 until iters; e <- 0 until entities) {
      // (dst id, source factor, rating, relation) for every incident side.
      val obs = rels.zipWithIndex.flatMap { case (r, i) =>
        (if (r.left == e) r.rows.map(x => (x._1, factors(r.right)(x._2), x._3, i)) else Nil) ++
          (if (r.right == e) r.rows.map(x => (x._2, factors(r.left)(x._1), x._3, i)) else Nil)
      }
      val yty: Map[Int, Array[Array[Double]]] =
        if (!implicitPrefs) Map.empty
        else rels.zipWithIndex.collect {
          case (r, i) if r.left == e || r.right == e =>
            val (src, ids) = if (r.left == e) (r.right, r.rows.map(_._2)) else (r.left, r.rows.map(_._1))
            val g = Array.ofDim[Double](k, k)
            ids.distinct.foreach(id => outer(g, factors(src)(id), 1.0))
            i -> g
        }.toMap
      factors(e) = obs.groupBy(_._1).map { case (id, rows) =>
        val a = Array.ofDim[Double](k, k)
        val b = new Array[Double](k)
        var n = 0L
        rows.foreach { case (_, f, r, _) =>
          if (!implicitPrefs) {
            outer(a, f, 1.0)
            for (i <- 0 until k) b(i) += r * f(i).toDouble
            n += 1
          } else if (r > 0) {
            val c1 = alpha * math.abs(r.toDouble)
            outer(a, f, c1)
            for (i <- 0 until k) b(i) += (c1 + 1.0) * f(i)
            n += 1
          }
        }
        rows.map(_._4).distinct.foreach { rel =>
          yty.get(rel).foreach(g => for (i <- 0 until k; j <- 0 until k) a(i)(j) += g(i)(j))
        }
        id -> solve(a, b, n * reg, nonnegative)
      }
    }
    factors.toIndexedSeq
  }

  private def outer(a: Array[Array[Double]], f: Array[Float], c: Double): Unit =
    for (i <- f.indices; j <- f.indices) a(i)(j) += c * f(i) * f(j)

  private def solve(a: Array[Array[Double]], b: Array[Double], lambda: Double, nonnegative: Boolean): Array[Float] = {
    val k = b.length
    if (nonnegative) {
      val packed = (for (j <- 0 until k; i <- 0 to j) yield a(i)(j)).toArray
      new NnlsSolver(k).solve(packed, b, lambda)
    } else {
      val m = Array.tabulate(k)(i => Array.tabulate(k + 1)(j => if (j == k) b(i) else a(i)(j) + (if (i == j) lambda else 0.0)))
      for (p <- 0 until k) {
        val piv = (p until k).maxBy(r => math.abs(m(r)(p)))
        val t = m(p); m(p) = m(piv); m(piv) = t
        for (r <- p + 1 until k) {
          val f = m(r)(p) / m(p)(p)
          for (c <- p to k) m(r)(c) -= f * m(p)(c)
        }
      }
      val x = new Array[Double](k)
      for (p <- (k - 1) to 0 by -1)
        x(p) = (m(p)(k) - (p + 1 until k).map(c => m(p)(c) * x(c)).sum) / m(p)(p)
      x.map(_.toFloat)
    }
  }
}
