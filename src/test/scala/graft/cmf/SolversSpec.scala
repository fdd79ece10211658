package graft.cmf

import org.scalatest.funsuite.AnyFunSuite

class SolversSpec extends AnyFunSuite {

  /** Build packed AtA / Atb from an explicit design matrix. */
  private def normalEq(rows: Seq[(Array[Float], Float)], k: Int): NormalEq = {
    val ne = NormalEq.zero(k)
    rows.foreach { case (a, b) =>
      NormalEq.addOuter(ne.ata, a, 0, k, 1.0)
      NormalEq.axpy(ne.atb, a, 0, k, b.toDouble)
      ne.n += 1
    }
    ne
  }

  private def deterministicRows(k: Int, n: Int): Seq[(Array[Float], Float)] = {
    val xTrue = Array.tabulate(k)(i => 0.5f + 0.1f * i)
    (0 until n).map { r =>
      val a = Array.tabulate(k) { j =>
        val h = CollectiveALS.splitmix64(r * 1000L + j)
        (((h >>> 11).toDouble / (1L << 53)) * 2.0 - 1.0).toFloat
      }
      val b = a.zip(xTrue).map { case (x, y) => x * y }.sum
      (a, b)
    }
  }

  test("Cholesky solves a consistent regularized system to high accuracy") {
    val k = 8
    val rows = deterministicRows(k, 200)
    val ne = normalEq(rows, k)
    val x = new CholeskySolver(k).solve(ne.ata, ne.atb, 1e-9)
    val xTrue = Array.tabulate(k)(i => 0.5 + 0.1 * i)
    x.zip(xTrue).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-4, s"got $got want $want")
    }
  }

  test("Cholesky regularization shrinks the solution") {
    val k = 6
    val ne = normalEq(deterministicRows(k, 100), k)
    val loose = new CholeskySolver(k).solve(ne.ata.clone(), ne.atb.clone(), 1e-9)
    val tight = new CholeskySolver(k).solve(ne.ata.clone(), ne.atb.clone(), 100.0)
    val n2 = (v: Array[Float]) => math.sqrt(v.map(x => x * x.toDouble).sum)
    assert(n2(tight) < n2(loose))
  }

  test("NNLS matches Cholesky when the unconstrained optimum is nonnegative") {
    val k = 8
    val ne = normalEq(deterministicRows(k, 200), k) // xTrue all positive
    val chol = new CholeskySolver(k).solve(ne.ata.clone(), ne.atb.clone(), 0.01)
    val nnls = new NnlsSolver(k).solve(ne.ata.clone(), ne.atb.clone(), 0.01)
    chol.zip(nnls).foreach { case (c, n) => assert(math.abs(c - n) < 1e-5) }
  }

  test("NNLS clamps and satisfies KKT on an active constraint") {
    val k = 4
    // Target with a negative coordinate → constraint must bind at 0.
    val xTrue = Array(1.0f, -2.0f, 0.5f, 3.0f)
    val rows = (0 until 100).map { r =>
      val a = Array.tabulate(k) { j =>
        val h = CollectiveALS.splitmix64(r * 77L + j)
        (((h >>> 11).toDouble / (1L << 53)) * 2.0 - 1.0).toFloat
      }
      (a, a.zip(xTrue).map { case (x, y) => x * y }.sum)
    }
    val ne = normalEq(rows, k)
    val lambda = 0.01
    val x = new NnlsSolver(k).solve(ne.ata.clone(), ne.atb.clone(), lambda)
    assert(x.forall(_ >= 0.0f), s"negative coordinate in ${x.mkString(",")}")
    // KKT: for x_j > 0 the gradient of the regularized objective is ~0;
    // for x_j = 0 it is >= 0 (pushing further negative is not improving).
    val full = new Array[Double](k * k)
    Solvers.unpack(ne.ata, full, k, lambda)
    val grad = Array.tabulate(k) { j =>
      (0 until k).map(i => full(j * k + i) * x(i)).sum - ne.atb(j)
    }
    grad.zip(x).foreach { case (g, xi) =>
      if (xi > 1e-9f) assert(math.abs(g) < 1e-5, s"interior gradient $g")
      else assert(g > -1e-5, s"active-set gradient $g negative")
    }
  }

  test("initFactor is deterministic, unit-norm, nonnegative") {
    val f1 = CollectiveALS.initFactor(42L, 12345L, 16)
    val f2 = CollectiveALS.initFactor(42L, 12345L, 16)
    assert(f1.toSeq == f2.toSeq)
    assert(f1.forall(_ >= 0.0f))
    val norm = math.sqrt(f1.map(x => x * x.toDouble).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    val other = CollectiveALS.initFactor(42L, 12346L, 16)
    assert(f1.toSeq != other.toSeq)
  }
}
