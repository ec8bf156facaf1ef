package graft.bdf

import breeze.linalg.{DenseMatrix, NotConvergedException}
import org.scalatest.funsuite.AnyFunSuite

/** The shared per-entity kernel: pure functions of their arguments that
  * never write to them (the arrays are broadcast values shared by every
  * task on an executor), and a failed Cholesky names its entity. */
class ConditionalSpec extends AnyFunSuite {

  private val k = 3
  // a well-conditioned SPD Λ, column-major
  private val lam = Array(2.0, 0.3, 0.1, 0.3, 1.5, 0.2, 0.1, 0.2, 1.8)
  private def cells = Iterator(
    (Array(0.5, -1.0, 0.2), 1.3, 4.0),
    (Array(-0.7, 0.4, 1.1), -0.2, 4.0))

  test("draw and prior leave their input arrays unchanged") {
    val mu = Array(0.1, -0.2, 0.3)
    val shift = Array(1.0, 2.0, -3.0)
    val rows = cells.toSeq
    val zs = rows.map(_._1.clone())
    val (lam0, mu0, shift0) = (lam.clone(), mu.clone(), shift.clone())

    val mu1 = Conditional.shifted(mu, shift)
    val u = Conditional.draw(lam, mu1, rows.iterator, k, 42L, 3L, "row", 7L)
    val lChol = Conditional.priorFactor(new DenseMatrix(k, k, lam), "row", 3L)
    val p = Conditional.prior(lChol, mu1, k, 42L, 3L, "row", 8L)

    assert(lam.sameElements(lam0) && mu.sameElements(mu0) && shift.sameElements(shift0))
    assert(mu1.sameElements(Array(1.1, 1.8, -2.7)))
    assert(rows.map(_._1).zip(zs).forall { case (a, b) => a.sameElements(b) })
    // a second call sees the same inputs, so it draws the same bits
    assert(Conditional.draw(lam, mu1, rows.iterator, k, 42L, 3L, "row", 7L).sameElements(u))
    assert(Conditional.prior(lChol, mu1, k, 42L, 3L, "row", 8L).sameElements(p))
    assert((u ++ p).forall(x => java.lang.Double.isFinite(x)))
  }

  test("a failed Cholesky names the entity, id and sweep, keeping the cause") {
    // symmetric but indefinite: eigenvalues 3 and -1
    val bad = Array(1.0, 2.0, 0.0, 2.0, 1.0, 0.0, 0.0, 0.0, 1.0)
    val e = intercept[IllegalStateException](
      Conditional.draw(bad, Array(0.0, 0.0, 0.0), Iterator.empty, k, 1L, 5L, "movie", 12L))
    assert(e.getMessage.contains("entity movie id 12 at sweep 5"), e.getMessage)
    assert(e.getCause.isInstanceOf[NotConvergedException])

    val ep = intercept[IllegalStateException](
      Conditional.priorFactor(new DenseMatrix(k, k, bad), "movie", 6L))
    assert(ep.getMessage.contains("entity movie at sweep 6"), ep.getMessage)
    assert(ep.getCause.isInstanceOf[NotConvergedException])
  }
}
