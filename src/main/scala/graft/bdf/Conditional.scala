package graft.bdf

import breeze.linalg.{cholesky, DenseMatrix, DenseVector, MatrixNotSymmetricException,
  NotConvergedException}

/** The per-entity sampling math of one Gibbs sweep, shared by both
  * factor stores ([[BroadcastStore]] broadcasts the opposite-mode
  * factors, [[DistributedStore]] joins them in; both hand the resulting
  * rows to these functions).
  *
  * An entity observed in cells with opposite-mode products z (Macau
  * §2.4; the plain BPMF dot product at arity 2) and values v is drawn
  * from the BPMF §3.1 conditional
  *
  *   N(P^-1 (Λ μ0 + Σ aw·v·z), P^-1),   P = Λ + Σ aw·z zᵀ,
  *
  * with (μ, Λ) the entity type's Normal-Wishart state, aw the cell's
  * noise precision, and μ0 = μ + βᵀx_i when side info is attached
  * (Macau §3.2). An entity with no observed cell keeps the prior draw
  * N(μ0, Λ^-1).
  *
  * Every draw is a counter-based pure function of (seed, sweep, entity,
  * id), so results do not depend on partitioning. No function here
  * writes to its inputs: the arrays passed in are broadcast values
  * shared by every task on an executor.
  */
object Conditional {

  /** μ + shift as a new array; `mu` itself when there is no shift. */
  def shifted(mu: Array[Double], shift: Array[Double]): Array[Double] =
    if (shift == null) mu else Array.tabulate(mu.length)(j => mu(j) + shift(j))

  /** Draw entity `id`'s factor row from its conditional.
    *
    * @param lam  Λ, column-major k x k
    * @param mu0  the prior mean, already shifted by the link term
    * @param rows (z, v, aw) of every observed cell of the entity
    * @param tag  the entity name: its hashCode keys the RNG stream, and
    *             it names the entity if the Cholesky factor fails */
  def draw(lam: Array[Double], mu0: Array[Double],
           rows: Iterator[(Array[Double], Double, Double)], k: Int,
           seed: Long, iter: Long, tag: String, id: Long): Array[Double] = {
    val prec = new DenseMatrix[Double](k, k, lam.clone())
    val rhs = prec * DenseVector(mu0)
    rows.foreach { case (z, v, aw) =>
      var r0 = 0
      while (r0 < k) {
        val zr = z(r0) * aw
        var c0 = 0
        while (c0 < k) { prec(r0, c0) += zr * z(c0); c0 += 1 }
        rhs(r0) += zr * v
        r0 += 1
      }
    }
    val l = factor(prec, s"the conditional precision of entity $tag id $id", iter)
    // mean = P^-1 rhs via two triangular solves, then mean + L^-T eps
    val mean = upperSolveT(l, lowerSolve(l, rhs))
    val eps = DenseVector.tabulate(k)(j =>
      CbRng.gaussian(seed, iter, tag.hashCode.toLong, id, j.toLong))
    (mean + upperSolveT(l, eps)).toArray
  }

  /** Cholesky factor of Λ for [[prior]]: computed once per entity type
    * and sweep, on the driver. */
  def priorFactor(lam: DenseMatrix[Double], tag: String, iter: Long): DenseMatrix[Double] =
    factor(lam, s"the prior precision of entity $tag", iter)

  /** Prior draw μ0 + L^-T eps for an entity with no observed cell;
    * `lChol` is [[priorFactor]] of the entity type's Λ. */
  def prior(lChol: DenseMatrix[Double], mu0: Array[Double], k: Int,
            seed: Long, iter: Long, tag: String, id: Long): Array[Double] = {
    val eps = DenseVector.tabulate(k)(j =>
      CbRng.gaussian(seed, iter, tag.hashCode.toLong + 7L, id, j.toLong))
    (DenseVector(mu0) + upperSolveT(lChol, eps)).toArray
  }

  /** Counter key of a probit cell's uniform: relation and mode. */
  def relTag(relation: String, mode: Int): Long =
    relation.hashCode.toLong ^ (mode.toLong << 17) ^ 0x9b17L

  /** Albert-Chib latent for a binary cell: a unit-variance normal
    * around the current prediction z·self, truncated to the label's
    * sign, from one counter-RNG uniform keyed by the cell's ids. */
  def probitLatent(z: Array[Double], self: Array[Double], ids: Seq[Long], v: Double,
                   seed: Long, iter: Long, relTag: Long): Double = {
    var pred = 0.0
    var j = 0
    while (j < z.length) { pred += z(j) * self(j); j += 1 }
    val ck = ids.foldLeft(0L)((acc, i) => acc * 1000003L + i)
    Gibbs.Probit.truncatedNormal(pred, v > 0.5, CbRng.uniform(seed, iter, relTag, ck))
  }

  /** Lower Cholesky factor; a failure names what was being factored. */
  private def factor(m: DenseMatrix[Double], what: String, iter: Long): DenseMatrix[Double] =
    try cholesky(m)
    catch {
      case e @ (_: NotConvergedException | _: MatrixNotSymmetricException) =>
        throw new IllegalStateException(
          s"Cholesky failed for $what at sweep $iter: $e", e)
    }

  /** Solve L y = b for lower-triangular L. */
  def lowerSolve(l: DenseMatrix[Double], b: DenseVector[Double]): DenseVector[Double] = {
    val n = b.length
    val y = DenseVector.zeros[Double](n)
    var i = 0
    while (i < n) {
      var s = b(i)
      var j = 0
      while (j < i) { s -= l(i, j) * y(j); j += 1 }
      y(i) = s / l(i, i)
      i += 1
    }
    y
  }

  /** Solve L^T x = y for lower-triangular L. */
  def upperSolveT(l: DenseMatrix[Double], y: DenseVector[Double]): DenseVector[Double] = {
    val n = y.length
    val x = DenseVector.zeros[Double](n)
    var i = n - 1
    while (i >= 0) {
      var s = y(i)
      var j = i + 1
      while (j < n) { s -= l(j, i) * x(j); j += 1 }
      x(i) = s / l(i, i)
      i -= 1
    }
    x
  }
}
