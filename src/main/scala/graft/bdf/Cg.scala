package graft.bdf

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Distributed conjugate-gradient solver for the Macau side-information
  * link (arXiv:1509.04610 §3.2): solve (X^T X + lambda I) beta = rhs
  * WITHOUT materializing X^T X — each CG iteration runs one distributed
  * pass over the row-partitioned feature matrix computing
  * X^T (X p) + lambda p, summed through [[DetSum]]. This is the scale path for
  * side-info matrices whose Gram matrix (F x F) or row count make the
  * driver-side Cholesky in BroadcastStore.drawLink infeasible; the per-pass
  * cost is O(nnz(X) * K) and the driver only ever holds F x K state.
  *
  * X arrives in [[SideTable]]'s row form, each row DENSE (indices
  * null, values the whole row) or SPARSE (indices strictly ascending,
  * values the nonzeros) — the reference's side matrices (e.g. ChEMBL
  * compound fingerprints, F ~ 10^5) are sparse binary, where a dense
  * row would be ~800 KB; a sparse row costs O(nnz). Because zero terms
  * contribute exactly 0.0 to every accumulation, sparse and dense rows
  * of the same X produce bit-identical iterates for the same
  * partitioning. */
object Cg {

  /** Solve (X^T X + lambda I) beta = X^T T + rhsExtra for all K columns
    * at once.
    * @param xt one row of X per row, zipped with its target row:
    *           (indices: array<int>, null for a dense row,
    *           values: array<double>, target: array<double>)
    * @param rhsExtra optional F x K term added to the right-hand side
    *                 (the Macau draw's sqrt(lambda)-scaled prior noise)
    * @return beta (F x K) */
  def solveNormal(spark: SparkSession, xt: DataFrame, fDim: Int, k: Int,
                  lambda: Double, maxIter: Int = 30,
                  tol: Double = 1e-9,
                  rhsExtra: Option[DenseMatrix[Double]] = None): DenseMatrix[Double] = {
    val rows = xt.select(col("indices"), col("values"), col("target")).rdd.map { r =>
      (if (r.isNullAt(0)) null else r.getSeq[Int](0).toArray,
       r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray)
    }.persist()

    // rhs = X^T T, one distributed pass (DetSum: bit-deterministic for
    // a fixed partitioning, unlike treeAggregate's arrival-order merge)
    val rhs = new DenseMatrix(fDim, k, DetSum.sum(
      rows.mapPartitionsWithIndex { (pid, it) =>
        val acc = new Array[Double](fDim * k) // column-major
        it.foreach { case (ix, v, t) =>
          val nnz = v.length
          var p = 0
          while (p < nnz) {
            val i = if (ix == null) p else ix(p)
            val xi = v(p)
            if (xi != 0.0) {
              var j = 0
              while (j < k) { acc(j * fDim + i) += xi * t(j); j += 1 }
            }
            p += 1
          }
        }
        Iterator((pid, acc))
      }, fDim * k))
    rhsExtra.foreach(rhs += _)

    // A p = X^T (X p) + lambda p, one distributed pass per CG step for
    // ALL K systems simultaneously (p is F x K)
    def applyA(p: DenseMatrix[Double]): DenseMatrix[Double] = {
      val bp = spark.sparkContext.broadcast(p.toArray) // column-major F*K
      val xtxp = new DenseMatrix(fDim, k, DetSum.sum(
        rows.mapPartitionsWithIndex { (pid, it) =>
          val acc = new Array[Double](fDim * k)
          val pArr = bp.value
          it.foreach { case (ix, v, _) =>
            val nnz = v.length
            // u = x^T p  (K)
            val u = new Array[Double](k)
            var j = 0
            while (j < k) {
              var s = 0.0
              var q = 0
              while (q < nnz) {
                val i = if (ix == null) q else ix(q)
                s += v(q) * pArr(j * fDim + i)
                q += 1
              }
              u(j) = s
              j += 1
            }
            // acc += x outer u
            var q = 0
            while (q < nnz) {
              val i = if (ix == null) q else ix(q)
              val xi = v(q)
              if (xi != 0.0) {
                var j2 = 0
                while (j2 < k) { acc(j2 * fDim + i) += xi * u(j2); j2 += 1 }
              }
              q += 1
            }
          }
          Iterator((pid, acc))
        }, fDim * k))
      bp.destroy()
      xtxp += p * lambda
    }

    // standard CG on K decoupled systems sharing each distributed pass
    val beta = DenseMatrix.zeros[Double](fDim, k)
    var r = rhs - applyA(beta)
    var p = r.copy
    var rs = DenseVector.tabulate(k)(j => r(::, j) dot r(::, j))
    var iter = 0
    while (iter < maxIter && breeze.linalg.max(rs) > tol) {
      val ap = applyA(p)
      var j = 0
      while (j < k) {
        val denom = p(::, j) dot ap(::, j)
        if (denom > 0) {
          val alpha = rs(j) / denom
          beta(::, j) :+= p(::, j) * alpha
          r(::, j) :-= ap(::, j) * alpha
        }
        j += 1
      }
      val rsNew = DenseVector.tabulate(k)(j2 => r(::, j2) dot r(::, j2))
      j = 0
      while (j < k) {
        val b = if (rs(j) > 0) rsNew(j) / rs(j) else 0.0
        p(::, j) := r(::, j) + p(::, j) * b
        j += 1
      }
      rs = rsNew
      iter += 1
    }
    rows.unpersist()
    beta
  }
}
