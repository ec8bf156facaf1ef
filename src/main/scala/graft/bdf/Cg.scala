package graft.bdf

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Distributed conjugate-gradient solver for the Macau side-information
  * link (arXiv:1509.04610 §3.2): solve (X^T X + lambda I) beta = rhs
  * WITHOUT materializing X^T X — each CG iteration runs one distributed
  * pass over the row-partitioned feature matrix computing
  * X^T (X p) + lambda p via treeAggregate. This is the scale path for
  * side-info matrices whose Gram matrix (F x F) or row count make the
  * driver-side Cholesky in BroadcastStore.drawLink infeasible; the per-pass
  * cost is O(nnz(X) * K) and the driver only ever holds F x K state.
  *
  * Rows may be DENSE (features: array<double>) or SPARSE
  * (indices: array<int> ascending + values: array<double>) — the
  * reference's side matrices (e.g. ChEMBL compound fingerprints,
  * F ~ 10^5) are sparse binary, where a dense row would be ~800 KB;
  * the sparse path costs O(nnz) per row. Because zero terms contribute
  * exactly 0.0 to every accumulation, the sparse and dense paths
  * produce bit-identical iterates for the same partitioning. */
object Cg {

  /** One row of X zipped with its target row: (indices-or-null, values,
    * target K). indices == null means dense. */
  type XRow = (Array[Int], Array[Double], Array[Double])

  /** Solve (X^T X + lambda I) beta = X^T T + rhsExtra for all K columns
    * at once, dense rows (features, target).
    * @param rhsExtra optional F x K term added to the right-hand side
    *                 (the Macau draw's sqrt(lambda)-scaled prior noise)
    * @return beta (F x K) */
  def solveNormal(spark: SparkSession, xt: DataFrame, fDim: Int, k: Int,
                  lambda: Double, maxIter: Int = 30,
                  tol: Double = 1e-9,
                  rhsExtra: Option[DenseMatrix[Double]] = None): DenseMatrix[Double] = {
    import spark.implicits._
    val rows = xt.select(col("features"), col("target"))
      .as[(Seq[Double], Seq[Double])]
      .rdd.map { case (f, t) => (null: Array[Int], f.toArray, t.toArray) }
    solveRows(spark, rows, fDim, k, lambda, maxIter, tol, rhsExtra)
  }

  /** Sparse-row variant: xt has (indices: array<int>, values:
    * array<double>, target: array<double>), indices strictly ascending
    * per row. */
  def solveNormalSparse(spark: SparkSession, xt: DataFrame, fDim: Int, k: Int,
                        lambda: Double, maxIter: Int = 30,
                        tol: Double = 1e-9,
                        rhsExtra: Option[DenseMatrix[Double]] = None): DenseMatrix[Double] = {
    import spark.implicits._
    val rows = xt.select(col("indices"), col("values"), col("target"))
      .as[(Seq[Int], Seq[Double], Seq[Double])]
      .rdd.map { case (ix, v, t) => (ix.toArray, v.toArray, t.toArray) }
    solveRows(spark, rows, fDim, k, lambda, maxIter, tol, rhsExtra)
  }

  private def solveRows(spark: SparkSession, rows0: RDD[XRow], fDim: Int, k: Int,
                        lambda: Double, maxIter: Int, tol: Double,
                        rhsExtra: Option[DenseMatrix[Double]]): DenseMatrix[Double] = {
    val rows = rows0.persist()

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
