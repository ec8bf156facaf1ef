package graft.bdf

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.SparkSpec

/** Distributed CG side-solver: sparse rows must reproduce the dense
  * path bit-for-bit (zero terms contribute exactly 0.0 to every
  * accumulation), and both must actually solve the normal equations. */
class CgSpec extends SparkSpec {

  /** Dense rows in the solver's row form: (indices = null, values, target). */
  private def denseDF(rows: Seq[(Seq[Double], Seq[Double])]) = {
    val s = spark
    import s.implicits._
    rows.map { case (x, t) => (null: Seq[Int], x, t) }.toDF("indices", "values", "target")
  }

  private def mkRows(n: Int, f: Int, k: Int): Seq[(Seq[Double], Seq[Double])] =
    (0 until n).map { i =>
      // ~60% sparse deterministic pattern
      val x = (0 until f).map(j =>
        if ((i * 31 + j * 17) % 5 < 2) CbRng.gaussian(7L, 1L, i.toLong, j.toLong)
        else 0.0)
      val t = (0 until k).map(c => CbRng.gaussian(7L, 2L, i.toLong, c.toLong))
      (x, t)
    }

  test("sparse rows give bit-identical beta to dense rows") {
    val s = spark
    import s.implicits._
    val n = 60; val f = 12; val k = 3
    val rows = mkRows(n, f, k)
    // same element order + same parallelize split => identical
    // accumulation order in both treeAggregates (a DataFrame
    // .repartition would NOT preserve this: round-robin sorts rows by
    // their binary representation first, which differs per schema)
    val dense = denseDF(rows)
    val sparse = rows.map { case (x, t) =>
      val nz = x.zipWithIndex.filter(_._1 != 0.0)
      (nz.map(_._2), nz.map(_._1), t)
    }.toDF("indices", "values", "target")
    val bDense = Cg.solveNormal(spark, dense, f, k, lambda = 2.5)
    val bSparse = Cg.solveNormal(spark, sparse, f, k, lambda = 2.5)
    assert(bDense === bSparse)
  }

  test("CG solves the normal equations (vs direct solve)") {
    val n = 50; val f = 8; val k = 2
    val rows = mkRows(n, f, k)
    val beta = Cg.solveNormal(spark, denseDF(rows), f, k,
      lambda = 1.5, maxIter = 200, tol = 1e-24)
    // driver-side reference: (X^T X + lambda I)^-1 X^T T
    val x = DenseMatrix.tabulate[Double](n, f)((i, j) => rows(i)._1(j))
    val t = DenseMatrix.tabulate[Double](n, k)((i, c) => rows(i)._2(c))
    val a = x.t * x + DenseMatrix.eye[Double](f) * 1.5
    val ref = breeze.linalg.inv(a) * (x.t * t)
    val diff = breeze.linalg.max((beta - ref).toDenseVector.map(math.abs))
    assert(diff < 1e-8, s"max |beta - ref| = $diff")
  }

  test("rhsExtra shifts the solution by A^-1 rhsExtra") {
    val n = 40; val f = 6; val k = 2
    val rows = mkRows(n, f, k)
    val df = denseDF(rows)
    val extra = DenseMatrix.tabulate[Double](f, k)((i, c) =>
      CbRng.gaussian(7L, 3L, i.toLong, c.toLong))
    val b0 = Cg.solveNormal(spark, df, f, k, 2.0, maxIter = 200, tol = 1e-24)
    val b1 = Cg.solveNormal(spark, df, f, k, 2.0, maxIter = 200, tol = 1e-24,
      rhsExtra = Some(extra))
    val x = DenseMatrix.tabulate[Double](n, f)((i, j) => rows(i)._1(j))
    val a = x.t * x + DenseMatrix.eye[Double](f) * 2.0
    val expectedShift = breeze.linalg.inv(a) * extra
    val diff = breeze.linalg.max((b1 - b0 - expectedShift).toDenseVector.map(math.abs))
    assert(diff < 1e-8, s"max shift error = $diff")
  }
}
