package graft.bdf

import breeze.linalg.{cholesky, DenseMatrix, DenseVector}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Distributed mode: factor matrices never leave the cluster. Where
  * [[BroadcastStore]] holds each entity's N x K factors on the driver
  * and broadcasts them (the SharedArray analog — right up to the point
  * where N x K outgrows driver/broadcast memory), this store keeps every
  * factor table as a DataFrame (id, f: Array[Double]) and:
  *
  *  - builds the per-observation opposite-mode product z by JOINING the
  *    COO with each other mode's factor table (shuffle joins on the
  *    entity ids — the ALS in/out-block exchange expressed as joins,
  *    so AQE picks broadcast automatically while a side still fits and
  *    degrades to sort-merge when it doesn't);
  *  - carries each cell's link shift beta^T x_i (Macau §3.2) on its
  *    row, so the draw reads it from the first row of the group;
  *  - aggregates the Normal-Wishart sufficient statistics
  *    (n, sum u, sum u u^T) in one pass instead of iterating
  *    driver-side rows, and solves the side-information link with the
  *    distributed CG so X never leaves the cluster;
  *  - localCheckpoints the new factor tables each sweep to truncate
  *    lineage.
  *
  * Draws are counter-based, so they are partitioning-invariant; the NW
  * statistics and CG matvecs sum doubles via [[DetSum]] in partition-id
  * order and the SSE folds its per-partition partials in partition
  * order, so full runs are bit-stable for a fixed partitioning (the sums
  * reorder if the partitioning changes).
  */
private[bdf] final class DistributedStore(spark: SparkSession, rd: RelationData, test: DataFrame,
                                          opts: Gibbs.Options,
                                          sideWidth: String => Int) extends FactorStore {
  import spark.implicits._

  val mode = "distributed"
  private val k = opts.numLatent
  private val seed = opts.seed
  private val rel0 = rd.relations.head

  // the width job also runs every side-row check: it runs before
  // anything is cached, so a rejected input leaves no cache behind
  private val fDims: Map[String, Int] = rd.entities.collect {
    case (name, Entity(_, _, Some(_))) => name -> sideWidth(name)
  }
  private val coos: Seq[(Relation, DataFrame)] = rd.relations.map(r => r -> r.coo.persist())
  private val testCoo = test.persist()

  // initialized by counter RNG (id-addressed, so identical to the
  // broadcast store's init)
  private val factors = mutable.Map(rd.entities.keys.toSeq.sorted.map { e =>
    val eHash = e.hashCode.toLong
    val kk = k; val seedL = seed
    e -> spark.range(rd.entities(e).numItems).as[Long].map { id =>
      (id, Array.tabulate(kk)(j =>
        0.3 * CbRng.gaussian(seedL, -1L, eHash, id, j.toLong)))
    }.toDF("id", "f").localCheckpoint(true)
  }: _*)

  // side-info tables stay distributed, in SideTable's row form; only
  // beta (F x K) and the NW state live on the driver — the Macau link
  // solve runs through the distributed CG (Cg.solveNormal), so neither
  // X nor X^T X ever materializes in one place, and a sparse row (the
  // reference's fingerprint matrices, F ~ 1e5 with ~100 nnz/row) costs
  // its nonzeros only
  private val sideDFs: Map[String, DataFrame] = rd.entities.collect {
    case (name, Entity(_, _, Some(sd))) => name -> SideTable.rows(sd).persist()
  }
  // (id, shift = beta^T x_i), refreshed each sweep
  private val linkShift = mutable.Map[String, DataFrame]()

  /** z = elementwise product over the given modes' factor rows,
    * joined onto the COO. */
  private def withZ(coo: DataFrame, rel: Relation, modes: Seq[Int]): DataFrame = {
    var df = coo.withColumn("z", expr(s"array_repeat(1.0D, $k)"))
    modes.foreach { om =>
      val f = factors(rel.modeEntities(om))
        .select(col("id").as(s"fid$om"), col("f").as(s"f$om"))
      df = df.join(f, col("ids").getItem(om) === col(s"fid$om"))
        .withColumn("z", expr(s"zip_with(z, f$om, (a, b) -> a * b)"))
        .drop(s"fid$om", s"f$om")
    }
    df
  }

  /** Relation 0's `cells` with their prediction `pred` under the current
    * factors. */
  private def predicted(cells: DataFrame): DataFrame =
    withZ(cells, rel0, rel0.modeEntities.indices)
      .withColumn("pred", expr("aggregate(z, 0D, (acc, x) -> acc + x)"))

  /** One DetSum pass for (n, sum u, sum u u^T), centred by the link
    * shift. */
  def nwStats(e: String): (Long, DenseVector[Double], DenseMatrix[Double]) = {
    val kk = k
    // LEFT joins throughout: an entity with no side row (a sparse
    // COO source legally omits all-zero rows) has zero link shift,
    // and must never fall out of the model
    val centered = linkShift.get(e) match {
      case Some(sh) => factors(e).join(sh, Seq("id"), "left")
        .select(when(col("shift").isNull, col("f"))
          .otherwise(expr("zip_with(f, shift, (a, b) -> a - b)")).as("f"))
      case None => factors(e).select("f")
    }
    // deterministic for a fixed partitioning (treeAggregate merges in
    // task-arrival order, which is not)
    val stats = DetSum.sum(
      centered.as[Array[Double]].rdd.mapPartitionsWithIndex { (pid, it) =>
        val buf = new Array[Double](1 + kk + kk * kk)
        it.foreach { f =>
          buf(0) += 1.0
          var i = 0
          while (i < kk) {
            buf(1 + i) += f(i)
            var j = 0
            while (j < kk) { buf(1 + kk + i * kk + j) += f(i) * f(j); j += 1 }
            i += 1
          }
        }
        Iterator((pid, buf))
      }, 1 + kk + kk * kk)
    val n = stats(0).toLong
    val mean = DenseVector(java.util.Arrays.copyOfRange(stats, 1, 1 + kk)) / n.toDouble
    val scatter = new DenseMatrix(kk, kk,
      java.util.Arrays.copyOfRange(stats, 1 + kk, 1 + kk + kk * kk)) -
      (mean * mean.t) * n.toDouble
    (n, mean, scatter)
  }

  /** Noise-injected centred target (distributed map) -> distributed CG
    * -> refreshed shift. */
  def drawLink(e: String, nw: Gibbs.NW, lambdaBeta: Double, iter: Int): DenseMatrix[Double] = {
    val sd = sideDFs(e)
    val bMu = spark.sparkContext.broadcast(nw.mu.toArray)
    val kk = k; val seedL = seed; val it = iter.toLong; val tagL = e.hashCode.toLong
    // beta's conditional is matrix-normal with row precision
    // (X^T X + lambda I) and column covariance Lambda^-1: inject one
    // N(0, Lambda^-1) row per entity (E1, distributed) and fold
    // sqrt(lambda) E2 (F x K, driver-sized) through the same solve
    val lLam = cholesky((nw.lambda + nw.lambda.t) * 0.5)
    val bLamL = spark.sparkContext.broadcast(lLam.toArray) // column-major k x k
    val target = factors(e).as[(Long, Array[Double])].map { case (id, f) =>
      val lmat = new DenseMatrix[Double](kk, kk, bLamL.value)
      val eps = DenseVector.tabulate(kk)(j =>
        CbRng.gaussian(seedL, it, tagL ^ 0x5ea1L, id, j.toLong))
      val e1 = Conditional.upperSolveT(lmat, eps) // N(0, Lambda^-1)
      (id, Array.tabulate(kk)(j => f(j) - bMu.value(j) + e1(j)))
    }.toDF("id", "target")
    val sqLb = math.sqrt(lambdaBeta)
    val fD = fDims(e)
    val e2 = DenseMatrix.zeros[Double](fD, kk)
    var fi = 0
    while (fi < fD) {
      val eps = DenseVector.tabulate(kk)(j =>
        CbRng.gaussian(seed, it, tagL ^ 0x0e2eL, fi.toLong, j.toLong))
      e2(fi, ::) := (Conditional.upperSolveT(lLam, eps) * sqLb).t
      fi += 1
    }
    val beta = Cg.solveNormal(spark, sd.join(target, "id"), fD, kk, lambdaBeta, rhsExtra = Some(e2))
    val bBeta = spark.sparkContext.broadcast(beta.toArray) // column-major F x K
    linkShift(e) = sd.map { r =>
      val ix = if (r.isNullAt(1)) null else r.getSeq[Int](1)
      val v = r.getSeq[Double](2)
      val shift = new Array[Double](kk)
      var j = 0
      while (j < kk) {
        var acc = 0.0; var q = 0
        while (q < v.length) {
          acc += v(q) * bBeta.value(j * fD + (if (ix == null) q else ix(q))); q += 1
        }
        shift(j) = acc; j += 1
      }
      (r.getLong(0), shift)
    }.toDF("id", "shift").localCheckpoint(true)
    beta
  }

  /** Every id's (z, v, aw) rows meet through joins and one groupByKey. */
  def draw(e: String, nw: Gibbs.NW, alpha: Double, iter: Int): Unit = {
    val contribs = coos.flatMap { case (r, coo) =>
      r.modeEntities.zipWithIndex.collect {
        case (ent, m) if ent == e =>
          val base = withZ(coo, r, r.modeEntities.indices.filterNot(_ == m))
          if (!opts.binaryProbit) {
            // per-relation noise precision (Macau §2.3), per row
            base.select(col("ids").getItem(m).as("id"), col("z"), col("v"),
                        lit(r.alpha.getOrElse(alpha)).as("aw"))
          } else {
            // Albert-Chib latent: the prediction needs THIS mode's
            // current factor too — one more join, then the
            // truncated-normal draw per cell (counter-RNG, alpha=1)
            val fSelf = factors(e)
              .select(col("id").as("sfid"), col("f").as("fself"))
            val relTag = Conditional.relTag(r.name, m)
            val seedL = seed; val itL = iter.toLong
            base.select(col("ids"), col("ids").getItem(m).as("id"),
                        col("z"), col("v"))
              .join(fSelf, col("id") === col("sfid"))
              .select("ids", "id", "z", "v", "fself")
              .as[(Seq[Long], Long, Array[Double], Double, Array[Double])]
              .map { case (ids, id, z, v, fself) =>
                (id, z, Conditional.probitLatent(z, fself, ids, v, seedL, itL, relTag), 1.0)
              }.toDF("id", "z", "v", "aw")
          }
      }
    }
    val all0 = contribs.reduce(_ unionByName _)
    // side info shifts the prior mean per entity: mu0 = mu + beta^T x_i
    val all = linkShift.get(e) match {
      case Some(sh) =>
        all0.join(sh.select(col("id").as("sid"), col("shift")),
                  col("id") === col("sid"), "left")
          .select(col("id"), col("z"), col("v"), col("aw"), col("shift"))
      case None =>
        all0.withColumn("shift", lit(null).cast("array<double>"))
          .select(col("id"), col("z"), col("v"), col("aw"), col("shift"))
    }
    val bMu = spark.sparkContext.broadcast(nw.mu.toArray)
    val bLam = spark.sparkContext.broadcast(nw.lambda.toArray)
    val kk = k; val seedL = seed; val it = iter.toLong
    val drawn = all.as[(Long, Array[Double], Double, Double, Array[Double])]
      .groupByKey(_._1)
      .mapGroups { (id, rows0) =>
        // every row of one id carries the same shift
        val rows = rows0.buffered
        val mu0 = Conditional.shifted(bMu.value, rows.head._5)
        (id, Conditional.draw(bLam.value, mu0,
          rows.map { case (_, z, v, aw, _) => (z, v, aw) }, kk, seedL, it, e, id))
      }.toDF("id", "f")

    // unobserved entities keep a pure prior draw (distributed anti-join)
    val lChol = Conditional.priorFactor(nw.lambda, e, it)
    val muArr = nw.mu.toArray
    val unseen = factors(e).select("id")
      .join(drawn.select(col("id").as("did")), col("id") === col("did"), "left_anti")
    val unseenWithShift = linkShift.get(e) match {
      case Some(sh) =>
        unseen.join(sh.select(col("id").as("sid"), col("shift")),
                    col("id") === col("sid"), "left")
          .select(col("id"), col("shift"))
      case None => unseen.withColumn("shift", lit(null).cast("array<double>"))
    }
    val prior = unseenWithShift.as[(Long, Array[Double])].map { case (id, sh) =>
      (id, Conditional.prior(lChol, Conditional.shifted(muArr, sh), kk, seedL, it, e, id))
    }.toDF("id", "f")

    factors(e) = drawn.unionByName(prior).localCheckpoint(true)
  }

  /** Summed per partition and folded here in partition order, so the
    * result does not depend on the order in which blocks arrive. */
  def sse(): (Double, Long) = {
    val partials = predicted(coos.head._2.select(col("ids"), col("v")))
      .select(col("v"), col("pred")).as[(Double, Double)].rdd
      .mapPartitions { it =>
        var sse = 0.0; var n = 0L
        it.foreach { case (v, p) => sse += (v - p) * (v - p); n += 1 }
        Iterator((sse, n))
      }.collect()
    (partials.foldLeft(0.0)(_ + _._1), partials.foldLeft(0L)(_ + _._2))
  }

  /** Predicted through the factor joins, then moved onto the posterior's
    * test index. */
  def predict(p: Posterior): RDD[Array[Double]] =
    p.align(predicted(testCoo.select(col("row_id"), col("ids")))
      .select(col("row_id").cast("long"), col("pred"))
      .rdd.map(r => (r.getLong(0), r.getDouble(1))))

  def tables(): Map[String, DataFrame] = factors.toMap

  def close(): Unit =
    (coos.map(_._2) ++ sideDFs.values :+ testCoo).foreach(_.unpersist())
}
