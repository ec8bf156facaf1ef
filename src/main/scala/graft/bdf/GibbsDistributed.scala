package graft.bdf

import breeze.linalg.{cholesky, DenseMatrix, DenseVector}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fully distributed Gibbs sweep: factor matrices never leave the
  * cluster. Where [[Gibbs]] collects each entity's N x K factors to the
  * driver and broadcasts them (the SharedArray analog — right up to the
  * point where N x K outgrows driver/broadcast memory), this path keeps
  * every factor table as a DataFrame (id, f: Array[Double]) and:
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
  * The per-entity math — conditional draw, prior draw for unseen
  * entities, probit latent — is the same [[Conditional]] kernel the
  * broadcast mode calls, and post-burn-in samples fold through the same
  * [[Posterior]]. Draws are counter-based, so they are
  * partitioning-invariant; the NW statistics and CG matvecs sum doubles
  * via [[DetSum]] in partition-id order, so full runs are bit-stable for
  * a fixed partitioning (the sums reorder if the partitioning changes).
  */
object GibbsDistributed {
  import Gibbs.{NW, Options, Result}

  def train(spark: SparkSession, rd: RelationData, test: DataFrame,
            opts: Options): Result = {
    import spark.implicits._
    val k = opts.numLatent
    val entNames = rd.entities.keys.toSeq.sorted
    val sizes = entNames.map(e => e -> rd.entities(e).numItems).toMap
    val coos: Seq[(Relation, DataFrame)] = rd.relations.map(r => r -> r.coo.persist())
    val testCoo = test.persist()
    val seed = opts.seed

    // --- factor tables, initialized by counter RNG (id-addressed, so
    // identical to the broadcast path's init) ---
    val factors = scala.collection.mutable.Map(entNames.map { e =>
      val eHash = e.hashCode.toLong
      val kk = k
      e -> spark.range(sizes(e)).as[Long].map { id =>
        (id, Array.tabulate(kk)(j =>
          0.3 * CbRng.gaussian(seed, -1L, eHash, id, j.toLong)))
      }.toDF("id", "f").localCheckpoint(true)
    }: _*)

    // side-info tables stay distributed; only beta (F x K) and the NW
    // state live on the driver — the Macau link solve runs through the
    // distributed CG (Cg.solveNormal), so neither X nor X^T X ever
    // materializes in one place. A side table with (indices, values)
    // columns is treated as sparse CSR rows (the reference's fingerprint
    // matrices, F ~ 1e5 with ~100 nnz/row — dense rows would be 800 KB).
    val sideSparse: Map[String, Boolean] = rd.entities.collect {
      case (name, Entity(_, _, Some(sd))) => name -> sd.columns.contains("indices")
    }
    val sideDFs: Map[String, DataFrame] = rd.entities.collect {
      case (name, Entity(_, _, Some(sd))) =>
        val proj =
          if (sd.columns.contains("indices"))
            sd.select(col("id").cast("long").as("id"), col("indices"), col("values"))
          else sd.select(col("id").cast("long").as("id"), col("features"))
        name -> proj.persist()
    }
    // the width job also rejects non-finite features
    val fDims: Map[String, Int] = sideDFs.map { case (e, _) => e -> rd.entities(e).sideWidth }
    // (id, shift = beta^T x_i), refreshed each sweep
    val linkShift = scala.collection.mutable.Map[String, DataFrame]()
    val betas = scala.collection.mutable.Map[String, DenseMatrix[Double]]()
    val lambdaBetas = scala.collection.mutable.Map[String, Double]()
    var lastHyper: Map[String, Gibbs.NW] = Map.empty
    val posterior = new Posterior(testCoo, rd.relations.head.modeEntities.length, opts)
    var alphaCur = opts.alpha

    /** z = elementwise product over the given modes' factor rows,
      * joined onto the COO. */
    def withZ(coo: DataFrame, rel: Relation, modes: Seq[Int]): DataFrame = {
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

    for (iter <- 0 until (opts.burnin + opts.samples)) {
      // -- (a) NW hyperprior from distributed sufficient statistics
      //       (factors centered by the link shift when side info exists) --
      val hyper: Map[String, NW] = entNames.map { e =>
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
        // one DetSum pass for [count, sum u, sum u u^T] — deterministic
        // for a fixed partitioning (treeAggregate merges in task-arrival
        // order, which is not)
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
        e -> Gibbs.sampleNWFromStats(n, mean, scatter, seed, iter, e.hashCode)
      }.toMap
      lastHyper = hyper

      // -- (b) side-info link draw: noise-injected centered target
      //       (distributed map) -> distributed CG -> refreshed shift --
      sideDFs.foreach { case (e, sd) =>
        val nw = hyper(e)
        val lb = lambdaBetas.getOrElse(e, opts.lambdaBeta)
        val bMu = spark.sparkContext.broadcast(nw.mu.toArray)
        val kk = k; val it = iter.toLong; val tagL = e.hashCode.toLong
        // beta's conditional is matrix-normal with row precision
        // (X^T X + lambda I) and column covariance Lambda^-1: inject one
        // N(0, Lambda^-1) row per entity (E1, distributed) and fold
        // sqrt(lambda) E2 (F x K, driver-sized) through the same solve
        val lLam = cholesky((nw.lambda + nw.lambda.t) * 0.5)
        val bLamL = spark.sparkContext.broadcast(lLam.toArray) // column-major k x k
        val target = factors(e).as[(Long, Array[Double])].map { case (id, f) =>
          val lmat = new DenseMatrix[Double](kk, kk, bLamL.value)
          val eps = DenseVector.tabulate(kk)(j =>
            CbRng.gaussian(seed, it, tagL ^ 0x5ea1L, id, j.toLong))
          val e1 = Conditional.upperSolveT(lmat, eps) // N(0, Lambda^-1)
          (id, Array.tabulate(kk)(j => f(j) - bMu.value(j) + e1(j)))
        }.toDF("id", "target")
        val sqLb = math.sqrt(lb)
        val fD0 = fDims(e)
        val e2 = DenseMatrix.zeros[Double](fD0, kk)
        var fi = 0
        while (fi < fD0) {
          val eps = DenseVector.tabulate(kk)(j =>
            CbRng.gaussian(seed, it, tagL ^ 0x0e2eL, fi.toLong, j.toLong))
          e2(fi, ::) := (Conditional.upperSolveT(lLam, eps) * sqLb).t
          fi += 1
        }
        val beta =
          if (sideSparse(e)) {
            val xt = sd.join(target, "id").select("indices", "values", "target")
            Cg.solveNormalSparse(spark, xt, fDims(e), kk, lb,
              rhsExtra = Some(e2))
          } else {
            val xt = sd.join(target, "id").select("features", "target")
            Cg.solveNormal(spark, xt, fDims(e), kk, lb,
              rhsExtra = Some(e2))
          }
        betas(e) = beta
        if (opts.sampleLambdaBeta)
          lambdaBetas(e) = Gibbs.drawLambdaBeta(beta, nw.lambda, seed, iter, e.hashCode)
        val bBeta = spark.sparkContext.broadcast(beta.toArray) // column-major F x K
        val fD = fDims(e)
        linkShift(e) =
          (if (sideSparse(e))
             sd.as[(Long, Seq[Int], Seq[Double])].map { case (id, ix, v) =>
               val shift = new Array[Double](kk)
               var j = 0
               while (j < kk) {
                 var acc = 0.0; var q = 0
                 while (q < ix.length) { acc += v(q) * bBeta.value(j * fD + ix(q)); q += 1 }
                 shift(j) = acc; j += 1
               }
               (id, shift)
             }
           else
             sd.as[(Long, Seq[Double])].map { case (id, x) =>
               val shift = new Array[Double](kk)
               var j = 0
               while (j < kk) {
                 var acc = 0.0; var i2 = 0
                 while (i2 < fD) { acc += x(i2) * bBeta.value(j * fD + i2); i2 += 1 }
                 shift(j) = acc; j += 1
               }
               (id, shift)
             }).toDF("id", "shift").localCheckpoint(true)
      }

      // -- (c) per-mode conditional draws via joins --
      for (e <- entNames) {
        val contribs = coos.flatMap { case (r, coo) =>
          r.modeEntities.zipWithIndex.collect {
            case (ent, m) if ent == e =>
              val base = withZ(coo, r, r.modeEntities.indices.filterNot(_ == m))
              if (!opts.binaryProbit) {
                // per-relation noise precision (Macau §2.3), per row
                base.select(col("ids").getItem(m).as("id"), col("z"), col("v"),
                            lit(r.alpha.getOrElse(alphaCur)).as("aw"))
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
        val nw = hyper(e)
        val bMu = spark.sparkContext.broadcast(nw.mu.toArray)
        val bLam = spark.sparkContext.broadcast(nw.lambda.toArray)
        val kk = k; val it = iter.toLong
        val drawn = all.as[(Long, Array[Double], Double, Double, Array[Double])]
          .groupByKey(_._1)
          .mapGroups { (id, rows0) =>
            // every row of one id carries the same shift
            val rows = rows0.buffered
            val mu0 = Conditional.shifted(bMu.value, rows.head._5)
            (id, Conditional.draw(bLam.value, mu0,
              rows.map { case (_, z, v, aw, _) => (z, v, aw) }, kk, seed, it, e, id))
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
          (id, Conditional.prior(lChol, Conditional.shifted(muArr, sh), kk, seed, it, e, id))
        }.toDF("id", "f")

        val next = drawn.unionByName(prior).localCheckpoint(true)
        factors(e) = next
      }

      // -- (d) noise precision draw from residuals (Macau §2.1) —
      //       SSE over relation 0's observed cells in one distributed
      //       pass; the Gamma draw runs on the driver like the
      //       broadcast path --
      if (opts.sampleAlpha) {
        val (rel0, coo0) = coos.head
        val r = withZ(coo0.select(col("ids"), col("v")), rel0,
            rel0.modeEntities.indices)
          .select(col("v"),
                  expr("aggregate(z, 0D, (acc, x) -> acc + x)").as("pred"))
          .agg(sum(pow(col("v") - col("pred"), 2)).as("sse"),
               count(lit(1)).as("n"))
          .head()
        val rng = new RngStream(seed, 1000L + iter)
        alphaCur = rng.nextGamma(1.0 + r.getLong(1) / 2.0) /
          (1.0 + r.getDouble(0) / 2.0)
      }

      // -- (e) post burn-in: predict the test cells through the factor
      //       joins, move the predictions onto the posterior's test
      //       index and fold them into the running sums --
      if (iter >= opts.burnin) {
        val rel = rd.relations.head
        posterior.add(posterior.align(
          withZ(testCoo.select(col("row_id"), col("ids")), rel, rel.modeEntities.indices)
            .select(col("row_id").cast("long"), expr("aggregate(z, 0D, (acc, x) -> acc + x)"))
            .rdd.map(r => (r.getLong(0), r.getDouble(1)))),
          iter - opts.burnin)
      }
    }

    posterior.result(factors.toMap, "distributed",
      betas.map { case (e, b) => e -> Gibbs.toArrays(b) }, lastHyper, lambdaBetas)
  }
}
