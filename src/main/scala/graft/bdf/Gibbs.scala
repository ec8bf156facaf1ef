package graft.bdf

import breeze.linalg.{cholesky, DenseMatrix, DenseVector}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Blocked Gibbs sampler for Bayesian matrix/tensor factorization with
  * side information — the engine core mirroring the reference's
  * capabilities (BPMF ICML'08 §3.1 for the conditional draws and
  * Normal-Wishart hyperpriors; Macau arXiv:1509.04610 §2.3 multi-
  * relation coupling, §2.4 tensors, §3.2 side-information link term).
  *
  * [[train]] validates its input, picks a [[FactorStore]] and runs one
  * sweep loop over it: (a) each entity type's Normal-Wishart hyperprior
  * from the store's statistics, (b) the side-info link draw, (c) the
  * per-entity conditional draws, (d) the noise precision, (e) the
  * posterior fold. The two stores differ only in where the factors live
  * and how an entity's observed cells meet the opposite-mode factors:
  *  - [[BroadcastStore]]: driver matrices, shipped to the executors as
  *    broadcasts; each entity type's cells are indexed once
  *    ([[CellIndex]]) and drawn in one narrow job per sweep;
  *  - [[DistributedStore]]: (id, f) DataFrames that reach the cells
  *    through joins, for factors that outgrow the driver.
  * Both hand each entity's (z, v, aw) rows to the one kernel in
  * [[Conditional]] (conditional draw, prior draw, probit latent) and
  * fold post-burn-in samples through one [[Posterior]], which indexes
  * the test cells once and folds each kept sample in one narrow job.
  * Every draw is a counter-based pure function of (seed, iter, entity,
  * id). In broadcast mode each id's cells also reach the kernel in one
  * fixed order, so without sampleAlpha the factors and per-cell
  * predictions do not depend on partitioning; the RMSE traces and
  * alpha's SSE are partition sums folded in partition order,
  * reproducible for a fixed partitioning.
  */
object Gibbs {
  import Conditional.upperSolveT

  final case class Options(
      numLatent: Int = 16,
      burnin: Int = 20,
      samples: Int = 30,
      alpha: Double = 4.0,           // observation noise precision
      sampleAlpha: Boolean = false,
      /** EXTENSION beyond the reference surface: treat relation values
        * as binary {0,1} and sample Albert-Chib truncated-normal
        * latents each sweep (probit link) — the model behind AUC-style
        * evaluation of binarized relations. Works in both execution
        * modes; applies to EVERY relation of the RelationData; the
        * latent likelihood fixes alpha = 1. Predictions stay on the
        * latent scale (apply Phi for probabilities) and
        * finalRmse/rmseHistory compare that latent scale against the
        * 0/1 labels — rank-based metrics (AUC) are the meaningful
        * evaluation here. */
      binaryProbit: Boolean = false,
      lambdaBeta: Double = 5.0,      // side-info link ridge precision
      /** Sample the link precision from its Gamma conditional instead
        * of keeping the fixed ridge (the full Macau §3.2 model): with
        * beta rows a priori N(0, λβ^-1 Λ^-1),
        *   λβ | beta ~ Gamma(a0 + F·K/2, b0 + tr(beta Λ beta^T)/2),
        * a0 = b0 = 1 (weakly informative), one λβ per side-equipped
        * entity, drawn on the driver each sweep (F×K state). Works in
        * both execution modes; final values observable via
        * [[Result.linkPrecisions]]. */
      sampleLambdaBeta: Boolean = false,
      /** Keep factor matrices as DataFrames and run the sweep with
        * shuffle joins instead of driver collection + broadcast — the
        * path for entity counts whose N x K factors, or side matrices
        * whose N x F rows and F x F Gram, no longer fit the driver (see
        * DistributedStore). Side info runs through the distributed CG
        * in this mode. None (default) = decide at train() entry from
        * [[broadcastFootprint]] vs [[autoDistributedDoubles]]. */
      distributedFactors: Option[Boolean] = None,
      /** Auto-mode threshold: broadcast mode is allowed up to this many
        * driver-resident doubles (default 32M ~ 256 MB). */
      autoDistributedDoubles: Long = 32L << 20,
      clamp: Option[(Double, Double)] = None,
      /** Retain up to this many of the post-burn-in posterior SAMPLE
        * predictions, evenly thinned over the run, as
        * [[Result.samplePreds]] (row_id, sample_idx, pred) — so a
        * SAVED model can answer empirical (order-statistic) credible
        * intervals like the in-run ones, not just moment-based
        * normal-approximation bounds. 0 (default) retains nothing;
        * >= `samples` retains every kept sample. Each retained sample
        * is one test-set-sized table — thin aggressively at scale
        * (storage is keepSamples x |test|, never driver-resident). */
      keepSamples: Int = 0,
      seed: Long = 42L)

  /** Per-entity Normal-Wishart hyperparameter state. */
  private[bdf] final case class NW(mu: DenseVector[Double], lambda: DenseMatrix[Double])

  final case class Result(
      /** Posterior predictions for the test cells of relation 0, one
        * row per test row: (row_id, ids: array<bigint>, v, pred,
        * pred_std) — pred is the posterior mean over kept samples
        * (clamped if configured), pred_std the posterior predictive
        * standard deviation. */
      predictions: DataFrame,
      rmseHistory: Seq[Double],
      finalRmse: Double,
      /** Final-sample factor tables per entity, (id: long,
        * f: array<double>) — the persistable model artifact
        * (Macau.saveModel / loadModel / predict). In broadcast mode each
        * is a driver-built table of one partition, saved as one file. */
      factors: Map[String, DataFrame] = Map.empty,
      /** Which execution path ran: "broadcast" or "distributed"
        * (observable outcome of the auto mode switch). */
      mode: String = "broadcast",
      /** Final-sample side-info link matrices (F x K, row-major) for
        * every side-equipped entity. Together with [[priorMu]] they
        * give COLD-START factors mu + beta^T x for entities never
        * observed in training — the main payoff of the Macau §3.2
        * link term (see Macau.coldStartFactors). */
      links: Map[String, Array[Array[Double]]] = Map.empty,
      /** Final-iteration Normal-Wishart prior mean per entity. */
      priorMu: Map[String, Array[Double]] = Map.empty,
      /** Final link precision λβ per side-equipped entity (the fixed
        * Options.lambdaBeta unless sampleLambdaBeta drew it). */
      linkPrecisions: Map[String, Double] = Map.empty,
      /** Test RMSE of each individual posterior SAMPLE (not the running
        * mean `rmseHistory` tracks) — the stationary trace
        * Diagnostics.rHat needs for multi-chain convergence checks. */
      sampleRmseHistory: Seq[Double] = Nil,
      /** Running per-test-cell posterior SUFFICIENT STATISTICS over the
        * kept samples, one row per test row: (row_id, ids, v, n_samples,
        * pred_sum, pred_sq_sum) — exactly the state `predictions`' (pred,
        * pred_std) derive from. It is read from the posterior's test
        * index, so `ids` is array<bigint> whatever the test table's
        * element type. Macau.saveModel persists this table so
        * a LOADED model answers uncertainty (posterior-std /
        * credible-shaped) queries, not just point predictions, and two
        * saved runs can be MERGED by adding moments (mean+M2 style
        * combine) — see Macau.predictionsFromMoments. */
      predMoments: Option[DataFrame] = None,
      /** Thinned posterior sample trace (row_id, sample_idx, pred), one
        * row per test row and retained sample —
        * present iff Options.keepSamples > 0. sample_idx is the
        * 0-based post-burn-in sweep index, so two chains' retained
        * samples are distinguishable after a union. Persisted by
        * Macau.saveModel under `__samples/`; order-stat credible
        * bounds via Macau.empiricalCredible. */
      samplePreds: Option[DataFrame] = None)

  /** Driver-resident doubles the broadcast mode would allocate: the
    * N x K factor matrix per entity plus, where side info is attached,
    * the densified N x F side matrix and its F x F Gram matrix (sparse
    * side features count at their dense width — that is what the
    * broadcast mode materializes). `sideWidth` gives an entity's F. */
  private[bdf] def broadcastFootprint(rd: RelationData, k: Int,
                                      sideWidth: String => Int): Long =
    rd.entities.iterator.map { case (e, ent) =>
      val f = sideWidth(e).toLong
      ent.numItems.toLong * (k + f) + f * f
    }.sum

  private[bdf] def broadcastFootprint(rd: RelationData, k: Int): Long =
    broadcastFootprint(rd, k, rd.entities(_).sideWidth)

  def train(spark: SparkSession, rd: RelationData, test: DataFrame,
            opts: Options): Result = {
    require(!(opts.binaryProbit && opts.sampleAlpha),
      "binaryProbit fixes alpha = 1; disable sampleAlpha")
    rd.validate()
    // each side table's width job (which also runs every side-row
    // check) runs at most once per train, whoever asks first
    val widths = mutable.Map[String, Int]()
    val sideWidth = (e: String) => widths.getOrElseUpdate(e, rd.entities(e).sideWidth)
    // auto mode switch: an explicit flag wins; otherwise route by the
    // broadcast mode's would-be driver footprint
    val store: FactorStore =
      if (opts.distributedFactors.getOrElse(
            broadcastFootprint(rd, opts.numLatent, sideWidth) > opts.autoDistributedDoubles))
        new DistributedStore(spark, rd, test, opts, sideWidth)
      else new BroadcastStore(spark, rd, opts, sideWidth)
    try {
      val entNames = rd.entities.keys.toSeq.sorted
      val posterior = new Posterior(test, rd.relations.head.modeEntities.length, opts)
      val betas = mutable.Map[String, DenseMatrix[Double]]()
      val lambdaBetas = mutable.Map[String, Double]()
      var lastHyper: Map[String, NW] = Map.empty
      var alpha = opts.alpha

      for (iter <- 0 until (opts.burnin + opts.samples)) {
        // -- (a) Normal-Wishart hyperprior draw per entity (driver, K x K) --
        val hyper: Map[String, NW] = entNames.map { e =>
          val (n, mean, scatter) = store.nwStats(e)
          e -> sampleNWFromStats(n, mean, scatter, opts.seed, iter, e.hashCode)
        }.toMap
        lastHyper = hyper

        // -- (b) side-info link draw (Macau §3.2 ridge + noise injection) --
        for (e <- entNames if rd.entities(e).side.isDefined) {
          val beta = store.drawLink(e, hyper(e), lambdaBetas.getOrElse(e, opts.lambdaBeta), iter)
          betas(e) = beta
          if (opts.sampleLambdaBeta)
            lambdaBetas(e) = drawLambdaBeta(beta, hyper(e).lambda, opts.seed, iter, e.hashCode)
        }

        // -- (c) per-entity conditional draws --
        entNames.foreach(e => store.draw(e, hyper(e), alpha, iter))

        // -- (d) noise precision draw from relation 0's residuals (Macau §2.1) --
        if (opts.sampleAlpha) {
          val (sse, n) = store.sse()
          val rng = new RngStream(opts.seed, 1000L + iter)
          alpha = rng.nextGamma(1.0 + n / 2.0) / (1.0 + sse / 2.0)
        }

        // -- (e) post burn-in: fold this sample's test predictions --
        if (iter >= opts.burnin) posterior.add(store.predict(posterior), iter - opts.burnin)
      }

      posterior.result(store.tables(), store.mode, betas.map { case (e, b) => e -> toArrays(b) },
        lastHyper, lambdaBetas)
    } finally store.close()
  }

  // ---------- helpers ----------

  private[bdf] def toArrays(m: DenseMatrix[Double]): Array[Array[Double]] = {
    val out = Array.ofDim[Array[Double]](m.rows)
    var i = 0
    while (i < m.rows) {
      val row = new Array[Double](m.cols)
      var j = 0
      while (j < m.cols) { row(j) = m(i, j); j += 1 }
      out(i) = row
      i += 1
    }
    out
  }

  /** Conjugate Normal-Wishart posterior draw (BPMF §3.1, Eq. 14) from
    * the sufficient statistics (n, mean, scatter) of the centred factor
    * rows: driver-side, K x K. */
  private[bdf] def sampleNWFromStats(n: Long, mean: DenseVector[Double],
                                     s: DenseMatrix[Double], seed: Long,
                                     iter: Int, tag: Int): NW = {
    val k = mean.length
    val rng = new RngStream(seed, (iter.toLong << 20) ^ tag)
    val b0 = 2.0; val nu0 = k.toDouble
    val bPost = b0 + n
    val nuPost = nu0 + n
    val muPost = mean * (n.toDouble / bPost)
    val w0inv = DenseMatrix.eye[Double](k)
    val wPostInv = w0inv + s + (d2(mean) * (b0 * n / bPost))
    val wPost = breeze.linalg.inv(wPostInv)
    // Wishart(wPost, nuPost) via Bartlett
    val lw = cholesky((wPost + wPost.t) * 0.5)
    val aMat = DenseMatrix.zeros[Double](k, k)
    var r = 0
    while (r < k) {
      aMat(r, r) = math.sqrt(rng.nextChiSq(nuPost - r))
      var c = 0
      while (c < r) { aMat(r, c) = rng.nextGaussian(); c += 1 }
      r += 1
    }
    val lwa = lw * aMat
    val lambda = lwa * lwa.t
    // mu ~ N(muPost, (bPost * Lambda)^-1)
    val lLam = cholesky((lambda + lambda.t) * 0.5)
    val eps = DenseVector.tabulate(k)(_ => rng.nextGaussian())
    val mu = muPost + upperSolveT(lLam, eps) / math.sqrt(bPost)
    NW(mu, lambda)
  }

  private def d2(v: DenseVector[Double]): DenseMatrix[Double] = v * v.t

  /** Probit-link helpers (Albert & Chib 1993 data augmentation): the
    * binary observation's conditional latent is a unit-variance normal
    * around the current prediction, truncated to the observed sign —
    * sampled by inverse CDF so one counter-RNG uniform per cell keeps
    * the sweep deterministic. */
  private[bdf] object Probit {
    def phi(x: Double): Double =
      0.5 * (1.0 + breeze.numerics.erf(x / math.sqrt(2.0)))

    /** Inverse standard-normal CDF (Acklam's rational approximation,
      * |rel err| < 1.15e-9 — ample for MCMC). */
    def probitInv(p0: Double): Double = {
      val p = math.min(1.0 - 1e-15, math.max(1e-15, p0))
      val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
        -2.759285104469687e+02, 1.383577518672690e+02,
        -3.066479806614716e+01, 2.506628277459239e+00)
      val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
        -1.556989798598866e+02, 6.680131188771972e+01,
        -1.328068155288572e+01)
      val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
        -2.400758277161838e+00, -2.549732539343734e+00,
        4.374664141464968e+00, 2.938163982698783e+00)
      val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
        2.445134137142996e+00, 3.754408661907416e+00)
      val pl = 0.02425
      if (p < pl) {
        val q = math.sqrt(-2.0 * math.log(p))
        (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
          ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1.0)
      } else if (p <= 1.0 - pl) {
        val q = p - 0.5; val r = q * q
        (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
          (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1.0)
      } else {
        val q = math.sqrt(-2.0 * math.log(1.0 - p))
        -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
          ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1.0)
      }
    }

    /** z ~ N(m, 1) truncated to z >= 0 (positive) or z < 0, from one
      * uniform u. For |m| beyond ~8 the clamped inverse-CDF would land
      * on the wrong side of zero, so the result is pinned to the
      * truncation boundary — where the extreme-tail distribution
      * concentrates anyway (its mass sits within ~1/|m| of 0). */
    def truncatedNormal(m: Double, positive: Boolean, u: Double): Double = {
      val c = phi(-m) // P(z - m < -m) = P(z < 0)
      val p = if (positive) c + u * (1.0 - c) else u * c
      val z = m + probitInv(p)
      if (positive) math.max(z, 0.0) else math.min(z, -1e-12)
    }
  }

  /** λβ | beta ~ Gamma(1 + F·K/2, 1 + tr(beta Λ beta^T)/2) — the
    * conjugate draw for the link precision under the matrix-normal
    * prior rows ~ N(0, λβ^-1 Λ^-1). Driver-side, O(F·K²). */
  private[bdf] def drawLambdaBeta(beta: DenseMatrix[Double],
                                  lambda: DenseMatrix[Double],
                                  seed: Long, iter: Int, tag: Int): Double = {
    val bl = beta * lambda
    var tr = 0.0
    var f = 0
    while (f < beta.rows) {
      var j = 0
      while (j < beta.cols) { tr += bl(f, j) * beta(f, j); j += 1 }
      f += 1
    }
    val rng = new RngStream(seed, (iter.toLong * 131L) ^ tag ^ 0x1b9aL)
    rng.nextGamma(1.0 + beta.rows * beta.cols / 2.0) / (1.0 + tr / 2.0)
  }
}
