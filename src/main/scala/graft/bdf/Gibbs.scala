package graft.bdf

import breeze.linalg.{cholesky, DenseMatrix, DenseVector}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Blocked Gibbs sampler for Bayesian matrix/tensor factorization with
  * side information — the engine core mirroring the reference's
  * capabilities (BPMF ICML'08 §3.1 for the conditional draws and
  * Normal-Wishart hyperpriors; Macau arXiv:1509.04610 §2.3 multi-
  * relation coupling, §2.4 tensors, §3.2 side-information link term).
  *
  * [[train]] validates its input, then runs one of two execution modes
  * that differ only in how an entity's observed cells meet the
  * opposite-mode factors and where the factors live:
  *  - broadcast (this object): at entry, each entity type's cells are
  *    indexed once into persisted per-partition CSR blocks
  *    ([[CellIndex]], the IndexedDF analog; its one shuffle runs in the
  *    first sweep). Each sweep ships the (small) factor matrices from
  *    the driver to executors as broadcasts — the Spark analog of the
  *    reference's SharedArray zero-copy factors — and draws each entity
  *    type in one narrow job over its index, shuffling nothing;
  *  - distributed ([[GibbsDistributed]]): factor tables stay DataFrames
  *    and reach the cells through joins.
  * Both modes hand each entity's (z, v, aw) rows to the one kernel in
  * [[Conditional]] (conditional draw, prior draw, probit latent) and
  * fold post-burn-in samples through one [[Posterior]], which indexes
  * the test cells once and folds each kept sample in one narrow job
  * (broadcast mode predicts the cells inside that job). Every draw is a
  * counter-based pure function of (seed, iter, entity, id). In broadcast
  * mode each id's cells also reach the kernel in one fixed order, so
  * without sampleAlpha the factors and per-cell predictions do not
  * depend on partitioning; the RMSE traces (and alpha's SSE) are
  * partition sums folded in partition order, reproducible for a fixed
  * partitioning.
  */
object Gibbs {
  import Conditional.{lowerSolve, upperSolveT}

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
      /** Solve the side-info link with the distributed CG (Cg.scala)
        * instead of the driver Cholesky — the path for side matrices
        * too large for the driver (Macau §3.2). */
      useCgSideSolver: Boolean = false,
      /** Keep factor matrices as DataFrames and run the sweep with
        * shuffle joins instead of driver collection + broadcast — the
        * path for entity counts whose N x K factors no longer fit the
        * driver (see GibbsDistributed). Side info runs through the
        * distributed CG in this mode. None (default) = decide at
        * train() entry from the broadcast mode's driver footprint
        * (N x K factors + N x F densified side matrices) vs
        * [[autoDistributedDoubles]]. */
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
        * (Macau.saveModel / loadModel / predict). */
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
    * N x K factor matrix per entity plus the densified N x F side
    * matrix where side info is attached (sparse side features count at
    * their dense width — that is what the broadcast path materializes). */
  private[bdf] def broadcastFootprint(rd: RelationData, k: Int): Long =
    rd.entities.valuesIterator.map(ent => ent.numItems.toLong * (k + ent.sideWidth)).sum

  def train(spark: SparkSession, rd: RelationData, test: DataFrame,
            opts: Options): Result = {
    require(!(opts.binaryProbit && opts.sampleAlpha),
      "binaryProbit fixes alpha = 1; disable sampleAlpha")
    rd.validate()
    // auto mode switch: an explicit flag wins; otherwise route by the
    // broadcast mode's would-be driver footprint
    val useDistributed = opts.distributedFactors.getOrElse(
      broadcastFootprint(rd, opts.numLatent) > opts.autoDistributedDoubles)
    if (useDistributed) {
      return GibbsDistributed.train(spark, rd, test, opts)
    }
    import spark.implicits._
    val k = opts.numLatent
    val entNames = rd.entities.keys.toSeq.sorted
    val sizes = entNames.map(e => e -> rd.entities(e).numItems).toMap

    // --- the cell index per entity type (the IndexedDF analog): one
    // shuffle at the first sweep, then read in place by every draw ---
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val index: Map[String, RDD[CellIndex]] =
      entNames.map(e => e -> CellIndex.build(rd, e, parts)).toMap

    // --- mutable driver state: factor matrices (rows = items) ---
    val factors: scala.collection.mutable.Map[String, DenseMatrix[Double]] =
      scala.collection.mutable.Map(entNames.map { e =>
        val m = DenseMatrix.tabulate[Double](sizes(e), k)((i, j) =>
          0.3 * CbRng.gaussian(opts.seed, -1L, e.hashCode.toLong, i.toLong, j.toLong))
        e -> m
      }: _*)

    // side-info (Macau §3.2): collected driver-side (scale path: keep
    // distributed and run CG with DataFrame matvecs — see
    // GibbsDistributed, which also keeps sparse rows sparse). A sparse
    // (indices, values) side table is densified here: this path is the
    // small-data one by construction. Dense features are checked for
    // finiteness as they are copied, so that check costs no job (a
    // sparse table's width job checks its values).
    val sideData: Map[String, Array[Array[Double]]] = rd.entities.collect {
      case (name, ent @ Entity(_, n, Some(sideDf))) =>
        val arr = Array.ofDim[Array[Double]](n)
        if (sideDf.columns.contains("indices")) {
          val fDim = ent.sideWidth
          sideDf.select(col("id").cast("long"), col("indices"), col("values"))
            .collect().foreach { r =>
              val dense = new Array[Double](fDim)
              val ix = r.getSeq[Int](1); val v = r.getSeq[Double](2)
              var q = 0
              while (q < ix.length) { dense(ix(q)) = v(q); q += 1 }
              arr(r.getLong(0).toInt) = dense
            }
        } else {
          sideDf.select(col("id").cast("long"), col("features")).collect().foreach { r =>
            val xs = r.getSeq[Double](1)
            require(xs.forall(x => java.lang.Double.isFinite(x)),
              s"entity $name side table: non-finite value in column features at row " +
                s"(id=${r.getLong(0)}, features=${xs.mkString("[", ",", "]")})")
            arr(r.getLong(0).toInt) = xs.toArray
          }
        }
        // ids absent from the side table (legal: a sparse COO source
        // omits all-zero rows) get an all-zero feature row — never null
        val fDim0 = arr.collectFirst { case a if a != null => a.length }
        require(fDim0.isDefined, s"side table for entity $name is empty")
        var i0 = 0
        while (i0 < n) {
          if (arr(i0) == null) arr(i0) = new Array[Double](fDim0.get)
          i0 += 1
        }
        name -> arr
    }
    val betas = scala.collection.mutable.Map[String, DenseMatrix[Double]]()
    val linkMeans = scala.collection.mutable.Map[String, DenseMatrix[Double]]()
    val lambdaBetas = scala.collection.mutable.Map[String, Double]()

    var alpha = opts.alpha
    var lastHyper: Map[String, NW] = Map.empty
    val rel0 = rd.relations.head
    val posterior = new Posterior(test, rel0.modeEntities.length, opts)

    val sc = spark.sparkContext

    for (iter <- 0 until (opts.burnin + opts.samples)) {
      // -- (a) Normal-Wishart hyperprior draw per entity (driver, K x K) --
      val hyper: Map[String, NW] = entNames.map { e =>
        val u = factors(e)
        val shift = linkMeans.get(e)                  // beta^T x_i per item
        val centered = shift.map(u - _).getOrElse(u)
        e -> sampleNW(centered, opts.seed, iter, e.hashCode)
      }.toMap
      lastHyper = hyper

      // -- (b) side-info link draw (Macau §3.2 ridge + noise injection) --
      sideData.foreach { case (e, xs) =>
        val lb = lambdaBetas.getOrElse(e, opts.lambdaBeta)
        val beta = sampleBeta(spark, factors(e), xs, hyper(e), opts, lb, iter, e.hashCode)
        betas(e) = beta
        if (opts.sampleLambdaBeta)
          lambdaBetas(e) = drawLambdaBeta(beta, hyper(e).lambda, opts.seed, iter, e.hashCode)
        val n = xs.length
        val lm = DenseMatrix.zeros[Double](n, k)
        var i = 0
        while (i < n) {
          val xi = DenseVector(xs(i))
          lm(i, ::) := (beta.t * xi).t
          i += 1
        }
        linkMeans(e) = lm
      }

      // -- (c) per-entity conditional draws: one narrow job per entity
      //        type over its cell index, against broadcast factors --
      for (e <- entNames) {
        val nw = hyper(e)
        val link = linkMeans.get(e).map(toArrays)
        val kk = k; val seed = opts.seed; val it = iter.toLong
        // per block (relation, mode): the other modes' factors, the
        // cell noise precision (Macau §2.3: per relation, else the
        // global, possibly sampled, alpha; probit's latent likelihood
        // is unit variance) and the probit cell key's relation tag
        val roles = CellIndex.roles(rd, e)
        val others = roles.map { case (r, m) => r.modeEntities.patch(m, Nil, 1) }
        val bcs = (others.flatten ++ (if (opts.binaryProbit) Seq(e) else Nil)).distinct
          .map(n => n -> sc.broadcast(toArrays(factors(n)))).toMap
        val perRole = roles.zip(others).map { case ((r, m), os) =>
          (os.map(bcs).toArray, m, r.modeEntities.length,
           if (opts.binaryProbit) 1.0 else r.alpha.getOrElse(alpha),
           Conditional.relTag(r.name, m))
        }.toArray
        val bSelf = if (opts.binaryProbit) bcs(e) else null
        val bMu = sc.broadcast(nw.mu.toArray)
        val bLam = sc.broadcast(nw.lambda.toArray) // column-major k*k
        val bLink = sc.broadcast(link.orNull)
        val drawn = index(e).mapPartitions(_.flatMap { part =>
          val fs = perRole.map(_._1.map(_.value))
          Iterator.tabulate(part.ids.length) { i =>
            val id = part.ids(i)
            val rows = part.blocks.indices.iterator.flatMap { b =>
              val blk = part.blocks(b)
              val (_, m, arity, aw, relTag) = perRole(b)
              Iterator.range(blk.offsets(i), blk.offsets(i + 1)).map { c =>
                // z = elementwise product of the other modes' latents
                // (Macau §2.4 tensor rule; arity 2 reduces to BPMF)
                val z = Array.fill(kk)(1.0)
                var o = 0
                while (o < fs(b).length) {
                  val f = fs(b)(o)(blk.others(o)(c))
                  var j = 0
                  while (j < kk) { z(j) *= f(j); j += 1 }
                  o += 1
                }
                val v = blk.values(c)
                // Albert-Chib: replace the 0/1 label by a truncated-
                // normal latent around the CURRENT prediction
                val vv = if (bSelf == null) v else {
                  val ids = Array.tabulate(arity)(q =>
                    if (q == m) id else blk.others(if (q < m) q else q - 1)(c).toLong)
                  Conditional.probitLatent(z, bSelf.value(id.toInt), ids.toSeq, v,
                    seed, it, relTag)
                }
                (z, vv, aw)
              }
            }
            val mu0 = Conditional.shifted(bMu.value,
              if (bLink.value == null) null else bLink.value(id.toInt))
            (id, Conditional.draw(bLam.value, mu0, rows, kk, seed, it, e, id))
          }
        }).collect()
        // the per-sweep broadcasts are dead after the collect — destroy
        // them instead of waiting on GC-driven cleanup (N x K each,
        // every sweep, every mode)
        bMu.destroy(); bLam.destroy(); bLink.destroy()
        bcs.values.foreach(_.destroy())

        // fold drawn rows into the (driver) factor matrix; entities with
        // no observations keep a pure prior draw
        val f = factors(e)
        def put(i: Int, u: Array[Double]): Unit = {
          var j = 0
          while (j < k) { f(i, j) = u(j); j += 1 }
        }
        val seen = new Array[Boolean](sizes(e))
        drawn.foreach { case (id, u) => seen(id.toInt) = true; put(id.toInt, u) }
        if (seen.contains(false)) {
          val lChol = Conditional.priorFactor(nw.lambda, e, it)
          val mu = nw.mu.toArray
          for (i <- 0 until sizes(e) if !seen(i))
            put(i, Conditional.prior(lChol, Conditional.shifted(mu, link.map(_(i)).orNull),
              k, seed, it, e, i.toLong))
        }
      }

      // -- (d) noise precision draw from residuals (Macau §2.1): the
      //       SSE over relation 0's cells, read from the index of its
      //       mode-0 entity (whose first block they are), summed per
      //       partition and folded here in partition order --
      if (opts.sampleAlpha) {
        val bcs = rel0.modeEntities.map(n => sc.broadcast(toArrays(factors(n))))
        val kk = k
        val partials = index(rel0.modeEntities.head).map { part =>
          val blk = part.blocks(0)
          val fs = bcs.map(_.value)
          var sse = 0.0
          for (i <- part.ids.indices; c <- blk.offsets(i) until blk.offsets(i + 1)) {
            val rows = fs.head(part.ids(i).toInt) +:
              blk.others.indices.map(o => fs(o + 1)(blk.others(o)(c)))
            val err = blk.values(c) - (0 until kk).map(j => rows.foldLeft(1.0)(_ * _(j))).sum
            sse += err * err
          }
          (sse, blk.values.length.toLong)
        }.collect()
        bcs.foreach(_.destroy())
        val sse = partials.foldLeft(0.0)(_ + _._1)
        val n = partials.foldLeft(0L)(_ + _._2)
        val rng = new RngStream(opts.seed, 1000L + iter)
        alpha = rng.nextGamma(1.0 + n / 2.0) / (1.0 + sse / 2.0)
      }

      // -- (e) post burn-in: predict every test cell in the posterior's
      //       job, against relation 0's broadcast factors, and fold the
      //       predictions into the running sums --
      if (iter >= opts.burnin) {
        val bcs = rel0.modeEntities.map(n => sc.broadcast(toArrays(factors(n)))).toArray
        val kk = k
        posterior.add(posterior.index.map(cells => predict(bcs.map(_.value), cells, kk)),
          iter - opts.burnin)
        bcs.foreach(_.destroy())
      }
    }

    index.values.foreach(_.unpersist())
    posterior.result(entNames.map { e =>
        e -> toArrays(factors(e)).zipWithIndex.map { case (f, i) => (i.toLong, f) }
          .toSeq.toDF("id", "f")
      }.toMap, "broadcast", betas.map { case (e, b) => e -> toArrays(b) },
      lastHyper, lambdaBetas)
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

  /** Conjugate Normal-Wishart posterior draw from factor rows
    * (BPMF §3.1, Eq. 14): driver-side, K x K. */
  private def sampleNW(u: DenseMatrix[Double], seed: Long, iter: Int, tag: Int): NW = {
    val n = u.rows; val k = u.cols
    val mean = DenseVector.tabulate(k)(j => breeze.linalg.sum(u(::, j)) / n)
    val s = DenseMatrix.zeros[Double](k, k)
    var i = 0
    while (i < n) {
      val d = u(i, ::).t - mean
      s += d * d.t
      i += 1
    }
    sampleNWFromStats(n, mean, s, seed, iter, tag)
  }

  /** Same draw from sufficient statistics (n, mean, scatter) — the
    * distributed path aggregates these with one treeAggregate pass. */
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

  /** Side-info link draw (Macau §3.2): exact conditional for beta,
    * whose posterior is matrix-normal with row precision
    * (X^T X + lambda I) and column covariance Lambda^-1 (the entity's
    * NW latent precision). Sampled via the noise-injection identity
    *
    *   beta = (X^T X + lambda I)^-1 (X^T (U~ + E1) + sqrt(lambda) E2)
    *
    * where U~ = U - mu and each row of E1 (n x K) and E2 (F x K) is an
    * independent N(0, Lambda^-1) draw, realized as L_Lambda^-T eps.
    * Small X solves on the driver with Cholesky; opts.useCgSideSolver
    * switches to the distributed CG (Cg.solveNormal) that never
    * materializes X^T X. */
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

  private def sampleBeta(spark: SparkSession, u: DenseMatrix[Double],
                         xs: Array[Array[Double]], nw: NW, opts: Options,
                         lambdaBeta: Double,
                         iter: Int, tag: Int): DenseMatrix[Double] = {
    val n = u.rows; val k = u.cols; val fDim = xs(0).length
    val rng = new RngStream(opts.seed, (iter.toLong << 24) ^ tag ^ 0x5ea1L)
    val lLam = cholesky((nw.lambda + nw.lambda.t) * 0.5)
    def lamNoiseRow(): DenseVector[Double] = {
      val eps = DenseVector.tabulate(k)(_ => rng.nextGaussian())
      upperSolveT(lLam, eps) // N(0, Lambda^-1)
    }
    // centered target + injected latent noise, one N(0, Lambda^-1) row each
    val target = DenseMatrix.zeros[Double](n, k)
    var i = 0
    while (i < n) {
      val e1 = lamNoiseRow()
      var c = 0
      while (c < k) { target(i, c) = u(i, c) - nw.mu(c) + e1(c); c += 1 }
      i += 1
    }
    // prior-side noise: sqrt(lambda) E2, added to the RHS of the solve
    val sqLb = math.sqrt(lambdaBeta)
    val e2 = DenseMatrix.zeros[Double](fDim, k)
    i = 0
    while (i < fDim) {
      e2(i, ::) := (lamNoiseRow() * sqLb).t
      i += 1
    }
    if (opts.useCgSideSolver) {
      import spark.implicits._
      val xt = (0 until n).map { r =>
        (xs(r).toSeq, (0 until k).map(c => target(r, c)).toSeq)
      }.toDF("features", "target")
      Cg.solveNormal(spark, xt, fDim, k, lambdaBeta, rhsExtra = Some(e2))
    } else {
      val x = DenseMatrix.tabulate[Double](n, fDim)((r, j) => xs(r)(j))
      val xtx = x.t * x
      var j = 0
      while (j < fDim) { xtx(j, j) += lambdaBeta; j += 1 }
      val lCh = cholesky(xtx)
      val xtU = (x.t * target) += e2
      val beta = DenseMatrix.zeros[Double](fDim, k)
      var c = 0
      while (c < k) {
        val y = lowerSolve(lCh, xtU(::, c))
        beta(::, c) := upperSolveT(lCh, y)
        c += 1
      }
      beta
    }
  }

  /** Each test cell's prediction sum_k prod_m U_m(ids_m, k), from one
    * factor matrix per mode (`fs`) — for use inside executor closures. */
  private def predict(fs: Array[Array[Array[Double]]], cells: Posterior.Cells,
                      k: Int): Array[Double] = {
    val a = fs.length
    Array.tabulate(cells.v.length) { c =>
      var dot = 0.0
      var j = 0
      while (j < k) {
        var p = 1.0
        var m = 0
        while (m < a) { p *= fs(m)(cells.ids(c * a + m).toInt)(j); m += 1 }
        dot += p
        j += 1
      }
      dot
    }
  }
}
