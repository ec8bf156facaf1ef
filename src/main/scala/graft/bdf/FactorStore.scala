package graft.bdf

import breeze.linalg.{cholesky, DenseMatrix, DenseVector}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable

/** Where the factors of one [[Gibbs.train]] live, and every step of its
  * sweep that reads or writes them. The loop itself, its state and the
  * [[Gibbs.Result]] belong to `Gibbs.train`. */
private[bdf] trait FactorStore {
  def mode: String                                      // Result.mode
  def nwStats(e: String): (Long, DenseVector[Double], DenseMatrix[Double]) // n, mean, scatter of rows minus link shift
  def drawLink(e: String, nw: Gibbs.NW, lambdaBeta: Double, iter: Int): DenseMatrix[Double] // beta; beta^T x_i becomes e's shift
  def draw(e: String, nw: Gibbs.NW, alpha: Double, iter: Int): Unit // every id of e, from its cells or its prior
  def sse(): (Double, Long)                             // relation 0's training cells
  def predict(p: Posterior): RDD[Array[Double]]         // one sample, per test-index partition
  def tables(): Map[String, DataFrame]                  // (id, f) per entity
  def close(): Unit                                     // release caches and broadcasts; tables stay
}

/** Broadcast mode: the factors are driver matrices, shipped to the
  * executors as broadcasts — the Spark analog of the reference's
  * SharedArray zero-copy factors. Each entity type's cells are indexed
  * once into persisted per-partition CSR blocks ([[CellIndex]], the
  * IndexedDF analog; its one shuffle runs in the first sweep), so each
  * draw is one narrow job over that index, shuffling nothing. Side
  * tables are collected and densified on the driver once per train:
  * this is the small-data mode by construction, and the link solves
  * there with Cholesky. */
private[bdf] final class BroadcastStore(spark: SparkSession, rd: RelationData,
                                        opts: Gibbs.Options,
                                        sideWidth: String => Int) extends FactorStore {
  import BroadcastStore.dot
  import Conditional.{lowerSolve, upperSolveT}

  val mode = "broadcast"
  private val sc = spark.sparkContext
  private val k = opts.numLatent
  private val rel0 = rd.relations.head
  private val entNames = rd.entities.keys.toSeq.sorted
  private val sizes = entNames.map(e => e -> rd.entities(e).numItems).toMap

  // rows = items
  private val factors = mutable.Map(entNames.map { e =>
    e -> DenseMatrix.tabulate[Double](sizes(e), k)((i, j) =>
      0.3 * CbRng.gaussian(opts.seed, -1L, e.hashCode.toLong, i.toLong, j.toLong))
  }: _*)

  // X (N x F) and its Gram matrix X^T X, built once per train; ids
  // absent from a side table have an all-zero row
  private val sides: Map[String, (DenseMatrix[Double], DenseMatrix[Double])] = rd.entities.collect {
    case (name, ent @ Entity(_, _, Some(sideDf))) =>
      val x = SideTable.matrix(ent.sideSpec(sideDf), sideDf, sideWidth(name))
      name -> (x, x.t * x)
  }
  private val linkMeans = mutable.Map[String, DenseMatrix[Double]]() // beta^T x_i per item

  // persisted only once the side tables have passed their checks; one
  // shuffle at the first sweep, then read in place by every draw
  private val index: Map[String, RDD[CellIndex]] = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    entNames.map(e => e -> CellIndex.build(rd, e, parts)).toMap
  }

  // one broadcast per version of a factor matrix, destroyed when it is redrawn
  private val shipped = mutable.Map[String, Broadcast[Array[Array[Double]]]]()
  private def ship(e: String): Broadcast[Array[Array[Double]]] =
    shipped.getOrElseUpdate(e, sc.broadcast(Gibbs.toArrays(factors(e))))

  /** Centred on the driver (BPMF §3.1, Eq. 14). */
  def nwStats(e: String): (Long, DenseVector[Double], DenseMatrix[Double]) = {
    val u = linkMeans.get(e).fold(factors(e))(factors(e) - _)
    val n = u.rows
    val mean = DenseVector.tabulate(k)(j => breeze.linalg.sum(u(::, j)) / n)
    val s = DenseMatrix.zeros[Double](k, k)
    var i = 0
    while (i < n) {
      val d = u(i, ::).t - mean
      s += d * d.t
      i += 1
    }
    (n, mean, s)
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
    * X solves on the driver with Cholesky; X and its F x F Gram matrix
    * are part of [[Gibbs.broadcastFootprint]]. */
  def drawLink(e: String, nw: Gibbs.NW, lambdaBeta: Double, iter: Int): DenseMatrix[Double] = {
    val u = factors(e); val (x, gram) = sides(e)
    val n = u.rows; val fDim = x.cols
    val rng = new RngStream(opts.seed, (iter.toLong << 24) ^ e.hashCode ^ 0x5ea1L)
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
    val xtx = gram.copy
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
    val lm = DenseMatrix.zeros[Double](n, k)
    i = 0
    while (i < n) {
      lm(i, ::) := (beta.t * x(i, ::).t.copy).t
      i += 1
    }
    linkMeans(e) = lm
    beta
  }

  /** One narrow job over e's cell index, against broadcast factors. */
  def draw(e: String, nw: Gibbs.NW, alpha: Double, iter: Int): Unit = {
    val link = linkMeans.get(e).map(Gibbs.toArrays)
    val kk = k; val seed = opts.seed; val it = iter.toLong
    // per block (relation, mode): the other modes' factors, the
    // cell noise precision (Macau §2.3: per relation, else the
    // global, possibly sampled, alpha; probit's latent likelihood
    // is unit variance) and the probit cell key's relation tag
    val roles = CellIndex.roles(rd, e)
    val perRole = roles.map { case (r, m) =>
      (r.modeEntities.patch(m, Nil, 1).map(ship).toArray, m, r.modeEntities.length,
       if (opts.binaryProbit) 1.0 else r.alpha.getOrElse(alpha),
       Conditional.relTag(r.name, m))
    }.toArray
    val bSelf = if (opts.binaryProbit) ship(e) else null
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
    // dead after the collect: destroy them instead of waiting on
    // GC-driven cleanup; e's own factors change below
    bMu.destroy(); bLam.destroy(); bLink.destroy()
    shipped.remove(e).foreach(_.destroy())

    // entities with no observations keep a pure prior draw
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

  /** Read from the index of relation 0's mode-0 entity (whose first
    * block its cells are), summed per partition and folded here in
    * partition order. */
  def sse(): (Double, Long) = {
    val bcs = rel0.modeEntities.map(ship).toArray
    val kk = k
    val partials = index(rel0.modeEntities.head).map { part =>
      val blk = part.blocks(0)
      val fs = bcs.map(_.value)
      var sse = 0.0
      for (i <- part.ids.indices; c <- blk.offsets(i) until blk.offsets(i + 1)) {
        val err = blk.values(c) -
          dot(fs, kk, m => if (m == 0) part.ids(i).toInt else blk.others(m - 1)(c))
        sse += err * err
      }
      (sse, blk.values.length.toLong)
    }.collect()
    (partials.foldLeft(0.0)(_ + _._1), partials.foldLeft(0L)(_ + _._2))
  }

  /** Computed inside the posterior's own job. */
  def predict(p: Posterior): RDD[Array[Double]] = {
    val bcs = rel0.modeEntities.map(ship).toArray
    val kk = k
    p.index.map { cells =>
      val fs = bcs.map(_.value); val a = fs.length
      Array.tabulate(cells.v.length)(c => dot(fs, kk, m => cells.ids(c * a + m).toInt))
    }
  }

  /** Each table is a local relation of one partition, so an in-session
    * [[Macau.predict]] join still broadcasts it and [[Macau.saveModel]]
    * writes it as one file. Both stay bounded: this mode holds at most
    * [[Gibbs.Options.autoDistributedDoubles]] doubles on the driver
    * when it is chosen automatically (32M, 256 MB, by default). */
  def tables(): Map[String, DataFrame] =
    factors.map { case (e, f) =>
      val rows = Gibbs.toArrays(f).zipWithIndex.map { case (u, i) => Row(i.toLong, u) }
      e -> spark.createDataFrame(java.util.Arrays.asList(rows: _*), ModelSchema.factors).coalesce(1)
    }.toMap

  def close(): Unit = {
    index.values.foreach(_.unpersist())
    shipped.values.foreach(_.destroy())
  }
}

private object BroadcastStore {

  /** One cell's prediction sum_j prod_m fs(m)(row(m))(j), from one factor
    * matrix per mode, the products added left to right. */
  def dot(fs: Array[Array[Array[Double]]], k: Int, row: Int => Int): Double = {
    val us = Array.tabulate(fs.length)(m => fs(m)(row(m)))
    var dot = 0.0
    var j = 0
    while (j < k) {
      var p = 1.0
      var m = 0
      while (m < us.length) { p *= us(m)(j); m += 1 }
      dot += p
      j += 1
    }
    dot
  }
}
