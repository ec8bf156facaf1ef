package graft.bdf

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

/** Post-burn-in posterior state, shared by both Gibbs modes: the running
  * per-test-cell prediction moments behind the Monte Carlo predictive
  * mean (BPMF ICML'08 §3.1), the thinned sample trace
  * (Options.keepSamples) and both RMSE traces.
  *
  * The test cells are indexed once per train, like [[CellIndex]]:
  * [[index]] holds one [[Posterior.Cells]] per partition, row_ids placed
  * by one HashPartitioner over `spark.sql.shuffle.partitions`. The
  * running state is co-partitioned with it, one [[Posterior.Moments]]
  * per partition, so each kept sample is one narrow job: `zipPartitions`
  * folds the mode's predictions (one array per index partition, in
  * index order) into the sums, checkpoints the new state and returns
  * both RMSE partials. Each mode builds its [[Gibbs.Result]] from it.
  *
  * `arity` is relation 0's mode count, the length of every test cell's
  * `ids`. */
private[bdf] final class Posterior(testCoo: DataFrame, arity: Int, opts: Gibbs.Options) {
  import Posterior._

  private val spark = testCoo.sparkSession
  private val hp = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)

  /** The test cells by partition, persisted MEMORY_AND_DISK. Lazy: the
    * first kept sample's job runs its one shuffle. */
  val index: RDD[Cells] = build(testCoo, arity, hp)

  private var state: RDD[Moments] = _
  private var nSamples = 0
  private val kept = ArrayBuffer[(Int, RDD[Moments])]()
  private val rmseHist = ArrayBuffer[Double]()
  private val sampleRmseHist = ArrayBuffer[Double]()

  /** Fold post-burn-in sample `sIdx` (0-based): `preds` holds, per index
    * partition, the sample's prediction of each cell in index order. */
  def add(preds: RDD[Array[Double]], sIdx: Int): Unit = {
    val prev = state
    // localCheckpoint truncates the lineage (SURVEY.md §7.4.5) once the
    // job below has cached every partition, so a state is one fold deep
    // however many samples are kept
    state = (if (prev == null) preds.map(p => Moments(p, p.clone(), p.map(x => x * x)))
      else prev.zipPartitions(preds) { (ms, ps) =>
        val m = ms.next(); val p = ps.next()
        Iterator(Moments(p, Array.tabulate(p.length)(i => m.sum(i) + p(i)),
          Array.tabulate(p.length)(i => m.sq(i) + p(i) * p(i))))
      }).localCheckpoint()
    nSamples += 1
    val (mean, sample) = rmses()
    rmseHist += mean
    // the SAMPLE's own RMSE (stationary trace for Diagnostics.rHat)
    sampleRmseHist += sample
    if (prev != null && !kept.exists(_._2 eq prev)) prev.unpersist(blocking = false)
    if (retainSample(sIdx, opts.samples, opts.keepSamples)) kept += sIdx -> state
  }

  /** `byRow`'s (row_id, pred) pairs, one per test row, moved onto the
    * index: sorted by row_id in each partition and aligned position by
    * position (a repeated cell shares its ids, so its pred). */
  def align(byRow: RDD[(Long, Double)]): RDD[Array[Double]] =
    index.zipPartitions(byRow.partitionBy(hp)) { (cs, ps) =>
      val c = cs.next()
      val p = ps.toArray.sortBy(_._1)
      if (p.length != c.rowIds.length)
        throw new IllegalStateException(
          s"${p.length} predictions for ${c.rowIds.length} test cells in one partition")
      Iterator(Array.tabulate(p.length) { i =>
        if (p(i)._1 != c.rowIds(i))
          throw new IllegalStateException(s"prediction for row_id ${p(i)._1} at the " +
            s"position of row_id ${c.rowIds(i)}")
        p(i)._2
      })
    }

  /** RMSE of the running mean (clamped like the predictions) and of the
    * latest sample, from the job that materializes the new state:
    * squared errors summed per partition in index order, the partials
    * folded here in partition order — so both are a pure function of the
    * index's partitioning. */
  private def rmses(): (Double, Double) = {
    val n = nSamples
    val clamp = opts.clamp
    val parts = index.zipPartitions(state) { (cs, ms) =>
      val c = cs.next(); val m = ms.next()
      var meanSq = 0.0; var sampleSq = 0.0
      var i = 0
      while (i < c.v.length) {
        val s = m.sum(i) / n
        val mean = clamp.fold(s) { case (lo, hi) => math.min(math.max(s, lo), hi) }
        meanSq += (mean - c.v(i)) * (mean - c.v(i))
        sampleSq += (m.pred(i) - c.v(i)) * (m.pred(i) - c.v(i))
        i += 1
      }
      Iterator((meanSq, sampleSq, c.v.length.toLong))
    }.collect()
    val cells = parts.foldLeft(0L)(_ + _._3).toDouble
    (math.sqrt(parts.foldLeft(0.0)(_ + _._1) / cells),
     math.sqrt(parts.foldLeft(0.0)(_ + _._2) / cells))
  }

  /** The persistable uncertainty state: test cells with their running
    * moments, the sample count made a column so the table is
    * self-contained across a save/load hop. */
  private def moments: DataFrame = {
    val n = nSamples; val a = arity
    spark.createDataFrame(index.zipPartitions(state) { (cs, ms) =>
      val c = cs.next(); val m = ms.next()
      Iterator.tabulate(c.rowIds.length)(i =>
        Row(c.rowIds(i), c.ids.slice(i * a, i * a + a), c.v(i), n, m.sum(i), m.sq(i)))
    }, ModelSchema.moments)
  }

  /** The retained samples' predictions, one (row_id, sample_idx, pred)
    * row per test row and retained sample. */
  private def samples: DataFrame =
    spark.createDataFrame(spark.sparkContext.union(kept.toSeq.map { case (sIdx, s) =>
      index.zipPartitions(s) { (cs, ms) =>
        val c = cs.next(); val m = ms.next()
        Iterator.tabulate(c.rowIds.length)(i => Row(c.rowIds(i), sIdx, m.pred(i)))
      }
    }), ModelSchema.samples)

  /** The run's [[Gibbs.Result]]: these posterior summaries plus each
    * mode's final-sample state. The predictions are the saved model's
    * own derivation from the moments, so a save/load round trip is
    * bitwise. */
  def result(factors: Map[String, DataFrame], mode: String,
             betas: collection.Map[String, Array[Array[Double]]],
             lastHyper: Map[String, Gibbs.NW],
             lambdaBetas: collection.Map[String, Double]): Gibbs.Result = {
    val m = moments
    Gibbs.Result(Macau.predictionsFromMoments(m, opts.clamp), rmseHist.toSeq, rmseHist.last,
      factors, mode,
      links = betas.toMap,
      priorMu = lastHyper.map { case (e, nw) => e -> nw.mu.toArray },
      linkPrecisions = betas.keys.map(e =>
        e -> lambdaBetas.getOrElse(e, opts.lambdaBeta)).toMap,
      sampleRmseHistory = sampleRmseHist.toSeq,
      predMoments = Some(m),
      samplePreds = if (kept.isEmpty) None else Some(samples))
  }
}

private[bdf] object Posterior {

  /** One partition of the test index, sorted by (row_id, v) so that a
    * repeated cell too has one fixed order: cell c's mode ids are
    * `ids(c * arity until (c + 1) * arity)`. */
  final case class Cells(rowIds: Array[Long], ids: Array[Long], v: Array[Double])

  /** One partition of the running state, aligned with its [[Cells]]: the
    * latest sample's predictions and the sums of the kept samples'
    * predictions and squared predictions. */
  final case class Moments(pred: Array[Double], sum: Array[Double], sq: Array[Double])

  /** Evenly-spaced thinning: retain sample `s` (0-based of `total`)
    * iff the integer selector floor((s+1)*keep/total) advances at s —
    * exactly `min(keep, total)` samples, evenly spread, no RNG. */
  def retainSample(s: Int, total: Int, keep: Int): Boolean =
    keep > 0 &&
      ((s + 1).toLong * keep) / total > (s.toLong * keep) / total

  /** The test index: each map task groups its rows by target partition
    * into flat arrays (one [[Cells]] chunk each, small under Java
    * serialization, as [[CellIndex]] does); each partition concatenates
    * and sorts its chunks. */
  private def build(testCoo: DataFrame, arity: Int, hp: HashPartitioner): RDD[Cells] = {
    val parts = hp.numPartitions
    testCoo.select(col("row_id").cast("long"), col("ids").cast("array<bigint>"),
        col("v").cast("double"))
      .rdd.mapPartitions { rows =>
        val rowIds = Array.fill(parts)(ArrayBuilder.make[Long])
        val ids = Array.fill(parts)(ArrayBuilder.make[Long])
        val vs = Array.fill(parts)(ArrayBuilder.make[Double])
        rows.foreach { row =>
          val rowId = row.getLong(0)
          val cell = row.getSeq[Long](1)
          require(cell.length == arity,
            s"test row_id $rowId has ${cell.length} ids; relation 0 has $arity modes")
          val p = hp.getPartition(rowId)
          rowIds(p) += rowId
          ids(p) ++= cell
          vs(p) += row.getDouble(2)
        }
        Iterator.range(0, parts).map(p => (p, Cells(rowIds(p).result(), ids(p).result(),
          vs(p).result()))).filter(_._2.rowIds.nonEmpty)
      }
      // the keys are partition ids below `parts`, which hp maps to themselves
      .partitionBy(hp)
      .mapPartitions(it => Iterator(sorted(it.map(_._2).toVector, arity)))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  private def sorted(chunks: Seq[Cells], arity: Int): Cells = {
    val rowIds = chunks.flatMap(_.rowIds).toArray
    val ids = chunks.flatMap(_.ids).toArray
    val v = chunks.flatMap(_.v).toArray
    val order = Array.range(0, rowIds.length).sorted(new Ordering[Int] {
      def compare(x: Int, y: Int): Int = {
        val c = java.lang.Long.compare(rowIds(x), rowIds(y))
        if (c != 0) c else java.lang.Double.compare(v(x), v(y))
      }
    })
    Cells(order.map(rowIds), order.flatMap(c => ids.slice(c * arity, c * arity + arity)),
      order.map(v))
  }
}
