package graft.bdf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Post-burn-in posterior state, shared by both Gibbs modes: the running
  * per-test-cell prediction moments, the thinned sample trace
  * (Options.keepSamples) and both RMSE traces. Each mode feeds it one
  * (row_id, v, pred) table per kept sweep and builds its [[Gibbs.Result]]
  * from it. */
private[bdf] final class Posterior(testCoo: DataFrame, opts: Gibbs.Options) {
  import Posterior._

  // (row_id, v, pred, pred_sum, pred_sq_sum): the latest sample's pred
  // and the running sums over the kept samples, checkpointed each fold
  private var state: DataFrame = _
  private var nSamples = 0
  private val keptSamples = ArrayBuffer[DataFrame]()
  private val rmseHist = ArrayBuffer[Double]()
  private val sampleRmseHist = ArrayBuffer[Double]()

  /** Fold post-burn-in sample `sIdx` (0-based): `p` is its (row_id, v,
    * pred) table, read once, by the join that builds the next state. */
  def add(p: DataFrame, sIdx: Int): Unit = {
    val pred = col("pred")
    // localCheckpoint truncates the lineage (SURVEY.md §7.4.5): the plan
    // stays one join deep however many samples are kept, and the blocks
    // of a superseded state are ContextCleaner-reclaimed
    state = (if (state == null) p.select(col("row_id"), col("v"), pred, pred.as("pred_sum"),
        (pred * pred).as("pred_sq_sum"))
      else state.select("row_id", "pred_sum", "pred_sq_sum").join(p, "row_id")
        .select(col("row_id"), col("v"), pred, (col("pred_sum") + pred).as("pred_sum"),
          (col("pred_sq_sum") + pred * pred).as("pred_sq_sum")))
      .localCheckpoint(true)
    nSamples += 1
    if (retainSample(sIdx, opts.samples, opts.keepSamples))
      keptSamples += state.select(col("row_id"), lit(sIdx).as("sample_idx"), pred)
    val (mean, sample) = rmses()
    rmseHist += mean
    // the SAMPLE's own RMSE (stationary trace for Diagnostics.rHat)
    sampleRmseHist += sample
  }

  /** RMSE of the running mean (clamped like [[predictions]]) and of the
    * latest sample, in one job: squared errors summed per partition in
    * row_id order, the partials folded here in partition order — so both
    * are a pure function of the state's partitioning. */
  private def rmses(): (Double, Double) = {
    val spark = state.sparkSession
    import spark.implicits._
    val n = nSamples
    val clamp = opts.clamp
    val parts = state.select("row_id", "v", "pred", "pred_sum").sortWithinPartitions("row_id")
      .as[(Long, Double, Double, Double)]
      .mapPartitions { it =>
        var meanSq = 0.0; var sampleSq = 0.0; var cells = 0L
        it.foreach { case (_, v, pred, sum) =>
          val m = clamp.fold(sum / n) { case (lo, hi) => math.min(math.max(sum / n, lo), hi) }
          meanSq += (m - v) * (m - v)
          sampleSq += (pred - v) * (pred - v)
          cells += 1
        }
        Iterator((meanSq, sampleSq, cells))
      }.collect()
    val cells = parts.foldLeft(0L)(_ + _._3).toDouble
    (math.sqrt(parts.foldLeft(0.0)(_ + _._1) / cells),
     math.sqrt(parts.foldLeft(0.0)(_ + _._2) / cells))
  }

  /** The persistable uncertainty state: test cells with their running
    * moments, the sample count made a column so the table is
    * self-contained across a save/load hop. */
  private def moments: DataFrame =
    testCoo.select(col("row_id"), col("ids"))
      .join(state, "row_id")
      .select(col("row_id"), col("ids"), col("v"), lit(nSamples).as("n_samples"),
              col("pred_sum"), col("pred_sq_sum"))

  /** Posterior mean and predictive std per test cell (population form;
    * clamping applies to the mean only, like the reference): the saved
    * model's own derivation, so a save/load round trip is bitwise. */
  def predictions: DataFrame = Macau.predictionsFromMoments(moments, opts.clamp)

  /** The run's [[Gibbs.Result]]: these posterior summaries plus each
    * mode's final-sample state. */
  def result(factors: Map[String, DataFrame], mode: String,
             betas: collection.Map[String, Array[Array[Double]]],
             lastHyper: Map[String, Gibbs.NW],
             lambdaBetas: collection.Map[String, Double]): Gibbs.Result =
    Gibbs.Result(predictions, rmseHist.toSeq, rmseHist.last, factors, mode,
      links = betas.toMap,
      priorMu = lastHyper.map { case (e, nw) => e -> nw.mu.toArray },
      linkPrecisions = betas.keys.map(e =>
        e -> lambdaBetas.getOrElse(e, opts.lambdaBeta)).toMap,
      sampleRmseHistory = sampleRmseHist.toSeq,
      predMoments = Some(moments),
      samplePreds =
        if (keptSamples.isEmpty) None else Some(keptSamples.reduce(_ unionByName _)))
}

private[bdf] object Posterior {

  /** Evenly-spaced thinning: retain sample `s` (0-based of `total`)
    * iff the integer selector floor((s+1)*keep/total) advances at s —
    * exactly `min(keep, total)` samples, evenly spread, no RNG. */
  def retainSample(s: Int, total: Int, keep: Int): Boolean =
    keep > 0 &&
      ((s + 1).toLong * keep) / total > (s.toLong * keep) / total
}
