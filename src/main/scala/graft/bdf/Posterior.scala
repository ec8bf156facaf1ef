package graft.bdf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Post-burn-in posterior state, shared by both Gibbs modes: the running
  * per-test-cell prediction moments, the thinned sample trace
  * (Options.keepSamples) and both RMSE traces. Each mode feeds it one
  * checkpointed prediction table per kept sweep and builds its
  * [[Gibbs.Result]] from it. */
private[bdf] final class Posterior(testCoo: DataFrame, opts: Gibbs.Options) {
  import Posterior._

  // (row_id, pred_sum, pred_sq_sum) over the kept samples
  private var predSum: DataFrame = _
  private var nSamples = 0
  // each retained sample is its own checkpointed 3-col table, unioned
  // lazily at the end — O(retained rows) materialized, never O(n^2)
  private val keptSamples = ArrayBuffer[DataFrame]()
  private val rmseHist = ArrayBuffer[Double]()
  private val sampleRmseHist = ArrayBuffer[Double]()

  /** Fold post-burn-in sample `sIdx` (0-based): `p` is its checkpointed
    * (row_id, v, pred) table, read by every consumer below. */
  def add(p: DataFrame, sIdx: Int): Unit = {
    predSum =
      if (predSum == null)
        // lazy: the first fold's blocks are read by the second fold's join
        p.select(col("row_id"), col("pred").as("pred_sum"),
                 (col("pred") * col("pred")).as("pred_sq_sum"))
          .persist()
      else {
        // localCheckpoint truncates the lineage (SURVEY.md §7.4.5) —
        // plain persist would keep a plan tree growing one join per
        // posterior sample
        val next = predSum.join(p, "row_id")
          .select(col("row_id"),
                  (col("pred_sum") + col("pred")).as("pred_sum"),
                  (col("pred_sq_sum") + col("pred") * col("pred")).as("pred_sq_sum"))
          .localCheckpoint(true)
        predSum.unpersist()
        next
      }
    nSamples += 1
    if (retainSample(sIdx, opts.samples, opts.keepSamples))
      keptSamples += p
        .select(col("row_id"), lit(sIdx).as("sample_idx"), col("pred"))
        .localCheckpoint(true)
    rmseHist += rmse(predictions)
    // the SAMPLE's own RMSE (stationary trace for Diagnostics.rHat)
    sampleRmseHist += rmse(p)
  }

  /** The persistable uncertainty state: test cells joined to their
    * running moments, with the sample count made a column so the table
    * is self-contained across a save/load hop. */
  private def moments: DataFrame =
    testCoo.select(col("row_id"), col("ids"), col("v"))
      .join(predSum, "row_id")
      .select(col("row_id"), col("ids"), col("v"), lit(nSamples).as("n_samples"),
              col("pred_sum"), col("pred_sq_sum"))

  /** Posterior mean and predictive std per test cell (population form;
    * clamping applies to the mean only, like the reference). Same
    * arithmetic as Macau.predictionsFromMoments, but joined directly:
    * going through [[moments]] changes the plan, and with it the order
    * of the RMSE trace's sums. */
  def predictions: DataFrame = {
    val p = testCoo.join(predSum, "row_id")
      .withColumn("pred", col("pred_sum") / nSamples)
      .withColumn("pred_std", sqrt(greatest(lit(0.0),
        col("pred_sq_sum") / nSamples - pow(col("pred_sum") / nSamples, 2))))
    opts.clamp match {
      case Some((lo, hi)) =>
        p.withColumn("pred", least(greatest(col("pred"), lit(lo)), lit(hi)))
          .select("row_id", "ids", "v", "pred", "pred_std")
      case None => p.select("row_id", "ids", "v", "pred", "pred_std")
    }
  }

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

  private def rmse(p: DataFrame): Double =
    math.sqrt(p.select(avg(pow(col("pred") - col("v"), 2))).head().getDouble(0))
}
