package graft

import org.apache.spark.sql.DataFrame

/** Lineage truncation for ITERATIVE loop state.
  *
  * `Dataset.localCheckpoint(eager = true)` truncates the logical plan
  * to a single LogicalRDD node — but that node INHERITS the origin
  * plan's cost statistics. A fixpoint loop whose step joins the state
  * with (a derivative of) itself therefore roughly SQUARES the
  * inherited `sizeInBytes` every iteration: the stats of a join are
  * the product of its children's. Measured on this build (Spark
  * 4.1.2): by iteration 12 the stats BigInt has ~4,000 digits, by
  * iteration ~50 planning spends ~20 s per iteration multiplying
  * million-digit BigIntegers, and around iteration 55 planning dies
  * with `ArithmeticException: BigInteger would overflow supported
  * range`. Any convergence loop with a run-length backstop above ~30
  * is exposed — the fixed-3/4-round oracle faces never were (2^4
  * growth is invisible).
  *
  * [[truncate]] materializes eagerly (so an attached Observation's
  * metrics are settled when it returns, preserving the one-action-
  * per-round discipline) and then REBUILDS the Dataset from the
  * checkpointed RDD. The rebuilt LogicalRDD carries no origin stats,
  * so per-iteration planning cost is flat forever. The cost is one
  * extra narrow row-conversion map over the loop-state table per
  * downstream use — linear in the STATE (node/rank pairs), never the
  * corpus, and dwarfed by the loop's own shuffles. Joins against the
  * result won't auto-broadcast (its default size estimate is
  * conservative) — correct for loop state, which grows with the data.
  */
object Lineage {
  def truncate(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Run `body` with ADAPTIVE QUERY EXECUTION OFF, restoring the
    * previous setting in `finally` — for JOIN-FREE iterative loops
    * only (round-19: the Lloyd training loop).
    *
    * Why so narrow: AQE materializes every Exchange of an eagerly-
    * executed plan as its own stage job, so a loop that issues one
    * action per round pays several scheduler round-trips per round —
    * but AQE is ALSO what rescues the JOIN-carrying loops (it
    * converts their SMJ-against-unknown-stats loop state to runtime
    * broadcasts and coalesces the tiny state exchanges). Round-19
    * measured the trade on every loop face (jobs per serve, sf0.1,
    * local[32]): with AQE off the graph loops got 1.4-1.9x SLOWER
    * despite ~4x fewer jobs (communities_converged 4.8 s/86 jobs →
    * 8.5 s/19 jobs; pagerank_converged 5.2/45 → 7.8/11), while the
    * join-free Lloyd loop — one k-row groupBy per pass, nothing for
    * AQE to re-plan — got strictly faster (q_sim_ann_ivf_learned
    * 1.50 → 1.00 s, 22 → 16 jobs; q_dedup_semantic 2.19 → 2.01).
    * So this helper is applied ONLY where the loop body has no join
    * for AQE to improve; the graph loops keep AQE on.
    *
    * Scoped set + finally-restore (the readManifestFiles pattern):
    * every plan outside the loop — including the RETURNED frame,
    * which executes after restore — keeps the session's AQE setting.
    *
    * Thread-safety: session-conf mutation is visible session-wide, so
    * calls are serialized on one lock (as `Layout.readManifestFiles`
    * does for its conf override): a second thread waits for the first
    * body to finish and the setting to be restored, then runs its own
    * body with AQE off. Without the lock the second thread would find
    * AQE already off, skip the set, and run the rest of its body with
    * AQE back on once the first restored it. Plans built elsewhere on
    * the session while a body runs still see AQE off. */
  def withAqeOff[T](s: org.apache.spark.sql.SparkSession)(body: => T): T =
    aqeLock.synchronized {
      val key = "spark.sql.adaptive.enabled"
      val prev = s.conf.get(key)
      if (prev == "false") body
      else {
        s.conf.set(key, "false")
        try body finally s.conf.set(key, prev)
      }
    }

  private val aqeLock = new Object
}
