package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import Harness.{jstr, loadavg}

/** Named-query isolation bench — the one-command repro for bench-delta
  * triage (host-load spikes muddied the per-round artifact in rounds
  * 6, 7 and 8; each time the triage was a hand-written runner), the
  * per-serve Spark-job counter, and the scaling probe.
  *
  *   sbt> runMain graft.BenchOne q_corpus_shuffle 6
  *   sbt> runMain graft.BenchOne q_join_tpch_q13,q_stream_asof_join 2 /tmp/graft_sf1 /tmp/graft_sf10
  *
  * Usage: `BenchOne <q1[,q2,...]> [reps] [dir ...]` — reps defaults to
  * 5, dirs to [[Harness.sfDir]]. Runs ONLY the named queries, in the
  * [[Bench]] session with the same warm-up (per dir) and per-rep sweep,
  * and prints one JSON line per (query, dir):
  *  - `rows` (first rep's count), every rep time, `median` and `min`
  *    — monotonically improving reps mean cold start, not regression;
  *    `min` over dirs gives the scaling exponent tools/scalegate.py
  *    gates on;
  *  - `jobs`, the Spark jobs each rep issued (round-18 finding: one
  *    q_graph_communities_converged serve issued 65 jobs at sf0.1,
  *    mostly AQE stage materializations — the loop family's cost is
  *    job latency, not data). Counted by a SparkListener; the listener
  *    bus is asynchronous, so each rep waits 300 ms untimed on both
  *    sides before reading — counts are for triage, not a contract;
  *  - loadavg and the par-membw canary before and after the reps. The
  *    canary pair is the arbitration precondition (the r16→r17 lesson:
  *    read it FIRST — a 43 s vs flat ~13 s pair means the host is
  *    contended and the reps mean nothing). */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq).getOrElse(
      Harness.usage("usage: BenchOne <q1[,q2,...]> [reps] [dir ...]"))
    val reps = args.lift(1).map(r => r.toIntOption.filter(_ > 0).getOrElse(
      Harness.usage(s"reps must be a positive integer, got '$r'"))).getOrElse(5)
    val dirs = if (args.length > 2) args.drop(2).toSeq else Seq(Harness.sfDir)
    val queries = Harness.resolve(names).fold(Harness.usage, identity)

    val spark = Harness.session()
    val jobs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    def jarr(xs: Seq[Any]): String = xs.mkString("[", ",", "]")
    var membwPar = Bench.membwParCanary()
    try for (dir <- dirs) {
      Harness.warm(spark, dir)
      for ((name, fn) <- queries) {
        val loadStart = loadavg()
        val runs = (1 to reps).map { _ =>
          Thread.sleep(300)
          val j0 = jobs.get()
          val t0 = System.nanoTime()
          val rows = fn(spark, dir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300)
          val dj = jobs.get() - j0
          Harness.sweep(spark)
          (dt, rows, dj)
        }
        val membwParEnd = Bench.membwParCanary()
        val loadEnd = loadavg()
        val times = runs.map(_._1)
        val sorted = times.sorted
        println(s"""{"query":${jstr(name)},"dir":${jstr(dir)},"rows":${runs.head._2},"reps":${jarr(times)},"median":${sorted(sorted.size / 2)},"min":${sorted.head},"jobs":${jarr(runs.map(_._3))},"loadavg_start":${jarr(loadStart)},"loadavg_end":${jarr(loadEnd)},"membw_par_canary_sec":[$membwPar,$membwParEnd],"membw_par_threads":${Bench.membwParThreads}}""")
        membwPar = membwParEnd
      }
    } finally spark.stop()
  }
}
