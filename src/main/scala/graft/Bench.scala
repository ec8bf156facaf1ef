package graft
import Harness.{jstr, loadavg}
object Bench {
  /** Single-thread CPU-speed canary: wall seconds for a fixed 2e8-step
    * xorshift64 loop, best of 3 (JIT-warmed). Absolute query times are
    * only comparable ACROSS rounds if the host runs at the same speed —
    * the round-12 VM ran unchanged queries ~1.3x slower than the
    * round-11 artifact on an idle host (fresh VM boot, likely different
    * physical machine underneath). The canary makes that shift visible
    * in-artifact: divide cross-round query deltas by the canary ratio
    * before calling anything a regression. */
  private[graft] def cpuCanary(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L
      var i = 0
      while (i < 200000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      // data dependency so the loop can't be dead-code-eliminated
      if (x == 0) System.err.println("unreachable")
      (System.nanoTime() - t0) / 1e9
    }
    once(); (1 to 3).map(_ => once()).min
  }

  /** Single-thread MEMORY-BANDWIDTH canary: wall seconds to allocate
    * and write 10 fresh 64 MB long arrays (640 MB of page-faulting
    * stores), best of 3. Motivated by the round-15→16 arbitration of
    * the q_stream_approx_frequency "6× regression": with only the
    * register-bound xorshift canary recorded, a host memory-subsystem
    * change could not be RULED OUT for the alloc-heavy movers (CMS
    * sketch builds, audio spectra) without a round of experiments —
    * the actual cause was session cache pressure, fixed by the
    * per-rep cache sweep below, but rejecting the host hypothesis
    * would have been a one-line diff had this number existed in the
    * r14/r15 artifacts. Divide an alloc-heavy query's cross-round
    * delta by THIS ratio before calling it a regression
    * (docs/bench-tail-triage.md, round-16 section). */
  private[graft] def membwCanary(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var s = 0L
      var r = 0
      while (r < 10) {
        val a = new Array[Long](8 * 1024 * 1024)
        var i = 0
        while (i < a.length) { a(i) = i; i += 1 }
        s += a(a.length - 1)
        r += 1
      }
      if (s == -1) System.err.println("unreachable")
      (System.nanoTime() - t0) / 1e9
    }
    once(); (1 to 3).map(_ => once()).min
  }

  /** ALL-CORES memory-bandwidth canary: wall seconds for 32 threads
    * to each allocate+write 4x 64 MB long arrays concurrently, best
    * of 2. Round-16 follow-up to the single-thread canary: six
    * full-bench runs on one afternoon degraded 106 -> 130 s while the
    * single-thread CPU AND membw canaries stayed flat — a co-tenant
    * on the physical host was eating PARALLEL memory bandwidth, which
    * no single-thread probe can see. Divide cross-round totals by the
    * ratio of THIS number before reading anything into them. */
  /** Thread count for [[membwParCanary]] — the session's core count,
    * [[Harness.cpus]] (round-16 advice item: a hardcoded 32 on a
    * smaller host measures scheduler contention, not parallel
    * bandwidth) — and recorded in the emitted
    * JSON so cross-round canary ratios are only compared like-for-like. */
  private[graft] val membwParThreads: Int =
    Harness.cpus.toIntOption.getOrElse(Runtime.getRuntime.availableProcessors)

  private[graft] def membwParCanary(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      val threads = (1 to membwParThreads).map { t =>
        new Thread(() => {
          var s = 0L
          var r = 0
          while (r < 4) {
            val a = new Array[Long](8 * 1024 * 1024)
            var i = 0
            while (i < a.length) { a(i) = i; i += 1 }
            s += a(a.length - 1)
            r += 1
          }
          if (s == -1) System.err.println("unreachable")
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    once(); (1 to 2).map(_ => once()).min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    val loadStart = loadavg()
    val canaryStart = cpuCanary()
    val membwStart = membwCanary()
    val membwParStart = membwParCanary()
    Harness.warm(spark, sfDir)
    // median-of-3 per query: single-shot times at sf0.1 bounce with
    // host load (round-1 bench showed 10x swings on unchanged queries),
    // so report the per-query median to make round-over-round deltas
    // signal instead of noise
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // a crashing query must NOT bench as "fast and green": record the
    // failure per query in an `errors` field, and keep failed reps'
    // fast-fail wall times OUT of the median and the headline total
    // (a crash could otherwise make the bench look faster)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val repTimes = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    // iterate the registry in SORTED key order: in-bench medians are
    // documented to depend on registry position (session cache
    // pressure — docs/bench-tail-triage.md), so a Map-order iteration
    // makes cross-round per-query diffs compare different neighbor
    // sets whenever the registry grows. Sorting pins the order; expect
    // a one-time reshuffle of per-query numbers the round this landed.
    val results: Seq[(String, Double)] = SparkEntry.queries.toSeq
      .sortBy(_._1).flatMap {
      case (name, fn) =>
        val timed = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).count(); true } catch {
              case e: Throwable =>
                errors(name) = s"${e.getClass.getSimpleName}: " +
                  Option(e.getMessage).getOrElse("")
                    .takeWhile(_ != '\n').take(200)
                false
            }
          val dt = (System.nanoTime() - t0) / 1e9
          Harness.sweep(spark)
          (dt, ok)
        }
        repTimes(name) = timed.map(_._1)
        val clean = timed.filter(_._2).map(_._1).sorted
        // all reps failed -> no timing at all: the query appears ONLY
        // in `errors`, and contributes nothing to the total
        if (clean.isEmpty) None else Some(name -> clean(clean.size / 2))
    }
    val loadEnd = loadavg()
    val canaryEnd = cpuCanary()
    val membwEnd = membwCanary()
    val membwParEnd = membwParCanary()
    def jarr(xs: Seq[Double]): String = xs.mkString("[", ",", "]")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val rs = repTimes.map { case (k, v) => s"${jstr(k)}:${jarr(v)}" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$es,"reps":$rs,"loadavg_start":${jarr(loadStart)},"loadavg_end":${jarr(loadEnd)},"cpu_canary_sec":[$canaryStart,$canaryEnd],"membw_canary_sec":[$membwStart,$membwEnd],"membw_par_canary_sec":[$membwParStart,$membwParEnd],"membw_par_threads":$membwParThreads,"sf":"$sfDir"}"""
    println(line)
    // the driver captures only a stdout tail (BENCH_r03.json lost 32 of
    // 95 per-query medians to truncation) — persist the full line too
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    // the driver's artifact keeps only the LAST 2000 chars of stdout,
    // so the full line above never parses there (every BENCH_r*.json
    // through round 11 landed "parsed": null). Emit a compact record
    // LAST, sized to fit that tail whole: headline total + the slowest
    // medians; bench_last.json stays the complete per-query source.
    val slow = results.sortBy(-_._2).take(15)
    def r3(v: Double): Double = math.round(v * 1000).toDouble / 1000
    val qsSlow = slow.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"queries":$qsSlow,"queries_note":"15 slowest of ${results.size} medians; full per-query data in bench_last.json","loadavg_start":${jarr(loadStart)},"loadavg_end":${jarr(loadEnd)},"cpu_canary_sec":[${r3(canaryStart)},${r3(canaryEnd)}],"membw_canary_sec":[${r3(membwStart)},${r3(membwEnd)}],"membw_par_canary_sec":[${r3(membwParStart)},${r3(membwParEnd)}],"membw_par_threads":$membwParThreads,"sf":"$sfDir"}""")
    spark.stop()
  }
}
