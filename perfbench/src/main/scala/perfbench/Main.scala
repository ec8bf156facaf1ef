package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.bdf.{Entity, Gibbs, Macau, Relation, RelationData}

/** One benchmark run in one JVM: a single closed-loop client calling the
  * program's public functions (`SparkEntry.queries`, `Macau.*`) and
  * recording what each call took. Arguments are `key=value` pairs; see
  * `run.py`, which prepares the inputs and turns the record this writes
  * into metrics.
  *
  *   mode=oracle out=F        write every face name and its oracle SQL
  *   mode=run workload=W ...  run one workload, write the run record
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not key=value")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    kv("mode") match {
      case "oracle" =>
        val rec = Map(
          "faces" -> SparkEntry.queries.keys.toSeq.sorted,
          "oracle" -> SparkEntry.oracleSql)
        Files.writeString(Paths.get(kv("out")), Json.render(rec))
      case "run" => new Run(kv).execute()
      case m => sys.error(s"unknown mode $m")
    }
  }
}

/** Outcome of one operation: whether its output passed the check, plus
  * what the check looked at. */
final case class Outcome(ok: Boolean, detail: Map[String, Any])

/** Times the phases of one operation. Each phase also sets the local
  * property the listener attributes the phase's jobs by. */
final class Phases(sc: org.apache.spark.SparkContext, spans: Spans) {
  val seconds = mutable.LinkedHashMap[String, Double]()
  val intervals = mutable.ArrayBuffer[(String, Long, Long)]()

  def apply[T](p: String)(f: => T): T = {
    sc.setLocalProperty(OpListener.PhaseKey, p)
    val t0 = spans.nowNs()
    try f finally {
      val t1 = spans.nowNs()
      seconds(p) = seconds.getOrElse(p, 0.0) + (t1 - t0) / 1e9
      intervals += ((p, t0, t1))
    }
  }
}

final class Run(kv: Map[String, String]) {
  private val workload = kv("workload")
  private val seed = kv("seed").toLong
  private val seconds = kv("seconds").toDouble
  private val traced = kv("trace") == "1"
  private val cores = kv("cores").toInt
  private val workDir = kv("work")

  private val spans = new Spans
  private val listener = new OpListener
  private val ops = mutable.ArrayBuffer[mutable.Map[String, Any]]()
  private val heapMb = mutable.ArrayBuffer[Double]()
  /** JVM uptime at each set-up milestone, in seconds. */
  private val setupMarks = mutable.LinkedHashMap[String, Double]()
  private var listening = false

  private def loadavg(): Seq[Double] =
    scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ")
      .take(3).toSeq.map(_.toDouble)

  private def session(): SparkSession = {
    // the session `graft.Bench` builds, at this host's core count
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Old-generation occupancy right after a full collection, in MB. The
    * pause between two collections lets Spark's ContextCleaner drop the
    * broadcasts and shuffles the first one found unreachable, so the
    * sample is the live set, not what the last op left for the cleaner. */
  private def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.toArray(
      Array.empty[java.lang.management.MemoryPoolMXBean])
    val old = pools.filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val used = old.map { p =>
      Option(p.getCollectionUsage).map(_.getUsed).filter(_ > 0)
        .getOrElse(p.getUsage.getUsed)
    }.sum
    heapMb += used / 1048576.0
  }

  /** Attach the listener for a traced pass, detach it for an untraced
    * one; the bus is drained first so no event crosses the switch. */
  private def listen(spark: SparkSession, on: Boolean): Unit = if (on != listening) {
    PerfbenchBus.drain(spark.sparkContext)
    if (on) spark.sparkContext.addSparkListener(listener)
    else spark.sparkContext.removeSparkListener(listener)
    listening = on
  }

  /** Run one operation under its own job group. Each phase is timed; in
    * a traced pass each phase is also a span under the op's root span.
    * A throw counts as a failed op without a time. */
  private def op(spark: SparkSession, name: String, kind: String, pass: Int,
                 spanned: Boolean, sweep: Boolean = true)(body: Phases => Outcome): Outcome = {
    val idx = ops.size
    val group = s"${OpListener.GroupPrefix}$idx"
    val sc = spark.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val phases = new Phases(sc, spans)
    val t0 = spans.nowNs()
    val result: Either[Throwable, Outcome] =
      try Right(body(phases)) catch { case e: Exception => Left(e) }
    val t1 = spans.nowNs()
    sc.setLocalProperty(OpListener.PhaseKey, null)
    sc.clearJobGroup()
    val rec = mutable.LinkedHashMap[String, Any](
      "op" -> name, "kind" -> kind, "pass" -> pass, "group" -> group,
      "traced" -> spanned, "start_ms" -> t0 / 1000000L, "end_ms" -> t1 / 1000000L,
      "phases" -> phases.seconds)
    result match {
      case Right(o) =>
        rec ++= Seq("s" -> (t1 - t0) / 1e9, "ok" -> o.ok) ++ o.detail
      case Left(e) =>
        System.err.println(s"[perfbench] $kind $name failed: $e")
        rec ++= Seq("ok" -> false, "error" ->
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(300)}")
    }
    if (spanned) {
      val root = spans.add(-1, idx, kind, t0, t1)
      phases.intervals.foreach { case (p, a, b) => spans.add(root, idx, p, a, b) }
    }
    ops += rec
    if (sweep) sweepCaches(spark)
    result.getOrElse(Outcome(ok = false, Map.empty))
  }

  /** Untimed, as in graft.Bench: drop what an op left cached so it
    * cannot slow the ops after it. */
  private def sweepCaches(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
  }

  /** Passes run until `seconds` have elapsed. The first pass (the first
    * two when traced) always completes; later ones may stop at the
    * deadline. A traced run alternates traced and untraced passes so the
    * tracing overhead is measured inside the same run. */
  private def timedPasses(spark: SparkSession)(pass: (Int, Boolean, () => Boolean) => Unit): Unit = {
    val minPasses = if (traced) 2 else 1
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var p = 0
    while (p < minPasses || System.nanoTime() < deadline) {
      val spanned = traced && p % 2 == 0
      if (traced) listen(spark, spanned)
      pass(p, spanned, () => p >= minPasses && System.nanoTime() >= deadline)
      sampleHeap()
      p += 1
    }
    if (traced) listen(spark, on = false)
  }

  // ---------------------------------------------------------------- queries

  private def queryWorkload(spark: SparkSession): Double = {
    val dir = kv("data")
    val faces: Seq[(String, Long)] = scala.io.Source.fromFile(kv("faces")).getLines()
      .filter(_.nonEmpty).map { l =>
        val Array(n, c) = l.split("\t"); n -> c.toLong
      }.toSeq
    val unknown = faces.map(_._1).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown faces: ${unknown.mkString(",")}")

    def serve(face: String, expected: Long, pass: Int, spanned: Boolean): Unit =
      op(spark, face, "serve", pass, spanned) { phase =>
        val df = phase("build")(SparkEntry.queries(face)(spark, dir))
        val counted = df.groupBy().count()
        phase("plan")(counted.queryExecution.executedPlan)
        val rows = phase("exec")(counted.collect().head.getLong(0))
        Outcome(rows == expected, Map("rows" -> rows, "expected" -> expected))
      }

    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
      .filter(t => new File(s"$dir/$t.parquet").exists())
      .foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
    setupMarks("tables") = uptime()
    val rng = new Random(seed)
    rng.shuffle(faces).foreach { case (f, e) => serve(f, e, -1, spanned = false) }
    val setup = uptime()
    timedPasses(spark) { (p, spanned, over) =>
      val it = rng.shuffle(faces).iterator
      while (it.hasNext && !over()) {
        val (f, e) = it.next()
        serve(f, e, p, spanned)
      }
    }
    setup
  }

  // ------------------------------------------------------------------ macau

  private final case class MacauData(train: RelationData, test: DataFrame,
                                     cells: DataFrame, nTest: Long, sd: Double,
                                     dir: String, opts: Boolean => Gibbs.Options)

  /** A planted rank-4 problem: row factors are a linear function of dense
    * row features plus noise, column factors are gaussian, and each cell
    * is their product plus N(0, 0.5^2) noise. Each row observes `perRow`
    * distinct columns. `cold` of the rows are cold (every cell in test);
    * of the rest, each cell goes to test with probability 0.2. */
  private def macauData(spark: SparkSession, name: String, rows: Int, cols: Int,
                        perRow: Int, sweeps: Int): MacauData = {
    import spark.implicits._
    val nf = kv("features").toInt
    val kt = 4
    val rng = new Random(seed * 31 + rows)
    val beta = Array.fill(nf, kt)(rng.nextGaussian() / math.sqrt(nf))
    val x = Array.fill(rows, nf)(rng.nextGaussian())
    val u = Array.tabulate(rows, kt) { (i, k) =>
      (0 until nf).map(f => x(i)(f) * beta(f)(k)).sum + 0.3 * rng.nextGaussian()
    }
    val v = Array.fill(cols, kt)(rng.nextGaussian())
    val train = mutable.ArrayBuffer[(Long, Long, Double)]()
    val test = mutable.ArrayBuffer[(Long, Long, Double)]()
    for (i <- 0 until rows) {
      val cold = rng.nextDouble() < kv("cold").toDouble
      val picked = mutable.LinkedHashSet[Int]()
      while (picked.size < perRow) picked += rng.nextInt(cols)
      picked.foreach { j =>
        val y = (0 until kt).map(k => u(i)(k) * v(j)(k)).sum + 0.5 * rng.nextGaussian()
        val cell = (i.toLong, j.toLong, y)
        if (cold || rng.nextDouble() < 0.2) test += cell else train += cell
      }
    }
    val mean = test.map(_._3).sum / test.size
    val sd = math.sqrt(test.map(t => (t._3 - mean) * (t._3 - mean)).sum / test.size)
    // the program reads its inputs from parquet, as a user's would
    val dir = s"$workDir/$name"
    train.toSeq.toDF("row", "col", "v").write.parquet(s"$dir/train")
    test.toSeq.toDF("row", "col", "v").write.parquet(s"$dir/test")
    x.zipWithIndex.map { case (f, i) => (i.toLong, f) }.toSeq.toDF("id", "features")
      .write.parquet(s"$dir/side")
    val side = spark.read.parquet(s"$dir/side")
    val cells = spark.read.parquet(s"$dir/test")
    val rd = RelationData(
      Map("row" -> Entity("row", rows, Some(side)), "col" -> Entity("col", cols)),
      Seq(Relation("r0", spark.read.parquet(s"$dir/train"),
        Seq("row", "col"), Seq("row", "col"), "v")))
    val testDf = cells.select(
      (col("row") * lit(cols.toLong) + col("col")).as("row_id"),
      array(col("row"), col("col")).as("ids"), col("v"))
    def opts(distributed: Boolean) = Gibbs.Options(
      numLatent = kv("k").toInt, burnin = sweeps / 2, samples = sweeps - sweeps / 2,
      seed = seed, distributedFactors = Some(distributed))
    MacauData(rd, testDf, cells, test.size.toLong, sd, dir, opts)
  }

  private def macauWorkload(spark: SparkSession): Double = {
    val entities = Seq("row", "col")

    /** Train in one mode through materialized predictions; the check is
      * that RMSE beats predicting the mean and, for the distributed mode,
      * agrees with the broadcast mode within 20%. */
    def train(data: MacauData, mode: String, pass: Int, spanned: Boolean,
              reference: Option[Double]): (Outcome, Option[Gibbs.Result]) = {
      var res: Option[Gibbs.Result] = None
      // no sweep after a train: the model's factor tables are checkpointed
      // RDD blocks that the score after it still reads
      val o = op(spark, s"train.$mode", s"train.$mode", pass, spanned,
                 sweep = false) { phase =>
        val r = phase("train")(Macau.macau(spark, data.train, data.test,
          data.opts(mode == "distributed")))
        val n = phase("predict")(r.predictions.count())
        res = Some(r)
        val rmse = r.finalRmse
        val agrees = reference.forall(b => math.abs(rmse - b) <= 0.2 * b)
        Outcome(n == data.nTest && rmse < data.sd && agrees,
          Map("rmse" -> rmse, "sd" -> data.sd, "rows" -> n, "expected" -> data.nTest,
              "reference_rmse" -> reference))
      }
      (o, res)
    }

    /** Save, load and predict every test cell from the saved factors. */
    def score(data: MacauData, res: Gibbs.Result, pass: Int, spanned: Boolean): Unit =
      op(spark, "score", "score", pass, spanned) { phase =>
        val path = s"${data.dir}/model"
        phase("save")(Macau.saveModel(path, res))
        val f = phase("load")(Macau.loadModel(spark, path, entities))
        val row = phase("predict")(Macau.predict(spark, f, data.cells, entities)
          .agg(count(lit(1)), sqrt(avg(pow(col("pred") - col("v"), 2)))).head())
        val (n, rmse) = (row.getLong(0), row.getDouble(1))
        Outcome(n == data.nTest && rmse < data.sd,
          Map("rmse" -> rmse, "sd" -> data.sd, "rows" -> n, "expected" -> data.nTest))
      }

    // `modes` is "broadcast" or "broadcast,distributed"; the distributed
    // train is checked against the broadcast one of the same cycle
    val distributed = kv("modes").split(",").contains("distributed")

    def cycle(data: MacauData, pass: Int, spanned: Boolean): Unit = {
      val (b, model) = train(data, "broadcast", pass, spanned, None)
      val ref = b.detail.get("rmse").collect { case d: Double => d }
      if (distributed) train(data, "distributed", pass, spanned, ref)
      model.foreach(score(data, _, pass, spanned))
    }

    val data = macauData(spark, "timed", kv("rows").toInt, kv("cols").toInt,
      kv("per_row").toInt, kv("sweeps").toInt)
    setupMarks("data") = uptime()
    // the warm pass is three full cycles on the timed problem: the first
    // cycle's train runs about three times as long as the steady ones, and
    // the next two are still some 20% and 10% above them
    for (_ <- 0 until 3) cycle(data, -1, spanned = false)
    val setup = uptime()
    timedPasses(spark)((p, spanned, _) => cycle(data, p, spanned))
    setup
  }

  private def uptime(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def execute(): Unit = {
    val loadStart = loadavg()
    val spark = session()
    setupMarks("session") = uptime()
    val setup = workload match {
      case "macau" | "macau_distributed" => macauWorkload(spark)
      case _ => queryWorkload(spark)
    }
    PerfbenchBus.drain(spark.sparkContext)
    ops.foreach { rec =>
      if (rec("traced") == true) {
        val st = listener.get(rec("group").toString)
        rec ++= Seq(
          "jobs" -> st.jobs, "jobs_by_phase" -> st.jobsByPhase, "stages" -> st.stages,
          "tasks" -> st.tasks, "task_s" -> st.runMs / 1e3, "task_cpu_s" -> st.cpuNs / 1e9,
          "gc_s" -> st.gcMs / 1e3, "shuffle_read_bytes" -> st.shuffleRead,
          "shuffle_write_bytes" -> st.shuffleWrite, "spill_bytes" -> st.spill,
          "input_bytes" -> st.input,
          "no_job_s" -> st.noJobSeconds(rec("start_ms").asInstanceOf[Long],
            rec("end_ms").asInstanceOf[Long]))
      }
    }
    val selfS = spans.all.filter(_.parent == -1).map(s => s.op -> spans.selfSeconds(s)).toMap
    ops.zipWithIndex.foreach { case (rec, i) => selfS.get(i).foreach(s => rec("self_s") = s) }
    val host = mutable.LinkedHashMap[String, Any](
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "cpu_canary_s" -> graft.PerfbenchHost.cpuCanary(),
      "membw_canary_s" -> graft.PerfbenchHost.membwCanary(),
      "membw_par_canary_s" -> graft.PerfbenchHost.membwParCanary(),
      "membw_par_threads" -> graft.PerfbenchHost.membwParThreads)
    spark.stop()
    val rec = Map("workload" -> workload, "seed" -> seed, "cores" -> cores,
      "setup_s" -> setup, "setup_marks" -> setupMarks, "heap_mb" -> heapMb, "host" -> host,
      "ops" -> ops)
    Files.writeString(Paths.get(kv("out")), Json.render(rec))
    if (traced) Files.writeString(Paths.get(kv("spans")),
      spans.all.map(s => Json.render(Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "op_name" -> ops(s.op)("op"), "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
        .mkString("", "\n", "\n"))
  }
}
