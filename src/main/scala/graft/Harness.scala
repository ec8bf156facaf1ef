package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session setup every main shares: one session builder, one
  * warm-up, one per-query cache sweep, and query-name resolution that
  * runs before any SparkContext starts.
  *
  * Env knobs: `SPARK_GRAFT_CPUS` (local cores and shuffle partitions,
  * default 4) and `SPARK_GRAFT_SF_DIR` (testdata dir for the mains
  * that take none on the command line, default sf0.1). */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
  val sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def session(master: String = s"local[$cpus]"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS) — Spark 4 only reads it
      // as a long (see graft.Tables.events normalization).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // production injection path: the custom rule/strategy and every
      // graft_* kernel arrive through SparkSessionExtensions at config
      // time, not just the in-process spark.experimental fallback
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Reads every table once so the first timed query touching each
    * file isn't charged the one-time footer-read/codegen startup. */
  def warm(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach(t => Tables.load(spark, dir, t).count())

  /** Untimed, between queries: drop the localCheckpoint RDD blocks and
    * Dataset/table caches a query leaves behind. Left in place they
    * compete for executor memory with every later query, so a
    * query's time would depend on its neighbours (round-12
    * q_graph_pagerank benched 4.75 s in-session vs 1.6-1.8 s solo;
    * docs/bench-tail-triage.md). No query reuses a cache across calls
    * (artifacts are on disk, content-keyed), so the sweep can never
    * slow a correct query. */
  def sweep(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
  }

  /** Looks every name up in [[SparkEntry.queries]]; Left names each
    * unknown one and lists the valid names. */
  def resolve(names: Seq[String]): Either[String, Seq[(String, Query)]] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.isEmpty) Right(names.map(n => n -> SparkEntry.queries(n)))
    else Left(s"unknown query name(s): ${unknown.mkString(", ")}\nvalid: " +
      SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
  }

  /** Exit for a bad command line: message to stderr, exit code 2. */
  def usage(msg: String): Nothing = {
    System.err.println(msg)
    sys.exit(2)
  }

  /** 1/5/15-minute system load, recorded at both ends of a timed run
    * so a delta is attributable to host load in-artifact (the round-6
    * -> 7 "regression" hunt proved unchanged code got slower under a
    * loaded host). */
  def loadavg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .trim.split(" ").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Nil }

  /** JSON string literal: backslash, quote, and ALL control chars
    * (<0x20) escaped — a raw tab or CR in an oracle SQL string would
    * otherwise make every JSON reader of oracle_sql.json (tools/check.py
    * included) fail, and with it the whole correctness check. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
