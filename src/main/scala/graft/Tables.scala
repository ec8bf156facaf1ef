package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated testdata (TESTDATA.md).
  * Every query fn re-reads from `dir` — no caching, so each
  * `SparkEntry.queries` entry is self-contained (SURVEY.md §7.4.6). */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events.ts has shipped in two parquet encodings across testdata
    * generations; normalize both to a microsecond TimestampType column:
    *  - TIMESTAMP(NANOS): Spark 4 refuses to map it to TimestampType
    *    (PARQUET_TYPE_ILLEGAL); sessions set
    *    spark.sql.legacy.parquet.nanosAsLong=true (see Harness.session/specs),
    *    so ts arrives as LongType nanoseconds → `ts DIV 1000` (floor,
    *    identical to DuckDB's ns->us truncation post-1970).
    *  - timestamp[us] without timezone: Spark reads TIMESTAMP_NTZ, which
    *    time functions like unix_micros() reject. Sessions run UTC, so the
    *    NTZ→TIMESTAMP cast is instant-identical (and DuckDB, which has no
    *    NTZ distinction for these files, agrees bit-for-bit). */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // the NTZ->TIMESTAMP cast reinterprets wall-clock fields in the
        // SESSION timezone: only instant-correct under UTC. Every graft
        // entrypoint sets UTC, but a caller building its own session
        // without it would silently shift all event times by the local
        // offset — make the invariant self-enforcing instead.
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "")
        require(tz == "UTC",
          s"events.ts is TIMESTAMP_NTZ: the TimestampType cast needs " +
            s"spark.sql.session.timeZone=UTC, session has '$tz'")
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** The table each loader below reads — [[Harness.warm]]'s list;
    * HarnessSpec checks the two stay equal. */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
