package graft

/** Plan-capture tool for the optimization rounds: writes the
  * `.explain("formatted")` output of named registry queries to files
  * (`plans/<tag>/<query>_<suffix>.txt`) so before/after plan-shape
  * claims in OPTIMIZATION_r*.md are checkable without running Spark.
  *
  *   sbt> runMain graft.PlanDump plans/r18 before q_graph_link_predict ...
  *
  * Same session as [[Bench]] (env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS; plans/r18 and plans/r19 were dumped at
  * SPARK_GRAFT_CPUS=32). Every name is checked before the session
  * starts; an unknown one exits with code 2.
  * Queries whose construction runs eager jobs
  * (localCheckpoint loops) dump the FINAL plan — the loop bodies are
  * documented in the per-face scaladoc instead. Not part of the
  * driver contract. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r18")
    val suffix = args.lift(1).getOrElse("before")
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val queries = Harness.resolve(names).fold(Harness.usage, identity)
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for ((n, fn) <- queries) {
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"), txt)
        println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $n failed: ${e.getMessage}")
      }
      // checkpoint blocks from one query's construction must not
      // skew the next dump's session
      Harness.sweep(spark)
    }
    spark.stop()
  }
}
