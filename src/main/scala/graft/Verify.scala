package graft
import java.nio.file.{Files, Paths}
import Harness.jstr
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional trailing names restrict the dump (builder iteration);
    // the driver always calls with exactly (sfDir, outDir)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Harness.sweep(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // build-keyed provenance (round-17 advice item): record the hash
    // of the source tree this dump was built from — sbt runMain
    // recompiles first, so src/main at run time IS the running build.
    // counts.py --at-close recomputes and compares instead of mtimes.
    val srcHash = Provenance.treeHash(Provenance.repoRoot, Seq("src/main"))
    Files.writeString(Paths.get(s"$outDir/provenance.json"),
      s"""{"src_main_hash": "$srcHash"}""")
    spark.stop()
  }
}
