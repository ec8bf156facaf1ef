package graft.bdf

import org.apache.spark.sql.functions._
import graft.Harness

/** Usage example / smoke driver for the factorization engine: factorize
  * the lineitem (partkey x suppkey -> quantity) COO matrix, the exact
  * shape a user of the reference would feed `RelationData(df); macau(rd)`.
  *
  * Run: sbt "runMain graft.bdf.Demo /root/testdata/sf0.001 [distributed]"
  * ("distributed" switches to the factors-as-DataFrames mode — the
  * beyond-broadcast scale path — for a throughput datapoint.)
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // both mode flags are position-independent (args(0) stays the data
    // dir): "Demo <dir> order distributed" and "Demo <dir> distributed
    // order" must mean the same probe
    val distributed = args.drop(1).contains("distributed")
    // "order" mode: factorize (orderkey x suppkey) instead of
    // (partkey x suppkey) — the ORDER domain is what the scale clones
    // actually grow (scale10.py shifts l_orderkey per copy; part/supp
    // ids replicate), so this is the mode that gives a real
    // cells-grow-10x sampler probe (round-15 verdict item: measure
    // the per-sweep cost exponent at the clone, not argue it)
    val orderMode = args.drop(1).contains("order")
    val spark = Harness.session(
      sys.env.getOrElse("SPARK_MASTER", s"local[${Harness.cpus}]"))

    // dense-ish COO: re-key entity ids into contiguous 0-based domains
    val rowCol = if (orderMode) "l_orderkey" else "l_partkey"
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select((dense_rank().over(org.apache.spark.sql.expressions.Window
        .orderBy(rowCol)).cast("long") - 1).as("p"),
        (dense_rank().over(org.apache.spark.sql.expressions.Window
          .orderBy("l_suppkey")).cast("long") - 1).as("s"),
        col("l_quantity").as("v"))
      .groupBy("p", "s").agg(avg("v").as("v"))

    val t0 = System.nanoTime()
    val res = Macau.fit(spark, li, Seq("p", "s"), "v",
      Gibbs.Options(numLatent = 8, burnin = 4, samples = 4, alpha = 1.0, seed = 42L,
        clamp = Some((1.0, 50.0)), distributedFactors = Some(distributed)))
    println(f"[demo] mode=${if (distributed) "distributed" else "broadcast"} " +
      f"train+predict wall: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val sd = li.select(stddev_pop(col("v"))).head().getDouble(0)
    println(f"[demo] test cells: ${res.predictions.count()}%d")
    println(f"[demo] rmse history: ${res.rmseHistory.map(r => f"$r%.4f").mkString(", ")}")
    println(f"[demo] final rmse ${res.finalRmse}%.4f vs value stddev $sd%.4f")
    res.predictions.orderBy("row_id").show(5, truncate = false)

    // model persistence round-trip: save parquet factors, reload, score
    // a handful of cells without retraining (Macau.saveModel/predict)
    val modelDir = java.nio.file.Files.createTempDirectory("demo-model").toString
    Macau.saveModel(modelDir, res)
    val loaded = Macau.loadModel(spark, modelDir, Seq("p", "s"))
    val cells = li.select(col("p"), col("s")).limit(5)
    println("[demo] predictions from the RELOADED model:")
    Macau.predict(spark, loaded, cells, Seq("p", "s")).show(truncate = false)
    spark.stop()
  }
}
