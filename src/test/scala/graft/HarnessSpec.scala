package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

class HarnessSpec extends SparkSpec {
  test("resolve: known names come back in order with their registry fn") {
    val names = Seq("q_join_tpch_q13", "q_agg_pricing")
    val got = Harness.resolve(names).fold(e => fail(e), identity)
    assert(got.map(_._1) == names)
    assert(got.map(_._2) == names.map(SparkEntry.queries))
  }

  test("resolve: rejects unknown names and names each one") {
    val err = Harness.resolve(
      Seq("q_agg_pricing", "q_no_such_face", "q_typo")).left.toOption
    assert(err.isDefined)
    assert(err.get.contains("q_no_such_face"))
    assert(err.get.contains("q_typo"))
    assert(err.get.contains("valid: "))
  }

  test("sweep: empties persistent RDDs and the cache manager") {
    import spark.implicits._
    val ckpt = (1 to 100).toDF("x").repartition(4).localCheckpoint(true)
    val cached = (1 to 100).toDF("y").persist()
    assert(ckpt.count() == 100 && cached.count() == 100)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    assert(!spark.sharedState.cacheManager.isEmpty)
    Harness.sweep(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("jstr: quote, backslash and every control char are escaped") {
    assert(Harness.jstr("a\"b\\c\nd\re\tf\u0001") ==
      "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001\"")
  }

  test("warm-up list equals the tables Tables loads") {
    // every public (SparkSession, dir) => DataFrame loader on Tables
    val loaders = Tables.getClass.getMethods.toSeq.filter { m =>
      m.getParameterTypes.toSeq == Seq(classOf[SparkSession], classOf[String]) &&
        m.getReturnType == classOf[DataFrame]
    }.map(m => m.getName -> m).toMap
    assert(loaders.keySet == Tables.names.toSet)
    val dir = sf("sf0.001")
    for (n <- Tables.names) {
      val df = loaders(n).invoke(Tables, spark, dir).asInstanceOf[DataFrame]
      assert(df.inputFiles.exists(_.contains(s"/$n.parquet")), n)
    }
  }
}
