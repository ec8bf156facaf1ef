package graft.bdf

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Bad input fails at Gibbs.train entry, naming the relation (or
  * entity), the column and one offending row — not as a Cholesky
  * failure inside an executor. */
class ValidationSpec extends SparkSpec {

  private def cells(bad: Option[(Long, Long, Double)] = None): DataFrame = {
    val s = spark
    import s.implicits._
    ((for (i <- 0L until 6L; j <- 0L until 4L) yield (i, j, (i - j).toDouble))
      .filterNot(c => bad.exists(b => b._1 == c._1 && b._2 == c._2)) ++ bad)
      .toDF("row", "col", "v")
  }

  private def rd(df: DataFrame, side: Option[DataFrame] = None) = RelationData(
    Map("row" -> Entity("row", 6, side), "col" -> Entity("col", 4)),
    Seq(Relation("ratings", df, Seq("row", "col"), Seq("row", "col"), "v")))

  private def train(data: RelationData, distributed: Boolean = false) = {
    val s = spark
    import s.implicits._
    val test = Seq((0L, Seq(0L, 0L), 0.0)).toDF("row_id", "ids", "v")
    intercept[IllegalArgumentException](Gibbs.train(spark, data, test,
      Gibbs.Options(numLatent = 2, burnin = 1, samples = 1,
        distributedFactors = Some(distributed)))).getMessage
  }

  test("a non-finite value is rejected with its relation, column and row") {
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity)) {
      val msg = train(rd(cells(Some((3L, 2L, bad)))))
      assert(msg.contains("relation ratings: non-finite value in column v"), msg)
      assert(msg.contains("at row (row=3, col=2, v="), msg)
    }
  }

  test("a mode id outside [0, numItems) is rejected with its entity and row") {
    val msg = train(rd(cells(Some((2L, 4L, 1.0)))))
    assert(msg.contains("relation ratings: id outside [0, 4) of entity col in column col"), msg)
    assert(msg.contains("at row (row=2, col=4, v=1.0)"), msg)
    val neg = train(rd(cells(Some((-1L, 0L, 1.0)))))
    assert(neg.contains("of entity row in column row"), neg)
  }

  test("an empty relation is rejected") {
    val msg = train(rd(cells().limit(0)))
    assert(msg.contains("relation ratings is empty"), msg)
  }

  test("a non-finite side feature is rejected with its entity, column and row, both modes") {
    val s = spark
    import s.implicits._
    val dense = (0 until 6).map(i =>
      (i.toLong, Array(1.0, if (i == 4) Double.NaN else i.toDouble))).toDF("id", "features")
    for (distributed <- Seq(false, true)) {
      val msg = train(rd(cells(), Some(dense)), distributed)
      assert(msg.contains("entity row side table: non-finite value in column features"), msg)
      assert(msg.contains("at row (id=4, features=[1.0,NaN])"), msg)
    }
    val sparse = (0 until 6).map(i =>
      (i.toLong, Seq(i % 3), Seq(if (i == 5) Double.NegativeInfinity else 1.0)))
      .toDF("id", "indices", "values")
    for (distributed <- Seq(false, true)) {
      val msg = train(rd(cells(), Some(sparse)), distributed)
      assert(msg.contains("entity row side table: non-finite value in column values"), msg)
      assert(msg.contains("at row (id=5, values=[-Infinity])"), msg)
    }
  }
}
