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

  /** The message of a train with `side` on entity row, per mode. */
  private def sideFault(side: DataFrame): Seq[(Boolean, String)] =
    Seq(false, true).map(d => d -> train(rd(cells(), Some(side)), d))

  private def sparseSide(id: Long, indices: Seq[Int], values: Seq[Double]): DataFrame = {
    val s = spark
    import s.implicits._
    ((0 until 6).filterNot(_ == id).map(i => (i.toLong, Seq(i % 3), Seq(1.0))) :+
      ((id, indices, values))).toDF("id", "indices", "values")
  }

  private def denseSide(id: Long, features: Array[Double]): DataFrame = {
    val s = spark
    import s.implicits._
    ((0 until 6).filterNot(_ == id).map(i => (i.toLong, Array(1.0, i.toDouble))) :+
      ((id, features))).toDF("id", "features")
  }

  private def assertFault(side: DataFrame, expected: String): Unit =
    for ((distributed, msg) <- sideFault(side))
      assert(msg.contains(expected), s"distributed=$distributed: $msg")

  test("a repeated or unsorted sparse index is rejected, both modes") {
    assertFault(sparseSide(3, Seq(1, 1), Seq(1.0, 2.0)), "entity row side table: repeated or " +
      "unsorted index in column indices at row (id=3, indices=[1,1])")
    assertFault(sparseSide(3, Seq(2, 0), Seq(1.0, 2.0)), "entity row side table: repeated or " +
      "unsorted index in column indices at row (id=3, indices=[2,0])")
  }

  test("sparse indices and values of different lengths are rejected, both modes") {
    assertFault(sparseSide(2, Seq(0, 1), Seq(1.0)),
      "entity row side table: indices and values of lengths 2 and 1 in column indices at row (id=2, indices=[0,1])")
    assertFault(sparseSide(2, Seq(0), Seq(1.0, 2.0)),
      "entity row side table: indices and values of lengths 1 and 2 in column indices at row (id=2, indices=[0])")
  }

  test("a negative sparse index is rejected, both modes") {
    assertFault(sparseSide(4, Seq(-1, 2), Seq(1.0, 2.0)),
      "entity row side table: negative index in column indices at row (id=4, indices=[-1,2])")
  }

  test("dense side rows of different widths are rejected, both modes") {
    assertFault(denseSide(2, Array(1.0, 2.0, 3.0)), "entity row side table: width 3, not 2 " +
      "like the first row in column features at row (id=2, features=[1.0,2.0,3.0])")
    assertFault(denseSide(2, Array(1.0)), "entity row side table: width 1, not 2 " +
      "like the first row in column features at row (id=2, features=[1.0])")
  }

  test("a side id outside [0, numItems) is rejected, both modes") {
    assertFault(denseSide(6, Array(1.0, 2.0)),
      "entity row side table: id outside [0, 6) in column id at row (id=6)")
    assertFault(sparseSide(-1, Seq(0), Seq(1.0)),
      "entity row side table: id outside [0, 6) in column id at row (id=-1)")
  }

  test("a null side array is rejected, both modes") {
    assertFault(denseSide(1, null),
      "entity row side table: null array in column features at row (id=1, features=null)")
    assertFault(sparseSide(1, null, Seq(1.0)),
      "entity row side table: null array in column indices at row (id=1, indices=null)")
    assertFault(sparseSide(1, Seq(0), null),
      "entity row side table: null array in column values at row (id=1, values=null)")
  }
}
