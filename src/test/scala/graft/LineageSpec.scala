package graft

import org.apache.spark.sql.functions._

/** Pin for the iterative-loop statistics hazard Lineage.truncate
  * exists for: a bare localCheckpoint inherits the origin plan's
  * sizeInBytes, which SQUARES each round of a state-self-join loop
  * (join stats multiply children) — ~4,000 digits by round 12,
  * BigInteger overflow + 20 s/round planning near round 50. The
  * truncated state must keep planning stats FLAT forever. */
class LineageSpec extends SparkSpec {

  test("truncate keeps loop-state statistics flat across 35 self-join rounds") {
    val s = spark
    import s.implicits._
    var df = Lineage.truncate(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    val bound = BigInt(Long.MaxValue) * 1000000L
    for (i <- 1 to 35) {
      df = Lineage.truncate(
        df.select($"id", ($"v" + 1).as("v"))
          .join(df.select($"id".as("id2"), $"v".as("pv")), $"id" === $"id2")
          .select($"id", $"v"))
      val stats = df.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(stats < bound,
        s"round $i: inherited stats grew to ${stats.toString.length} digits")
    }
    // and the data is still right after 35 rounds
    assert(df.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq == Seq((1L, 45L), (2L, 55L)))
  }

  test("withAqeOff from two threads: each body runs with AQE off, and AQE comes back on") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val key = "spark.sql.adaptive.enabled"
    assert(spark.conf.get(key) === "true")
    val firstInside, secondCalling, firstDone = new CountDownLatch(1)
    @volatile var seenFirst, seenSecond = ""
    val first = new Thread(() => {
      Lineage.withAqeOff(spark) {
        firstInside.countDown()
        secondCalling.await(10, TimeUnit.SECONDS)
        Thread.sleep(200) // lets the second thread reach withAqeOff
        seenFirst = spark.conf.get(key)
      }
      firstDone.countDown()
    })
    val second = new Thread(() => {
      secondCalling.countDown()
      Lineage.withAqeOff(spark) {
        // read only once the first call has restored the setting
        firstDone.await(10, TimeUnit.SECONDS)
        seenSecond = spark.conf.get(key)
      }
    })
    first.start()
    assert(firstInside.await(10, TimeUnit.SECONDS))
    second.start()
    first.join(20000); second.join(20000)
    assert(seenFirst === "false")
    assert(seenSecond === "false", "the second body ran with AQE on")
    assert(spark.conf.get(key) === "true")
  }
}
