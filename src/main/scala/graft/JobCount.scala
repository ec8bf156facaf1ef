package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** The Spark jobs a block of driver code starts, counted exactly. A
  * marker job runs before the block and another after it. The listener
  * bus delivers a listener's events in the order they were posted, and
  * a finished job's task and job events are posted before its action
  * returns; so the jobs whose start arrives between the two markers'
  * starts are exactly the block's, with all their tasks' shuffle
  * writes, and no fixed wait is needed. Jobs other threads start while
  * the block runs are counted too. */
object JobCount {

  /** The block's result, the job group ("" outside one) of each job it
    * started, in start order, and the shuffle bytes those jobs wrote. */
  final case class Counted[A](value: A, groups: Seq[String], shuffleBytes: Long) {
    def jobs: Int = groups.size
  }

  private val MarkerKey = "graft.jobcount.marker"

  def apply[A](sc: SparkContext)(block: => A): Counted[A] = {
    val id = s"jobcount-${System.nanoTime()}"
    val (start, end) = (s"$id-start", s"$id-end")
    val started, ended = new CountDownLatch(1)
    val groups = new ConcurrentLinkedQueue[String]()
    val bytes = new AtomicLong(0L)
    @volatile var counting = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        prop(MarkerKey) match {
          case Some(`start`) => counting = true; started.countDown()
          case Some(`end`) => counting = false; ended.countDown()
          case _ => if (counting) groups.add(prop("spark.jobGroup.id").getOrElse(""))
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (counting && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    def marker(name: String, seen: CountDownLatch): Unit = {
      sc.setLocalProperty(MarkerKey, name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, null)
      require(seen.await(60, TimeUnit.SECONDS), s"the listener bus did not deliver marker $name")
    }
    sc.addSparkListener(listener)
    try {
      marker(start, started)
      val value = block
      marker(end, ended)
      Counted(value, groups.toArray(Array.empty[String]).toSeq, bytes.get())
    } finally sc.removeSparkListener(listener)
  }
}
