package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `op` is the index of the serve
  * or call the span belongs to; `parent` is -1 for the op's root span. Times are
  * epoch nanoseconds (wall clock anchored once, advanced by nanoTime). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long)

/** Spans kept in memory; written out once, when the run ends. */
final class Spans {
  private val anchorWallNs = System.currentTimeMillis() * 1000000L
  private val anchorNano = System.nanoTime()
  val all = mutable.ArrayBuffer[Span]()

  def nowNs(): Long = anchorWallNs + (System.nanoTime() - anchorNano)

  def add(parent: Int, op: Int, name: String, startNs: Long, endNs: Long): Int = {
    val id = all.size
    all += Span(id, parent, op, name, startNs, endNs)
    id
  }

  /** A span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a0, b) =>
      val a = math.max(a0, end)
      if (b > a) { covered += b - a; end = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }
}

/** Spark work attributed to one job group (one serve or call) and, inside
  * it, to the phase the submitting thread was in. Attribution uses the
  * job's own properties (`spark.jobGroup.id`, [[OpListener.PhaseKey]]),
  * captured by Spark when the job is submitted, so no counter is read
  * across an asynchronous boundary. */
final class OpStats {
  var jobs = 0
  val jobsByPhase = mutable.Map[String, Int]().withDefaultValue(0)
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  /** (submit, end) epoch milliseconds of every job of the group. */
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  /** Wall seconds of [start, end] during which no job of the group ran. */
  def noJobSeconds(startMs: Long, endMs: Long): Double = {
    var covered = 0L
    var cur = startMs
    jobIntervals.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a0, b) =>
        val a = math.max(a0, cur)
        if (b > a) { covered += b - a; cur = b }
      }
    math.max(0L, endMs - startMs - covered) / 1e3
  }
}

object OpListener {
  val PhaseKey = "perfbench.phase"
  val GroupPrefix = "perfbench-"
}

/** Attributes every job, stage and task of a `perfbench-` job group to
  * that group. Callbacks run on Spark's single listener thread; readers
  * call [[org.apache.spark.PerfbenchBus.drain]] first and then read under
  * the same lock. */
final class OpListener extends SparkListener {
  import OpListener._

  private val byGroup = mutable.Map[String, OpStats]()
  private val stageGroup = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, (String, Long)]()

  private def groupOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(GroupPrefix))

  private def stats(g: String) = byGroup.getOrElseUpdate(g, new OpStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      val st = stats(g)
      st.jobs += 1
      st.jobsByPhase(Option(e.properties.getProperty(PhaseKey)).getOrElse("")) += 1
      jobStart(e.jobId) = (g, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      stats(g).jobIntervals += ((t0, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      stats(g).stages += 1
      stageGroup(e.stageInfo.stageId) = g
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val st = stats(g)
      st.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.diskBytesSpilled
        st.input += m.inputMetrics.bytesRead
      }
    }
  }

  def get(group: String): OpStats = synchronized(byGroup.getOrElse(group, new OpStats))
}

/** Minimal JSON rendering for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
