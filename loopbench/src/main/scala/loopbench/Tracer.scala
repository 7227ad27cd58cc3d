package loopbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Spans around the benchmark's calls into the library, and a listener
  * that charges Spark's work to them.
  *
  * A span sets the local property [[Spans.Prop]] on the calling thread;
  * Spark copies local properties into every job the call submits. The
  * listener keys each job, its stages and its tasks by (span, call site),
  * so work inside one library call can be split by the line that ran it
  * (for `MicroBatchRunner`: head probe, sink write, sink recount) without
  * touching the library. The call site of a SQL job is its execution's
  * (adaptive execution submits stages from a pool thread whose stack no
  * longer shows the caller); other jobs use their result stage's name.
  */
final class Spans(sc: SparkContext) {
  val records = mutable.ArrayBuffer.empty[(String, Long, Long)]

  def apply[T](name: String)(body: => T): T = {
    sc.setLocalProperty(Spans.Prop, name)
    val start = System.currentTimeMillis()
    try body
    finally {
      records += ((name, start, System.currentTimeMillis()))
      sc.setLocalProperty(Spans.Prop, null)
    }
  }
}

object Spans {
  val Prop = "loopbench.span"
}

final class Tracer extends SparkListener {

  final class Agg {
    var jobs, stages, tasks, runMs, cpuNs, shuffleRead, shuffleWrite, spill = 0L
    var inputRows, inputBytes, outputRows = 0L
  }

  /** (span, call site) of each finished job with its start and end time. */
  private val jobs = mutable.ArrayBuffer.empty[(String, String, Long, Long)]
  private val aggs = mutable.Map.empty[(String, String), Agg]
  private val running = mutable.Map.empty[Int, ((String, String), Long)]
  private val stageKey = mutable.Map.empty[Int, (String, String)]
  private val sqlSite = mutable.Map.empty[String, String]

  private def agg(k: (String, String)) = aggs.getOrElseUpdate(k, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    val span = if (p == null) null else p.getProperty(Spans.Prop)
    if (span != null) {
      val site = Option(p.getProperty("spark.sql.execution.id")).flatMap(sqlSite.get)
        .getOrElse(e.stageInfos.maxBy(_.stageId).name)
      val k = (span, site)
      running(e.jobId) = (k, e.time)
      e.stageIds.foreach(stageKey(_) = k)
      agg(k).jobs += 1
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlSite(s.executionId.toString) = s.description
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running.remove(e.jobId).foreach { case ((span, site), start) =>
      jobs += ((span, site, start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach(agg(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageKey.get(e.stageId).filter(_ => m != null).foreach { k =>
      val a = agg(k)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputRows += m.inputMetrics.recordsRead
      a.inputBytes += m.inputMetrics.bytesRead
      a.outputRows += m.outputMetrics.recordsWritten
    }
  }

  /** Sum of the aggregates whose key passes `p`. */
  def total(p: (String, String) => Boolean): Agg = synchronized {
    val t = new Agg
    aggs.foreach { case ((span, site), a) =>
      if (p(span, site)) {
        t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks; t.runMs += a.runMs
        t.cpuNs += a.cpuNs; t.shuffleRead += a.shuffleRead; t.shuffleWrite += a.shuffleWrite
        t.spill += a.spill; t.inputRows += a.inputRows; t.inputBytes += a.inputBytes
        t.outputRows += a.outputRows
      }
    }
    t
  }

  /** Summed wall time of the jobs whose key passes `p`, in seconds. */
  def jobWall(p: (String, String) => Boolean): Double = synchronized {
    jobs.collect { case (s, c, a, b) if p(s, c) => b - a }.sum / 1e3
  }

  /** Seconds of the intervals during which no job of theirs was running. */
  def driverSeconds(intervals: Seq[(Long, Long)], p: (String, String) => Boolean): Double =
    synchronized {
      val busy = jobs.collect { case (s, c, a, b) if p(s, c) => (a, b) }.sortBy(_._1)
      intervals.map { case (from, to) =>
        var covered = 0L; var cursor = from
        busy.foreach { case (a, b) =>
          val lo = math.max(a, cursor); val hi = math.min(b, to)
          if (hi > lo) { covered += hi - lo; cursor = hi }
        }
        (to - from - covered) / 1e3
      }.sum
    }
}
