package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Where a workload's calls into the program are timed. */
trait Spans {
  def span[T](name: String)(body: => T): T
}

/** Scheduler totals of one span: a named call into one layer. */
final class SpanStats {
  var calls = 0L
  var wallNs = 0L
  var jobs = 0L
  var tasks = 0L
  var taskBusyMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Spans around calls into the program's layers, plus the listener that
  * charges every Spark job a call launches to that call's span.
  *
  * A span is a local property set around the call; Spark copies local
  * properties onto each job (including jobs run from broadcast and
  * subquery threads), so the listener reads the span off the job-start
  * event. Spans do not nest: each traced call sits directly under the
  * benchmark's op.
  */
final class Tracer(sc: SparkContext) extends SparkListener with Spans {
  private val SpanKey = "perfbench.span"
  private val stageSpan = mutable.Map.empty[Int, String]
  private val endedJobs = mutable.Set.empty[Int]
  private val stats = mutable.LinkedHashMap.empty[String, SpanStats]

  private def stat(name: String): SpanStats = stats.getOrElseUpdate(name, new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).map(_.getProperty(SpanKey)).orNull
    if (span != null) {
      e.stageIds.foreach(stageSpan(_) = span)
      stat(span).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    endedJobs += e.jobId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val s = stat(span)
      s.tasks += 1
      s.taskBusyMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Time `body` as span `name` and charge the jobs it launches to it. */
  def span[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = System.nanoTime() - t0
      sc.setLocalProperty(SpanKey, prev)
      synchronized { val s = stat(name); s.calls += 1; s.wallNs += dt }
    }
  }

  /** Block until the listener has seen the end of every job of `group`,
    * so that totals read after an op are complete.
    */
  def drain(group: String): Unit = {
    val ids = sc.statusTracker.getJobIdsForGroup(group)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!synchronized(ids.forall(endedJobs.contains)) && System.nanoTime() < deadline)
      Thread.sleep(1)
  }

  /** Take and clear the totals gathered since the last call. */
  def take(): Map[String, SpanStats] = synchronized {
    val out = stats.toMap
    stats.clear()
    stageSpan.clear()
    endedJobs.clear()
    out
  }
}

/** The no-op span used on untraced runs. */
object Untraced extends Spans {
  def span[T](name: String)(body: => T): T = body
}
