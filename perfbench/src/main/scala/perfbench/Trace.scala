package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Everything the Spark listener buses report about one query, read from
  * outside the program. Times from the buses are epoch milliseconds. */
final class QueryEvents {
  /** (startMs, endMs, startedDuringConstruction) per job */
  val jobs = mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var taskGcMs = 0L
  var taskDeserMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var inputB = 0L
  var outputB = 0L
  var outputRows = 0L
  var peakTaskMem = 0L
  var executions = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
}

/** Phase local property: jobs submitted while the program builds the
  * DataFrame (`q.fn`) carry "construct"; the sink's jobs carry "sink". */
object Phase {
  val Key = "perfbench.phase"
  val Construct = "construct"
  val Sink = "sink"
}

/** The light listener kept in untraced runs: only the largest
  * `peakExecutionMemory` of any task. */
final class PeakListener extends SparkListener {
  @volatile var peak = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) peak = math.max(peak, m.peakExecutionMemory)
  }
  def take(): Long = synchronized { val p = peak; peak = 0L; p }
}

/** The traced run's collector: a SparkListener for jobs, stages and task
  * metrics plus a QueryExecutionListener for Catalyst phase times. Callers
  * drain the listener bus before `take()` so every event of the query has
  * arrived. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private var cur = new QueryEvents
  private val open = mutable.Map.empty[Int, (Long, Boolean)]

  def take(): QueryEvents = synchronized {
    val q = cur
    cur = new QueryEvents
    q
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).map(_.getProperty(Phase.Key)).orNull
    open(e.jobId) = (e.time, phase == Phase.Construct)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (t0, c) => cur.jobs += ((t0, e.time, c)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { cur.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    cur.tasks += 1
    if (m != null) {
      cur.taskRunMs += m.executorRunTime
      cur.taskCpuNs += m.executorCpuTime
      cur.taskGcMs += m.jvmGCTime
      cur.taskDeserMs += m.executorDeserializeTime
      cur.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      cur.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      cur.inputB += m.inputMetrics.bytesRead
      cur.outputB += m.outputMetrics.bytesWritten
      cur.outputRows += m.outputMetrics.recordsWritten
      cur.peakTaskMem = math.max(cur.peakTaskMem, m.peakExecutionMemory)
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    cur.executions += 1
    cur.analysisMs += ms("analysis")
    cur.optimizationMs += ms("optimization")
    cur.planningMs += ms("planning")
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
}

object Intervals {
  /** Length of the union of [a, b) intervals clipped to [lo, hi). */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    for ((a0, b0) <- iv.sortBy(_._1)) {
      val a = math.max(a0, end)
      val b = math.min(b0, hi)
      if (b > a) { total += b - a; end = b }
    }
    total
  }
}
