package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracer for the traced run. The driver records one span per
  * operation; the three listener classes below are attached only through
  * `spark.extraListeners`, `spark.sql.queryExecutionListeners` and
  * `spark.sql.streaming.streamingQueryListeners` (set as JVM system
  * properties, so every session the program builds picks them up) and
  * record what Spark reports underneath. Events are attributed to the
  * operation whose span contains their start time: the workload is a
  * closed loop with one client, so at most one operation is running.
  * Job and stage ids restart at 0 in every SparkContext, and a run can
  * build several (`Curate.main` builds and stops its own), so jobs and
  * stages are keyed by (context, id); Spark builds one `TraceListener`
  * per context. Everything stays in memory until the driver writes it
  * out. */
object Trace {
  /** (context number, job or stage id) */
  type Key = (Int, Int)
  final case class Span(id: Int, parent: Int, name: String, startMs: Long, var endMs: Long)
  final case class Job(key: Key, startMs: Long, var endMs: Long, stages: Seq[Key])
  final class StageAgg {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleReadRecords = 0L
    var reduceTasks = 0L
    var emptyReduceTasks = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var outputBytes = 0L
    var outputRecords = 0L
  }
  final case class Phases(startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)
  final case class Batch(timeMs: Long, query: String, inputRows: Long, triggerMs: Long,
                         planningMs: Long, commitMs: Long, stateRows: Long)

  private val lock = new Object
  private var contexts = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Key, Job]
  val stageParents = mutable.Map.empty[Key, Boolean]
  val stages = mutable.Map.empty[Key, StageAgg]
  val completedStages = mutable.Set.empty[Key]
  val queries = mutable.ArrayBuffer.empty[Phases]
  val batches = mutable.ArrayBuffer.empty[Batch]

  def locked[A](f: => A): A = lock.synchronized(f)

  def newContext(): Int = locked { contexts += 1; contexts }

  def open(parent: Int, name: String): Int = locked {
    spans += Span(spans.size, parent, name, System.currentTimeMillis(), -1L)
    spans.size - 1
  }

  def close(id: Int): Unit = locked { spans(id).endMs = System.currentTimeMillis() }

  /** A span with known bounds, e.g. a Curate stage timed from its output. */
  def add(parent: Int, name: String, startMs: Long, endMs: Long): Int = locked {
    spans += Span(spans.size, parent, name, startMs, endMs)
    spans.size - 1
  }
}

class TraceListener extends SparkListener {
  import Trace._

  private val ctx = newContext()

  override def onJobStart(e: SparkListenerJobStart): Unit = locked {
    jobs((ctx, e.jobId)) = Job((ctx, e.jobId), e.time, -1L, e.stageInfos.map(s => (ctx, s.stageId)))
    e.stageInfos.foreach(s => stageParents((ctx, s.stageId)) = s.parentIds.nonEmpty)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = locked {
    jobs.get((ctx, e.jobId)).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = locked {
    completedStages += ((ctx, e.stageInfo.stageId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) locked {
      val s = stages.getOrElseUpdate((ctx, e.stageId), new StageAgg)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      if (stageParents.getOrElse((ctx, e.stageId), false)) {
        s.reduceTasks += 1
        if (m.shuffleReadMetrics.recordsRead == 0) s.emptyReduceTasks += 1
      }
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
      s.outputBytes += m.outputMetrics.bytesWritten
      s.outputRecords += m.outputMetrics.recordsWritten
    }
  }
}

class TraceQueryListener extends QueryExecutionListener {
  import Trace._

  private def record(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    val start = if (p.isEmpty) System.currentTimeMillis() else p.values.map(_.startTimeMs).min
    locked { queries += Phases(start, ms("analysis"), ms("optimization"), ms("planning")) }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

class TraceStreamListener extends StreamingQueryListener {
  import Trace._
  import StreamingQueryListener._

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val t = java.time.Instant.parse(p.timestamp).toEpochMilli
    locked {
      batches += Batch(t, p.id.toString, p.numInputRows, ms("triggerExecution"),
        ms("queryPlanning"), ms("walCommit") + ms("commitOffsets") + ms("commitBatch"),
        p.stateOperators.map(_.numRowsTotal).sum)
    }
  }
}
