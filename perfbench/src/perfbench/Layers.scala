package perfbench

import java.io.PrintWriter

import scala.collection.mutable

/** Turns the traced run's spans and listener records into per-layer
  * metrics. Each Spark job, query execution and stream batch belongs to
  * the operation span (a span whose parent is a round) that contains its
  * start time; stages and tasks belong to the first job that lists them. */
object Layers {
  import Trace._

  final class OpAgg(val span: Span) {
    val jobs = mutable.ArrayBuffer.empty[Job]
    val stageIds = mutable.LinkedHashSet.empty[Key]
    val queries = mutable.ArrayBuffer.empty[Phases]
    val batches = mutable.ArrayBuffer.empty[Batch]
    def wallMs: Long = span.endMs - span.startMs

    /** Operation wall time not covered by any of its jobs. */
    def gapMs: Long = {
      val iv = jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
      var covered = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (s, e) =>
        if (s > hi) { if (hi > lo) covered += hi - lo; lo = s; hi = e }
        else hi = math.max(hi, e)
      }
      if (hi > lo) covered += hi - lo
      math.max(0L, wallMs - covered)
    }
    def stageAggs: Seq[StageAgg] = stageIds.toSeq.filter(completedStages).flatMap(stages.get)
  }

  private def opAggs(): Seq[OpAgg] = locked {
    val rounds = spans.filter(_.parent < 0).map(_.id).toSet
    val aggs = spans.filter(s => rounds(s.parent)).map(new OpAgg(_)).toSeq
    def owner(t: Long): Option[OpAgg] = aggs.find(a => a.span.startMs <= t && t <= a.span.endMs)
    val claimed = mutable.Set.empty[Key]
    jobs.values.toSeq.sortBy(_.key).foreach { j =>
      owner(j.startMs).foreach { a =>
        a.jobs += j
        j.stages.filterNot(claimed).foreach { s => claimed += s; a.stageIds += s }
      }
    }
    queries.foreach(p => owner(p.startMs).foreach(_.queries += p))
    batches.foreach(b => owner(b.timeMs).foreach(_.batches += b))
    aggs
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-layer metrics as a JSON object: counts and times are per round
    * (totals over the run divided by the number of rounds). */
  def summarize(rounds: Int): String = {
    val aggs = opAggs()
    val r = math.max(1, rounds).toDouble
    val st = aggs.flatMap(_.stageAggs)
    val mb = 1024.0 * 1024.0
    def perRound(x: Double) = x / r
    val reduceTasks = st.map(_.reduceTasks).sum
    val lastBatch = aggs.flatMap(_.batches.groupBy(_.query).values.map(_.maxBy(_.timeMs)))
    val m = mutable.LinkedHashMap[String, Double](
      "catalyst.query_executions" -> perRound(aggs.map(_.queries.size).sum),
      "catalyst.analysis_ms" -> perRound(aggs.flatMap(_.queries).map(_.analysisMs).sum),
      "catalyst.optimization_ms" -> perRound(aggs.flatMap(_.queries).map(_.optimizationMs).sum),
      "catalyst.planning_ms" -> perRound(aggs.flatMap(_.queries).map(_.planningMs).sum),
      "scheduler.jobs" -> perRound(aggs.map(_.jobs.size).sum),
      "scheduler.stages" -> perRound(aggs.map(_.stageAggs.size).sum),
      "scheduler.tasks" -> perRound(st.map(_.tasks).sum),
      "scheduler.job_ms" -> perRound(aggs.flatMap(_.jobs).filter(_.endMs >= 0)
        .map(j => j.endMs - j.startMs).sum),
      "scheduler.driver_gap_ms" -> perRound(aggs.map(_.gapMs).sum),
      "exec.task_run_ms" -> perRound(st.map(_.runMs).sum),
      "exec.task_cpu_ms" -> perRound(st.map(_.cpuNs).sum / 1e6),
      "exec.gc_ms" -> perRound(st.map(_.gcMs).sum),
      "exchange.shuffle_write_mb" -> perRound(st.map(_.shuffleWriteBytes).sum / mb),
      "exchange.shuffle_read_mb" -> perRound(st.map(_.shuffleReadBytes).sum / mb),
      "exchange.spill_mb" -> perRound(st.map(_.spillBytes).sum / mb),
      "exchange.records_per_reduce_task" ->
        (if (reduceTasks == 0) 0.0 else st.map(_.shuffleReadRecords).sum.toDouble / reduceTasks),
      "exchange.empty_reduce_tasks" -> perRound(st.map(_.emptyReduceTasks).sum),
      "Tables.scan_mb" -> perRound(st.map(_.inputBytes).sum / mb),
      "Tables.scan_rows" -> perRound(st.map(_.inputRecords).sum),
      "sink.output_mb" -> perRound(st.map(_.outputBytes).sum / mb),
      "sink.output_rows" -> perRound(st.map(_.outputRecords).sum),
      "streaming.microbatches" -> perRound(aggs.map(_.batches.size).sum),
      "streaming.batch_p50_ms" -> median(aggs.flatMap(_.batches).map(_.triggerMs.toDouble)),
      "streaming.planning_ms" -> perRound(aggs.flatMap(_.batches).map(_.planningMs).sum),
      "streaming.commit_ms" -> perRound(aggs.flatMap(_.batches).map(_.commitMs).sum),
      "streaming.state_rows" -> perRound(lastBatch.map(_.stateRows).sum))
    m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  /** All spans, one JSON object per line: rounds, operations (with their
    * layer totals) and the jobs under each operation. */
  def writeSpans(path: String, runId: String): Unit = {
    val aggs = opAggs().map(a => a.span.id -> a).toMap
    val w = new PrintWriter(path)
    try locked {
      var next = spans.size
      spans.foreach { s =>
        val extra = aggs.get(s.id).map { a =>
          val st = a.stageAggs
          s""","jobs":${a.jobs.size},"stages":${st.size},"tasks":${st.map(_.tasks).sum},""" +
            s""""driver_gap_ms":${a.gapMs},"query_executions":${a.queries.size},""" +
            s""""planning_ms":${a.queries.map(_.planningMs).sum},""" +
            s""""shuffle_write_bytes":${st.map(_.shuffleWriteBytes).sum},""" +
            s""""microbatches":${a.batches.size}"""
        }.getOrElse("")
        w.println(s"""{"run":"$runId","span":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
          s""""start_ms":${s.startMs},"end_ms":${s.endMs}$extra}""")
        aggs.get(s.id).foreach(_.jobs.foreach { j =>
          w.println(s"""{"run":"$runId","span":$next,"parent":${s.id},"name":"job ${j.key._1}.${j.key._2}",""" +
            s""""start_ms":${j.startMs},"end_ms":${j.endMs}}""")
          next += 1
        })
      }
    } finally w.close()
  }
}
