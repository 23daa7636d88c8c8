package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One interval of work on the driver's `nanoTime` clock. Spans of one
  * operation share `trace`; `parent` is the id of the span that caused it
  * (0 for an operation's root span). */
final case class Span(id: Int, parent: Int, trace: String, kind: String, name: String,
                      start: Long, end: Long) {
  def dur: Long = math.max(0L, end - start)
}

/** One timed operation (a catalog query or an MR job) of a traced pass: its
  * wall and the phases the benchmark timed around its calls into graft
  * (`construct`, `plan`, `execute`, or MR progress stages). */
final case class OpWindow(trace: String, name: String, start: Long, end: Long,
                          phases: Seq[(String, Long, Long)])

/** The traced run's only SparkListener. It records jobs, stages, failed
  * tasks and streaming micro-batch progress, then attributes them to the
  * operation whose serial time window they fall in: operations run one at
  * a time, and `MapReduceJob` and the live gates replace job groups and
  * sessions, so time is the one key every job carries. Micro-batches of the
  * live gates arrive through `onOtherEvent` because each gate runs in a
  * child session, whose streaming listener bus posts to the context's bus. */
final class Tracer extends SparkListener {
  import Tracer._

  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  private def ns(ms: Long): Long = ns0 + (ms - ms0) * 1000000L

  private val jobStarts = mutable.Map[Int, (Long, Seq[Int])]()
  private val submittedAt = mutable.Map[Int, Long]()
  private val jobs = ArrayBuffer[Job]()
  private val stages = ArrayBuffer[StageRun]()
  private val batches = ArrayBuffer[Batch]()
  private val taskFailures = ArrayBuffer[Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = (e.time, e.stageIds)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submittedAt(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (st, ids) =>
      // A stage of the job that was not submitted while it ran reused
      // shuffle output an earlier job wrote: Spark skipped it.
      val skipped = ids.count(id => !submittedAt.get(id).exists(_ >= st))
      jobs += Job(e.jobId, ns(st), ns(e.time), ids, skipped)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val end = i.completionTime.getOrElse(System.currentTimeMillis())
    val m = i.taskMetrics
    if (m == null) stages += StageRun(i.stageId, ns(i.submissionTime.getOrElse(end)), ns(end),
      i.numTasks, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    else stages += StageRun(i.stageId, ns(i.submissionTime.getOrElse(end)), ns(end), i.numTasks,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.recordsWritten, m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != Success) taskFailures += ns(e.taskInfo.finishTime)
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent => synchronized {
      val pr = p.progress
      val d = mutable.Map[String, Long]()
      pr.durationMs.forEach((k, v) => d(k) = v.longValue)
      val st = Instant.parse(pr.timestamp).toEpochMilli
      batches += Batch(Option(pr.name).getOrElse(pr.runId.toString), pr.batchId, ns(st),
        ns(st + d.getOrElse("triggerExecution", 0L)), pr.numInputRows, d.toMap)
    }
    case _ =>
  }

  /** Forgets everything recorded so far (between traced passes). */
  def reset(): Unit = synchronized {
    jobs.clear(); stages.clear(); batches.clear(); taskFailures.clear()
  }

  /** Aggregates one traced pass: per-layer totals, and every span of the
    * pass. Call after the listener bus has drained. */
  def aggregate(ops: Seq[OpWindow]): (Map[String, Double], Seq[Span]) = synchronized {
    val slack = 1000000L // event times have millisecond resolution
    def owner(t: Long): Option[OpWindow] = ops.find(o => t >= o.start - slack && t <= o.end + slack)
    val spans = ArrayBuffer[Span]()
    var nextId = 0
    def add(parent: Int, trace: String, kind: String, name: String, s: Long, e: Long): Int = {
      nextId += 1; spans += Span(nextId, parent, trace, kind, name, s, e); nextId
    }
    val m = mutable.Map[String, Double]().withDefaultValue(0.0)
    val batchDurs = ArrayBuffer[Double]()
    for (op <- ops) {
      val root = add(0, op.trace, "op", op.name, op.start, op.end)
      val phaseIds = op.phases.map { case (k, s, e) => (add(root, op.trace, k, op.name, s, e), s, e) }
      def inPhase(t: Long): Int =
        phaseIds.find { case (_, s, e) => t >= s - slack && t <= e + slack }.map(_._1).getOrElse(root)
      val mine = (t: Long) => owner(t).contains(op)
      val myBatches = batches.filter(b => mine(b.start))
      val batchIds = myBatches.map { b =>
        (add(inPhase(b.start), op.trace, "batch", s"${b.query}#${b.id}", b.start, b.end), b)
      }
      val myJobs = jobs.filter(j => mine(j.start))
      val jobIds = myJobs.map { j =>
        val parent = batchIds.find { case (_, b) => j.start >= b.start - slack && j.start <= b.end + slack }
          .map(_._1).getOrElse(inPhase(j.start))
        (add(parent, op.trace, "job", s"job ${j.id}", j.start, j.end), j)
      }
      val myStages = stages.filter(s => mine(s.start))
      for (s <- myStages) {
        val parent = jobIds.find { case (_, j) => j.stageIds.contains(s.id) &&
          s.start >= j.start - slack && s.start <= j.end + slack }.map(_._1).getOrElse(inPhase(s.start))
        add(parent, op.trace, "stage", s"stage ${s.id}", s.start, s.end)
      }
      val constructPhase = op.phases.find(_._1 == "construct")
      m("operators.construct_jobs") += constructPhase.fold(0)(p =>
        myJobs.count(j => j.start >= p._2 - slack && j.start <= p._3 + slack))
      m("scheduler.jobs") += myJobs.size
      m("scheduler.stages_skipped") += myJobs.map(_.skipped).sum
      m("scheduler.failed_tasks") += taskFailures.count(mine)
      m("streaming.batches") += myBatches.size
      m("streaming.input_rows") += myBatches.map(_.rows).sum
      for (b <- myBatches) {
        batchDurs += b.phases.getOrElse("triggerExecution", 0L).toDouble
        for ((k, metric) <- Seq("addBatch" -> "addbatch_ms", "walCommit" -> "walcommit_ms",
                                "latestOffset" -> "latestoffset_ms", "queryPlanning" -> "queryplanning_ms",
                                "commitOffsets" -> "commitoffsets_ms"))
          m(s"streaming.$metric") += b.phases.getOrElse(k, 0L).toDouble
      }
      for (s <- myStages) {
        m("scheduler.stages") += 1
        m("scheduler.tasks") += s.tasks
        m("scheduler.task_cpu_s") += s.cpuNs / 1e9
        m("scheduler.task_run_s") += s.runMs / 1e3
        m("scheduler.gc_s") += s.gcMs / 1e3
        m("shuffle.write_mb") += s.shuffleWrite / Mb
        m("shuffle.read_mb") += s.shuffleRead / Mb
        m("shuffle.records") += s.shuffleRecords
        m("shuffle.spill_mb") += s.spill / Mb
        m("scan.input_mb") += s.inputBytes / Mb
        m("scan.input_rows") += s.inputRows
        m("write.output_mb") += s.outputBytes / Mb
      }
    }
    val wall = ops.map(o => (o.end - o.start) / 1e9).sum
    m("scheduler.cpu_share") = if (wall > 0) m("scheduler.task_cpu_s") / wall else 0.0
    m("streaming.batch_p50_ms") = Stats.quantile(batchDurs.toSeq, 0.5)
    m("streaming.batch_p90_ms") = Stats.quantile(batchDurs.toSeq, 0.9)
    // Self time: a span's duration minus the part of it its children cover.
    val children = spans.groupBy(_.parent)
    for (s <- spans) {
      val covered = Stats.union(children.get(s.id).fold(Seq.empty[Span])(_.toSeq).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      m(s"span.${s.kind}.self_s") += (s.dur - covered) / 1e9
    }
    // The share of each operation's wall during which a Spark stage ran;
    // the rest is driver work and scheduling between stages and jobs.
    val byTrace = spans.filter(_.kind == "stage").groupBy(_.trace)
    val inStages = ops.map(o => Stats.union(byTrace.get(o.trace).fold(Seq.empty[Span])(_.toSeq)
      .map(s => (math.max(s.start, o.start), math.min(s.end, o.end))))).sum / 1e9
    m("scheduler.stage_coverage") = if (wall > 0) inStages / wall else 0.0
    (m.toMap, spans.toSeq)
  }
}

object Tracer {
  final case class Job(id: Int, start: Long, end: Long, stageIds: Seq[Int], skipped: Int)
  final case class StageRun(id: Int, start: Long, end: Long, tasks: Int, runMs: Long,
      cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long, shuffleRecords: Long,
      spill: Long, inputBytes: Long, inputRows: Long, outputBytes: Long)
  final case class Batch(query: String, id: Long, start: Long, end: Long, rows: Long,
      phases: Map[String, Long])

  private val Mb = 1024.0 * 1024.0
}

object Stats {
  /** Linear-interpolation quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
