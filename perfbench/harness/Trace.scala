package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One file scan of an executed plan: its root path and what it read. */
final case class ScanStat(root: String, files: Long, bytes: Long, rows: Long)

/** Facts read off a DataFrame's physical plan, before and after it ran. */
object PlanStats extends AdaptiveSparkPlanHelper {
  /** Exchanges in the plan as planned (AQE's initial plan). */
  def exchanges(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case e: Exchange => e }.size

  /** File scans of the executed plan, with the driver-side file metrics. */
  def scans(df: DataFrame): Seq[ScanStat] = scansOf(df.queryExecution.executedPlan)

  /** Rows out of the executed plan's joins (candidate pairs). */
  def joinRows(df: DataFrame): Double =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum.toDouble

  def scansOf(p: SparkPlan): Seq[ScanStat] =
    collectWithSubqueries(p) { case f: FileSourceScanExec => f }.map { f =>
      def m(n: String) = f.metrics.get(n).map(_.value).getOrElse(0L)
      ScanStat(f.relation.location.rootPaths.map(_.toString).mkString(","),
        m("numFiles"), m("filesSize"), m("numOutputRows"))
    }
}

/** The traced run's listeners and spans. Spans are the harness's own
  * legs (parse, build, plan, exec, or a workload's named calls) under
  * each op, and the Spark jobs, stages and micro-batches they caused:
  * jobs and stages join to ops by job group, micro-batches to the leg
  * whose interval holds their trigger time. Everything stays in memory
  * until [[writeSpans]].
  */
final class Tracer(spark: SparkSession) {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** A nanoTime stamp as epoch ms, the listener events' clock. */
  def epochMs(ns: Long): Double = epoch0 + (ns - nano0) / 1e6

  final class JobRec(val id: Int, val group: String, val startMs: Long,
                     val stages: Seq[Int]) {
    @volatile var endMs = 0L
  }
  final class TaskAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var schedWaitMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var gcMs = 0L
    var inputBytes = 0L; var inputRows = 0L
  }
  final case class StageSpan(stage: Int, job: Int, startMs: Long, endMs: Long)
  final case class Batch(startMs: Long, ms: Map[String, Long], rows: Long,
                         stateRows: Long, stateBytes: Long)
  final case class Action(atMs: Long, name: String, ok: Boolean, scans: Seq[ScanStat])

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val stageSpans = new java.util.concurrent.ConcurrentLinkedQueue[StageSpan]()
  private val taskByJob = new ConcurrentHashMap[Int, TaskAgg]()
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  private val actions = new java.util.concurrent.ConcurrentLinkedQueue[Action]()
  @volatile private var lastEventMs = System.currentTimeMillis()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, new JobRec(e.jobId, g, e.time, e.stageIds))
      e.stageIds.foreach(stageJob.put(_, e.jobId))
      lastEventMs = System.currentTimeMillis()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      lastEventMs = System.currentTimeMillis()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(stageSubmit.put(e.stageInfo.stageId, _))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (a <- i.submissionTime; b <- i.completionTime)
        stageSpans.add(StageSpan(i.stageId, stageJob.getOrDefault(i.stageId, -1), a, b))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val job = stageJob.getOrDefault(e.stageId, -1)
      val agg = taskByJob.computeIfAbsent(job, _ => new TaskAgg)
      agg.synchronized {
        agg.tasks += 1
        agg.runMs += m.executorRunTime
        agg.cpuNs += m.executorCpuTime
        val submit = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
        agg.schedWaitMs += math.max(0L, e.taskInfo.launchTime - submit)
        agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        agg.gcMs += m.jvmGCTime
        agg.inputBytes += m.inputMetrics.bytesRead
        agg.inputRows += m.inputMetrics.recordsRead
      }
      lastEventMs = System.currentTimeMillis()
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      actions.add(Action(System.currentTimeMillis() - ns / 1000000L, f, ok = true,
        PlanStats.scansOf(qe.executedPlan)))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      actions.add(Action(System.currentTimeMillis(), f, ok = false, Seq.empty))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      batches.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli, ms,
        p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
      lastEventMs = System.currentTimeMillis()
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  attach(spark)

  /** Register the session-scoped listeners on `s` (each new session). */
  def attach(s: SparkSession): Unit = {
    s.listenerManager.register(queryListener)
    s.streams.addListener(streamListener)
  }

  /** Wait (at most 5 s) for the listener bus to go quiet. */
  def finish(): Unit = {
    val until = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() - lastEventMs < 500 &&
        System.currentTimeMillis() < until) Thread.sleep(50)
  }

  private def inLeg(l: Leg, ms: Double): Boolean =
    ms >= epochMs(l.startNs) - 1 && ms <= epochMs(l.endNs) + 1

  private def inOp(op: Op, ms: Double): Boolean =
    ms >= epochMs(op.startNs) - 1 && ms <= epochMs(op.endNs)

  /** True when `ms` falls inside one of `op`'s legs named `leg`. */
  private def inLegs(op: Op, leg: String)(ms: Double): Boolean =
    op.legs.exists(l => l.name == leg && inLeg(l, ms))

  private def opJobs(op: Op): Seq[JobRec] =
    jobs.values.asScala.filter(_.group == op.id).toSeq

  /** Jobs started inside `op`'s legs named `leg` that do not carry the
    * op's job group.
    */
  def outsideGroupIn(op: Op, leg: String): Int =
    jobs.values.asScala.count(j => j.group != op.id && inLegs(op, leg)(j.startMs))

  /** Micro-batches triggered inside the ops' legs named `leg`. */
  def batchesIn(ops: Seq[Op], leg: String): Seq[Batch] =
    batches.asScala.toSeq.filter(b => ops.exists(op => inLegs(op, leg)(b.startMs)))

  /** File scans of the actions that ran inside `op`'s legs named `leg`,
    * as the QueryExecutionListener saw them.
    */
  def scansIn(op: Op, leg: String): Seq[ScanStat] =
    actions.asScala.toSeq.filter(a => inLegs(op, leg)(a.atMs)).flatMap(_.scans)

  /** Jobs of `op` started inside its legs named `leg`. */
  def jobsIn(op: Op, leg: String): Int = opJobs(op).count(j => inLegs(op, leg)(j.startMs))

  /** Spark execution metrics per op (means over ops), plus the
    * tracer's own accounting of op wall time by child spans.
    */
  def layerMetrics(ops: Seq[Op], cores: Int): Map[String, Double] = {
    if (ops.isEmpty) return Map.empty
    val n = ops.size.toDouble
    val per = ops.map { op =>
      val js = opJobs(op)
      val aggs = js.flatMap(j => Option(taskByJob.get(j.id)))
      def sum(f: TaskAgg => Long) = aggs.map(a => a.synchronized(f(a))).sum.toDouble
      val stages = js.flatMap(_.stages).distinct.size
      val tasks = sum(_.tasks)
      Map(
        "exec.jobs" -> js.size.toDouble, "exec.stages" -> stages.toDouble,
        "exec.tasks" -> tasks, "exec.task_run_ms" -> sum(_.runMs),
        "exec.task_cpu_ms" -> sum(_.cpuNs) / 1e6,
        "exec.sched_wait_ms" -> (if (tasks == 0) 0.0 else sum(_.schedWaitMs) / tasks),
        "exec.idle_frac" -> math.max(0.0, 1.0 - sum(_.runMs) / (op.ms * cores)),
        "exec.shuffle_read_bytes" -> sum(_.shuffleRead),
        "exec.shuffle_write_bytes" -> sum(_.shuffleWrite),
        "exec.spill_bytes" -> sum(_.spill), "exec.gc_ms" -> sum(_.gcMs),
        "exec.input_bytes" -> sum(_.inputBytes),
        "exec.jobs_outside_group" ->
          jobs.values.asScala.count(j => j.group != op.id && inOp(op, j.startMs)).toDouble,
        "qe.actions" -> actions.asScala.count(a => inOp(op, a.atMs)).toDouble,
        "qe.failed_actions" -> actions.asScala.count(a => !a.ok && inOp(op, a.atMs)).toDouble,
        "trace.unaccounted_frac" -> math.max(0.0, 1.0 - op.legs.map(_.ms).sum / op.ms))
    }
    per.flatMap(_.keys).distinct.map(k => k -> per.map(_(k)).sum / n).toMap
  }

  /** Write every span as JSON: ops, their legs, and the jobs, stages
    * and micro-batches joined under them. `self_ms` is the span's
    * duration minus the part its children cover.
    */
  def writeSpans(path: String, ops: Seq[Op]): Unit = {
    val out = ArrayBuffer.empty[Raw]
    val stagesByJob = stageSpans.asScala.toSeq.groupBy(_.job)
    val allBatches = batches.asScala.toSeq
    for (op <- ops) {
      val opStart = epochMs(op.startNs); val opEnd = epochMs(op.endNs)
      val legIds = op.legs.zipWithIndex.map { case (l, i) => l -> s"${op.id}.$i" }
      val js = opJobs(op)
      out += Json.obj("id" -> op.id, "parent" -> null, "name" -> s"op:${op.kind}",
        "start_ms" -> opStart, "end_ms" -> opEnd,
        "self_ms" -> (op.ms - Spans.covered(op.legs.toSeq.map(l =>
          (epochMs(l.startNs), epochMs(l.endNs))), opStart, opEnd)),
        "ok" -> op.ok, "attrs" -> op.attrs.toMap)
      for ((l, lid) <- legIds) {
        val ls = epochMs(l.startNs); val le = epochMs(l.endNs)
        val myJobs = js.filter(j => inLeg(l, j.startMs))
        val myBatches = allBatches.filter(b => inLeg(l, b.startMs))
        val kids = myJobs.map(j => (j.startMs.toDouble, math.max(j.endMs, j.startMs).toDouble)) ++
          myBatches.map(b => (b.startMs.toDouble, b.startMs + b.ms.getOrElse("triggerExecution", 0L).toDouble))
        out += Json.obj("id" -> lid, "parent" -> op.id, "name" -> l.name,
          "start_ms" -> ls, "end_ms" -> le, "self_ms" -> (l.ms - Spans.covered(kids, ls, le)))
        for (j <- myJobs) {
          val jid = s"job${j.id}"
          val jEnd = math.max(j.endMs, j.startMs)
          val st = stagesByJob.getOrElse(j.id, Seq.empty)
          out += Json.obj("id" -> jid, "parent" -> lid, "name" -> "job",
            "start_ms" -> j.startMs, "end_ms" -> jEnd,
            "self_ms" -> ((jEnd - j.startMs) - Spans.covered(
              st.map(x => (x.startMs.toDouble, x.endMs.toDouble)), j.startMs, jEnd)))
          for (x <- st)
            out += Json.obj("id" -> s"stage${x.stage}", "parent" -> jid, "name" -> "stage",
              "start_ms" -> x.startMs, "end_ms" -> x.endMs, "self_ms" -> (x.endMs - x.startMs))
        }
        for ((b, i) <- myBatches.zipWithIndex) {
          val d = b.ms.getOrElse("triggerExecution", 0L)
          out += Json.obj("id" -> s"$lid.batch$i", "parent" -> lid, "name" -> "micro_batch",
            "start_ms" -> b.startMs, "end_ms" -> (b.startMs + d), "self_ms" -> d,
            "attrs" -> (b.ms.map { case (k, v) => s"duration.$k" -> v.toDouble } ++ Map(
              "input_rows" -> b.rows.toDouble, "state_rows" -> b.stateRows.toDouble,
              "state_bytes" -> b.stateBytes.toDouble)))
        }
      }
    }
    Files.write(Paths.get(path), Json.of(out.toSeq).getBytes(UTF_8))
  }
}

object Spans {
  /** Length of [lo, hi] covered by the union of `xs`, clipped. */
  def covered(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var end = lo
    var sum = 0.0
    for ((a0, b0) <- xs.sortBy(_._1)) {
      val a = math.max(a0, end); val b = math.min(b0, hi)
      if (b > a) { sum += b - a; end = b }
    }
    sum
  }
}
