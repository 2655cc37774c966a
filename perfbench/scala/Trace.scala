package org.apache.spark.graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval of the traced run. `kind` is one of pass, graph.load,
  * query, build, plan, exec, job, stage; times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, kind: String, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Per-stage totals over its finished tasks. */
final class StageAgg {
  var submitted = 0L; var completed = 0L
  var tasks = 0L; var useful = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var waitMs = 0L
  var resultBytes = 0L; var shReadBytes = 0L; var shWriteBytes = 0L
  var fetchWaitMs = 0L; var spillBytes = 0L
}

final case class JobRec(id: Int, group: String, start: Long, var end: Long, stages: Seq[Int])

/** A planned query execution: the (start epoch ms, duration ms) of each of
  * its planning phases, and the broadcasts it built. */
final case class PlanRec(phases: Seq[(Long, Long)], broadcastBytes: Seq[Long]) {
  def start: Long = phases.map(_._1).min
  def planMs: Long = phases.map(_._2).sum
}

/** Records jobs, stages, tasks, block drops and query executions as the
  * Spark listener bus delivers them. Readers call [[LayerTrace.snapshot]]
  * only after draining the bus, so no lock is held across a pass. */
final class LayerTrace extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.HashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]
  private var droppedBlocks = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val j = JobRec(e.jobId, group, e.time, -1L, e.stageIds)
    jobs += j; jobById(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg).submitted =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg).completed =
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val sr = m.shuffleReadMetrics
      if (m.inputMetrics.recordsRead + sr.recordsRead > 0) a.useful += 1
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
      a.resultBytes += m.resultSize
      a.shReadBytes += sr.localBytesRead + sr.remoteBytesRead
      a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.fetchWaitMs += sr.fetchWaitTime
      a.spillBytes += m.diskBytesSpilled
    }
    if (a.submitted > 0) a.waitMs += math.max(0L, e.taskInfo.launchTime - a.submitted)
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && !info.storageLevel.useMemory) droppedBlocks += 1
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values.toSeq
    if (phases.nonEmpty) {
      val bc = mutable.ArrayBuffer.empty[Long]
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _: ReusedExchangeExec => ()
        case b: BroadcastExchangeExec =>
          bc += b.metrics.get("dataSize").map(_.value).getOrElse(0L); walk(b.child)
        case other => other.children.foreach(walk); other.subqueries.foreach(walk)
      }
      try walk(qe.executedPlan) catch { case _: Throwable => () }
      val rec = PlanRec(phases.map(ph => (ph.startTimeMs, ph.durationMs)), bc.toSeq)
      synchronized { plans += rec }
    }
  }

  def snapshot: (Seq[JobRec], Map[Int, Int], Map[Int, StageAgg], Seq[PlanRec], Long) = synchronized {
    (jobs.map(_.copy()).toSeq, stageJob.toMap, stages.toMap, plans.toSeq, droppedBlocks)
  }
}

/** Client-side timing of one traced pass, in epoch milliseconds. */
final case class QueryTimes(name: String, module: String, start: Double, buildEnd: Double, end: Double)
final case class PassTimes(index: Int, wallS: Double, start: Double, loadEnd: Double, end: Double,
    queries: Seq[QueryTimes], cachedMb: Double, checkpointMb: Double,
    droppedBlocks: Long, driverGcS: Double)

/** Turns one traced pass into spans and per-layer metrics. */
object Rollup {
  val modules = Seq("graph", "algos", "dedup", "sim", "functions", "pipeline", "streaming", "multimodal")

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) { if (!curA.isNaN) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the union of its children. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.toSeq.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - covered(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)), s.start, s.end))
    }.toMap
  }

  /** The pass's per-layer metrics, its spans, and per query its build,
    * exec, job, task and gap figures. */
  def apply(p: PassTimes, trace: LayerTrace)
      : (Map[String, Double], Seq[Span], Map[String, Map[String, Double]]) = {
    val (allJobs, stageJob, stageAggs, plans, _) = trace.snapshot
    val prefix = s"p${p.index}|"
    val inPass = (t: Double) => t >= p.start && t <= p.end
    val jobs = allJobs.filter(j => j.group != null && j.group.startsWith(prefix) && j.end >= 0)
    val unattributed = allJobs.count(j => j.group == null && inPass(j.start.toDouble))
    def phaseOf(j: JobRec): (String, String) = {
      val parts = j.group.split('|'); (parts(1), if (parts.length > 2) parts(2) else "")
    }
    val jobsOf = jobs.groupBy(phaseOf)
    val passStages = jobs.flatMap(j => j.stages.filter(s => stageJob.get(s).contains(j.id)))
      .flatMap(s => stageAggs.get(s).filter(_.tasks > 0).map(s -> _))
    val stageByJob = passStages.groupBy { case (s, _) => stageJob(s) }
    def aggOf(js: Seq[JobRec]): Seq[StageAgg] = js.flatMap(j => stageByJob.getOrElse(j.id, Nil).map(_._2))
    val aggs = passStages.map(_._2)
    def sum(f: StageAgg => Long): Double = aggs.map(f).sum.toDouble
    val ivs = (js: Seq[JobRec]) => js.map(j => (j.start.toDouble, j.end.toDouble))

    // spans: pass > graph.load | query > build | exec > plan | job > stage
    val spans = mutable.ArrayBuffer.empty[Span]
    def add(parent: Int, kind: String, name: String, a: Double, b: Double): Int = {
      val id = spans.size; spans += Span(id, parent, kind, name, a, b); id
    }
    val passId = add(-1, "pass", s"p${p.index}", p.start, p.end)
    val phaseSpans = mutable.ArrayBuffer.empty[(Int, Double, Double, Seq[JobRec])]
    val loadId = add(passId, "graph.load", "load", p.start, p.loadEnd)
    phaseSpans += ((loadId, p.start, p.loadEnd, jobsOf.getOrElse(("load", ""), Nil)))
    p.queries.foreach { q =>
      val qid = add(passId, "query", q.name, q.start, q.end)
      val b = add(qid, "build", q.name, q.start, q.buildEnd)
      val e = add(qid, "exec", q.name, q.buildEnd, q.end)
      phaseSpans += ((b, q.start, q.buildEnd, jobsOf.getOrElse((q.name, "build"), Nil)))
      phaseSpans += ((e, q.buildEnd, q.end, jobsOf.getOrElse((q.name, "exec"), Nil)))
    }
    val passPlans = plans.filter(pl => inPass(pl.start.toDouble))
    phaseSpans.foreach { case (pid, a, b, js) =>
      // one span per planning phase: analysis runs when a query is built,
      // optimization and physical planning when it executes
      passPlans.flatMap(_.phases).filter { case (t, _) => t >= a && t < b }
        .foreach { case (t, d) => add(pid, "plan", "plan", t.toDouble, t.toDouble + d) }
      js.foreach { j =>
        val jid = add(pid, "job", s"job${j.id}", j.start.toDouble, j.end.toDouble)
        stageByJob.getOrElse(j.id, Nil).foreach { case (sid, s) =>
          add(jid, "stage", s"stage$sid", s.submitted.toDouble, math.max(s.submitted, s.completed).toDouble)
        }
      }
    }
    val self = selfTimes(spans.toSeq)
    // the client thread's blocking path: the self time of every driver span
    // plus the planning and job time under each phase span, unclipped, so a
    // job or plan that runs past its phase adds to the path. It matches the
    // pass's own monotonic-clock wall time when every job and plan lies
    // within the phase that issued it.
    val driverKinds = Set("pass", "graph.load", "query", "build", "exec")
    val kids = spans.toSeq.groupBy(_.parent)
    val pathMs = spans.filter(s => driverKinds(s.kind)).map(s => self(s.id)).sum +
      phaseSpans.map { case (pid, _, _, _) =>
        covered(kids.getOrElse(pid, Nil).map(k => (k.start, k.end)),
          Double.NegativeInfinity, Double.PositiveInfinity) }.sum
    val passMs = p.end - p.start

    val m = mutable.LinkedHashMap.empty[String, Double]
    val builds = p.queries.map(q => (q, jobsOf.getOrElse((q.name, "build"), Nil)))
    m("query.build_s") = p.queries.map(q => q.buildEnd - q.start).sum / 1e3
    m("query.build_jobs") = builds.map(_._2.size).sum.toDouble
    m("query.build_self_s") = builds.map { case (q, js) =>
      (q.buildEnd - q.start) - covered(ivs(js), q.start, q.buildEnd) }.sum / 1e3
    def gapMs(q: QueryTimes): Double = {
      val js = jobsOf.getOrElse((q.name, "build"), Nil) ++ jobsOf.getOrElse((q.name, "exec"), Nil)
      (q.end - q.start) - covered(ivs(js), q.start, q.end)
    }
    m("scheduler.gap_s") = p.queries.map(gapMs).sum / 1e3
    m("driver.result_mb") = sum(_.resultBytes) / 1e6
    m("catalyst.plan_s") = passPlans.map(_.planMs).sum / 1e3
    m("catalyst.plans") = passPlans.size.toDouble
    m("scheduler.jobs") = jobs.size.toDouble
    m("scheduler.stages") = aggs.size.toDouble
    m("scheduler.tasks") = sum(_.tasks)
    m("scheduler.task_wait_s") = sum(_.waitMs) / 1e3
    m("scheduler.useful_task_frac") = if (sum(_.tasks) > 0) sum(_.useful) / sum(_.tasks) else 0.0
    m("scheduler.unattributed_jobs") = unattributed.toDouble
    m("executor.task_s") = sum(_.runMs) / 1e3
    m("executor.cpu_s") = sum(_.cpuNs) / 1e9
    m("executor.par") = sum(_.runMs) / passMs
    m("executor.gc_s") = sum(_.gcMs) / 1e3
    m("shuffle.read_mb") = sum(_.shReadBytes) / 1e6
    m("shuffle.write_mb") = sum(_.shWriteBytes) / 1e6
    m("shuffle.fetch_wait_s") = sum(_.fetchWaitMs) / 1e3
    m("shuffle.spill_mb") = sum(_.spillBytes) / 1e6
    m("broadcast.mb") = passPlans.flatMap(_.broadcastBytes).sum / 1e6
    m("broadcast.count") = passPlans.map(_.broadcastBytes.size).sum.toDouble
    m("graph.load_s") = (p.loadEnd - p.start) / 1e3
    m("graph.load_jobs") = jobsOf.getOrElse(("load", ""), Nil).size.toDouble
    m("blockmanager.cached_mb") = p.cachedMb
    m("blockmanager.checkpoint_mb") = p.checkpointMb
    m("blockmanager.dropped_blocks") = p.droppedBlocks.toDouble
    m("driver.gc_s") = p.driverGcS
    m("trace.path_residual_s") = math.abs(pathMs - p.wallS * 1e3) / 1e3
    modules.foreach { mod =>
      val qs = p.queries.filter(_.module == mod)
      val js = qs.flatMap(q => jobsOf.getOrElse((q.name, "build"), Nil) ++ jobsOf.getOrElse((q.name, "exec"), Nil))
      m(s"$mod.wall_s") = qs.map(q => q.end - q.start).sum / 1e3
      m(s"$mod.jobs") = js.size.toDouble
      m(s"$mod.task_s") = aggOf(js).map(_.runMs).sum / 1e3
      m(s"$mod.gap_s") = qs.map(gapMs).sum / 1e3
    }
    val perQuery = p.queries.map { q =>
      val (bj, ej) = (jobsOf.getOrElse((q.name, "build"), Nil), jobsOf.getOrElse((q.name, "exec"), Nil))
      q.name -> Map(
        "build_s" -> (q.buildEnd - q.start) / 1e3, "exec_s" -> (q.end - q.buildEnd) / 1e3,
        "build_jobs" -> bj.size.toDouble, "jobs" -> (bj.size + ej.size).toDouble,
        "task_s" -> aggOf(bj ++ ej).map(_.runMs).sum / 1e3, "gap_s" -> gapMs(q) / 1e3)
    }.toMap
    (m.toMap, spans.toSeq, perQuery)
  }
}
