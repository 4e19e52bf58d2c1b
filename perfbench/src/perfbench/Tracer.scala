package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import Harness.{PassRun, QueryRun, Release, fromEpochMs}

/** Listener pair for the traced segment. Jobs and stages are attributed
  * to the client's construct/action span through the local property the
  * client sets before each call; tasks through their stage. Catalyst
  * phases come from each finished QueryExecution's planning tracker and
  * are attributed to the span their analysis started in. Events are kept
  * in memory and turned into spans and per-layer sums when the run ends. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, JobEv]()
  private val stages = new ConcurrentHashMap[Int, StageEv]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  private val plans = new ConcurrentLinkedQueue[PlanEv]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).orNull
    jobs.put(e.jobId, JobEv(e.jobId, span, fromEpochMs(e.time), e.stageIds))
    e.stageIds.foreach(id => stages.putIfAbsent(id, StageEv(id, e.jobId)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = fromEpochMs(e.time))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      s.submitted = e.stageInfo.submissionTime.map(fromEpochMs).getOrElse(Harness.now())
      s.ran = true
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      s.completed = e.stageInfo.completionTime.map(fromEpochMs).getOrElse(Harness.now())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    tasks.add(TaskEv(e.stageId, fromEpochMs(i.launchTime), fromEpochMs(i.finishTime),
      failed = !i.successful,
      runS = metric(_.executorRunTime) / 1e3,
      cpuS = metric(_.executorCpuTime) / 1e9,
      gcS = metric(_.jvmGCTime) / 1e3,
      shuffleWrite = metric(_.shuffleWriteMetrics.bytesWritten),
      shuffleRead = metric(_.shuffleReadMetrics.totalBytesRead),
      fetchWaitS = metric(_.shuffleReadMetrics.fetchWaitTime) / 1e3,
      spillMem = metric(_.memoryBytesSpilled),
      spillDisk = metric(_.diskBytesSpilled),
      inputBytes = metric(_.inputMetrics.bytesRead),
      inputRecords = metric(_.inputMetrics.recordsRead),
      outputBytes = metric(_.outputMetrics.bytesWritten)))
  }

  private def recordPlan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (name, p) =>
      (name, fromEpochMs(p.startTimeMs), fromEpochMs(p.endTimeMs))
    }
    if (phases.nonEmpty) plans.add(PlanEv(phases))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Client spans (query, construct, action, release) of the traced
    * passes, keyed by the same "pass/query/phase" ids the jobs carry. */
  private def clientSpans(queries: Seq[QueryRun]): Map[String, (Double, Double)] =
    queries.flatMap { q =>
      val id = s"${q.pass}/${q.name}"
      Seq(id -> (q.start, q.end), s"$id/construct" -> (q.start, q.constructEnd),
        s"$id/action" -> (q.constructEnd, q.end))
    }.toMap

  /** A stage belongs to the first job that listed it, if it ran. */
  private def owned(stageId: Int, jobId: Int): Boolean =
    Option(stages.get(stageId)).exists(s => s.ran && s.jobId == jobId)

  private def stageSpan(stageId: Int): Option[String] =
    Option(stages.get(stageId)).flatMap(s => Option(jobs.get(s.jobId))).flatMap(j => Option(j.span))

  /** The client span a plan's analysis started in, if any. */
  private def planSpan(p: PlanEv, spans: Map[String, (Double, Double)]): Option[String] = {
    val t = p.phases.map(_._2).min
    spans.collectFirst {
      case (id, (s, e)) if (id.endsWith("/construct") || id.endsWith("/action")) &&
        t >= s - 0.001 && t <= e + 0.001 => id
    }
  }

  /** Per-layer sums for each traced pass and each query; the run's
    * value of a metric is its median over the traced passes. */
  def layers(cores: Int, passes: Seq[PassRun], queries: Seq[QueryRun],
             releases: Seq[Release]): Map[String, Any] = {
    val spans = clientSpans(queries)
    val taskList = tasks.asScala.toSeq
    val jobList = jobs.values.asScala.toSeq.filter(_.span != null)
    val planList = plans.asScala.toSeq.map(p => p -> planSpan(p, spans))
    val tasksBySpan = taskList.groupBy(t => stageSpan(t.stageId).orNull)
    val jobsBySpan = jobList.groupBy(_.span)
    val plansBySpan = planList.collect { case (p, Some(s)) => s -> p }.groupMap(_._1)(_._2)

    def phase(ps: Seq[PlanEv], name: String): Double =
      ps.flatMap(_.phases).collect { case (`name`, s, e) => e - s }.sum

    /** Sums over a set of span ids that together cover [start, end]. */
    def sums(ids: Seq[String], start: Double, end: Double,
             constructIds: Seq[String]): mutable.LinkedHashMap[String, Double] = {
      val ts = ids.flatMap(id => tasksBySpan.getOrElse(id, Nil))
      val js = ids.flatMap(id => jobsBySpan.getOrElse(id, Nil))
      val ps = ids.flatMap(id => plansBySpan.getOrElse(id, Nil))
      val cts = constructIds.flatMap(id => tasksBySpan.getOrElse(id, Nil))
      val constructS = constructIds.map(spans).map { case (s, e) => e - s }.sum
      val constructJobCover = constructIds.map { id =>
        val (s, e) = spans(id)
        cover(jobsBySpan.getOrElse(id, Nil).map(j => (j.start, j.end)), s, e)
      }.sum
      val wall = end - start
      val stageIds = js.flatMap(j => j.stageIds.filter(id => owned(id, j.id)))
      mutable.LinkedHashMap(
        "operators.construct_s" -> constructS,
        "operators.construct_self_s" -> (constructS - constructJobCover),
        "operators.construct_jobs" -> constructIds.map(id => jobsBySpan.getOrElse(id, Nil).size).sum.toDouble,
        "catalyst.analysis_s" -> phase(ps, "analysis"),
        "catalyst.optimizer_s" -> phase(ps, "optimization"),
        "catalyst.planning_s" -> phase(ps, "planning"),
        "exec.jobs" -> js.size.toDouble,
        "exec.stages" -> stageIds.size.toDouble,
        "exec.tasks" -> ts.size.toDouble,
        "exec.task_run_s" -> ts.map(_.runS).sum,
        "exec.task_cpu_s" -> ts.map(_.cpuS).sum,
        "exec.task_gc_s" -> ts.map(_.gcS).sum,
        "exec.task_wait_s" -> ts.map { t =>
          Option(stages.get(t.stageId)).map(s => math.max(0.0, t.launch - s.submitted)).getOrElse(0.0)
        }.sum,
        "exec.busy_frac" -> (if (wall > 0) ts.map(_.runS).sum / (wall * cores) else 0.0),
        "exec.driver_idle_s" -> (wall - cover(ts.map(t => (t.launch, t.finish)), start, end)),
        "exec.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        "exec.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
        "exec.shuffle_fetch_wait_s" -> ts.map(_.fetchWaitS).sum,
        "exec.spill_mem_bytes" -> ts.map(_.spillMem).sum.toDouble,
        "exec.spill_disk_bytes" -> ts.map(_.spillDisk).sum.toDouble,
        "exec.tasks_failed" -> ts.count(_.failed).toDouble,
        "sources.input_bytes" -> ts.map(_.inputBytes).sum.toDouble,
        "sources.input_records" -> ts.map(_.inputRecords).sum.toDouble,
        "sources.layout_write_bytes" -> cts.map(_.outputBytes).sum.toDouble,
        "sources.result_bytes" -> (ts.map(_.outputBytes).sum - cts.map(_.outputBytes).sum).toDouble)
    }

    val perPass = passes.map { p =>
      val qs = queries.filter(_.pass == p.index)
      val ids = qs.flatMap(q => Seq(s"${q.pass}/${q.name}/construct", s"${q.pass}/${q.name}/action"))
      val rs = releases.filter(_.pass == p.index)
      val m = sums(ids, p.start, p.end, qs.map(q => s"${q.pass}/${q.name}/construct"))
      m("memo.entries_peak") = qs.map(_.memoEntries).maxOption.getOrElse(0).toDouble
      m("memo.bytes_peak") = qs.map(_.memoBytes).maxOption.getOrElse(0L).toDouble
      m("memo.release_s") = rs.map(r => r.end - r.start).sum
      m("memo.persistent_rdds_after_release") = rs.map(_.persistentAfter).maxOption.getOrElse(0).toDouble
      m.toMap
    }
    val perQuery = queries.map { q =>
      val id = s"${q.pass}/${q.name}"
      val m = sums(Seq(s"$id/construct", s"$id/action"), q.start, q.end, Seq(s"$id/construct"))
      val actionPlans = plansBySpan.getOrElse(s"$id/action", Nil)
      val actionCatalyst = actionPlans.flatMap(_.phases).map { case (_, s, e) => e - s }.sum
      val (as, ae) = spans(s"$id/action")
      val actionExec = cover(jobsBySpan.getOrElse(s"$id/action", Nil).map(j => (j.start, j.end)), as, ae)
      Map("name" -> q.name, "pass" -> q.pass, "latency_s" -> (q.end - q.start),
        "construct_s" -> (q.constructEnd - q.start),
        "action_catalyst_s" -> actionCatalyst, "action_exec_s" -> actionExec,
        "unattributed_s" -> math.max(0.0, (ae - as) - actionCatalyst - actionExec),
        "error" -> q.error.orNull,
        "memo.entries" -> q.memoEntries, "memo.bytes" -> q.memoBytes) ++ m
    }
    val unattributedTasks = tasksBySpan.getOrElse(null, Nil).size
    Map("per_pass" -> perPass, "per_query" -> perQuery,
      "unattributed_tasks" -> unattributedTasks,
      "plans_unattributed" -> planList.count(_._2.isEmpty))
  }

  /** Spans (run, pass, query, construct, action, release, job, stage,
    * catalyst phase) of the traced passes, one JSON object a line, each
    * with its self time: duration minus the part its children cover. */
  def writeSpans(path: String, runId: String, runStart: Double, runEnd: Double,
                 passes: Seq[PassRun], queries: Seq[QueryRun], releases: Seq[Release]): Unit = {
    final case class Span(id: String, parent: String, kind: String, name: String,
                          start: Double, end: Double, attrs: Map[String, Any] = Map.empty)
    val out = mutable.Buffer.empty[Span]
    val spans = clientSpans(queries)
    out += Span("run", null, "run", runId, runStart, runEnd)
    passes.foreach(p => out += Span(s"p${p.index}", "run", "pass", p.index.toString, p.start, p.end))
    queries.foreach { q =>
      val id = s"${q.pass}/${q.name}"
      out += Span(id, s"p${q.pass}", "query", q.name, q.start, q.end,
        Map("error" -> q.error.orNull))
      out += Span(s"$id/construct", id, "construct", q.name, q.start, q.constructEnd)
      out += Span(s"$id/action", id, "action", q.name, q.constructEnd, q.end)
    }
    releases.foreach(r => out += Span(s"${r.pass}/release/${r.family}", s"p${r.pass}",
      "release", r.family, r.start, r.end))
    jobs.values.asScala.filter(j => j.span != null && spans.contains(j.span)).foreach { j =>
      out += Span(s"job${j.id}", j.span, "job", j.id.toString, j.start, j.end)
      j.stageIds.filter(id => owned(id, j.id)).map(stages.get).foreach { s =>
        val ts = tasks.asScala.filter(_.stageId == s.id)
        out += Span(s"stage${s.id}", s"job${j.id}", "stage", s.id.toString, s.submitted,
          s.completed, Map("tasks" -> ts.size, "task_run_s" -> ts.map(_.runS).sum))
      }
    }
    plans.asScala.zipWithIndex.foreach { case (p, i) =>
      planSpan(p, spans).foreach { parent =>
        p.phases.foreach { case (name, s, e) =>
          out += Span(s"plan$i/$name", parent, "catalyst", name, s, e)
        }
      }
    }
    val children = out.groupBy(_.parent)
    val w = Files.newBufferedWriter(Paths.get(path))
    try out.foreach { s =>
      val covered = cover(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq, s.start, s.end)
      w.write(mapper.writeValueAsString(Map("run_id" -> runId, "id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_s" -> s.start, "end_s" -> s.end,
        "self_s" -> ((s.end - s.start) - covered)) ++ s.attrs))
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class JobEv(id: Int, span: String, start: Double, stageIds: Seq[Int]) {
    @volatile var end: Double = start
  }
  final case class StageEv(id: Int, jobId: Int) {
    @volatile var submitted: Double = 0.0
    @volatile var completed: Double = 0.0
    @volatile var ran: Boolean = false
  }
  final case class TaskEv(stageId: Int, launch: Double, finish: Double, failed: Boolean,
      runS: Double, cpuS: Double, gcS: Double, shuffleWrite: Long, shuffleRead: Long,
      fetchWaitS: Double, spillMem: Long, spillDisk: Long, inputBytes: Long,
      inputRecords: Long, outputBytes: Long)
  final case class PlanEv(phases: Seq[(String, Double, Double)])

  def attach(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  /** Length of the union of `intervals` clipped to [start, end]. */
  def cover(intervals: Seq[(Double, Double)], start: Double, end: Double): Double = {
    val clipped = intervals.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    clipped.foreach { case (s, e) =>
      if (cs.isNaN || s > ce) { if (!cs.isNaN) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }
}
