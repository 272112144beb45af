package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval at a layer boundary. `group` ties together the spans of
  * one key pass or one micro-batch; times are ms on the wall clock, the
  * clock Spark stamps its listener events with. */
final case class Span(id: Long, parent: Long, group: String, layer: String,
    name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Wall clock in fractional ms, monotonic within the run. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory span store. Spans are only kept when tracing is on; the
  * harness times every call the same way either way, so the traced and
  * the plain run differ only by the listeners and this store. */
object Trace {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = if (on) spans.add(s)

  /** Parent span and group of sink writes issued right now. The writers
    * run inside tasks, which in local mode share this JVM. */
  @volatile var sinkParent: Long = 0L
  @volatile var sinkGroup: String = ""

  /** Time `f` as a span; `f` gets the span's id. When `spark` is given,
    * Spark jobs that `f` starts carry the job group `pb-<id>`. */
  def span[T](parent: Long, group: String, layer: String, name: String,
      spark: org.apache.spark.sql.SparkSession = null)(f: Long => T)
      : (T, Span) = {
    val id = newId()
    if (spark != null)
      spark.sparkContext.setJobGroup(s"pb-$id", name, interruptOnCancel = false)
    val t0 = Clock.nowMs
    val r = try f(id) finally {
      if (spark != null) spark.sparkContext.clearJobGroup()
    }
    val s = Span(id, parent, group, layer, name, t0, Clock.nowMs)
    record(s)
    (r, s)
  }

  def save(path: java.nio.file.Path, jobs: Iterable[Span]): Unit = {
    val all = spans.asScala.toSeq ++ jobs
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(Json.write(Map("id" -> s.id, "parent" -> s.parent,
        "group" -> s.group, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end)))
      w.newLine()
    } finally w.close()
  }
}

final case class JobRec(id: Int, group: String, start: Long,
    stages: Seq[Int], var end: Long = -1L)

final case class TaskRec(stage: Int, launch: Long, finish: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, bytesRead: Long,
    recordsRead: Long, shuffleWrite: Long, shuffleWriteNs: Long,
    shuffleRead: Long, fetchWaitMs: Long, spill: Long, peakMem: Long,
    resultSize: Long)

/** Job, stage and task records, attributed by job group. */
class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val stagesRun = new ConcurrentLinkedQueue[Int]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, g, e.time, e.stageIds))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesRun.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
      m.diskBytesSpilled, m.peakExecutionMemory, m.resultSize))
  }
}

final case class QeRec(start: Long, planMs: Long, scanMs: Long)

/** Catalyst phase times and scan time of every executed query. */
class PlanListener extends QueryExecutionListener {
  val recs = new ConcurrentLinkedQueue[QeRec]()

  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec => walk(q.plan)(f)
      case _ =>
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val plan = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val start = if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.startTimeMs).min
    var scan = 0L
    walk(qe.executedPlan) {
      case s: FileSourceScanExec =>
        scan += s.metrics.get("scanTime").map(_.value).getOrElse(0L)
      case _ =>
    }
    recs.add(QeRec(start, plan, scan))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

/** Listeners attached from outside the program, and the per-layer
  * figures derived from them and from the spans. */
class Tracer(spark: org.apache.spark.sql.SparkSession) {
  val jobsL = new JobListener
  val plans = new PlanListener
  spark.sparkContext.addSparkListener(jobsL)
  spark.listenerManager.register(plans)

  /** Deliver every listener event posted so far. */
  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  def codegen: (Double, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .compileTime / 1e6,
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double,
      hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN) { curS = s; curE = e }
        else if (s > curE) { total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Job spans for the given job groups: a job's span runs from its
    * submission to its completion, clipped to the span that set the
    * group (listener times are whole ms). */
  def jobSpans(groups: Map[String, Span]): Seq[Span] =
    jobsL.jobs.values().asScala.toSeq.filter(j => j.end >= 0)
      .flatMap { j =>
        groups.get(j.group).map { p =>
          Span(-j.id.toLong - 1, p.id, p.group, "scheduler", s"job ${j.id}",
            math.max(j.start.toDouble, p.start),
            math.max(math.max(j.start.toDouble, p.start),
              math.min(j.end.toDouble, p.end)))
        }
      }

  /** Scheduler, task, scan, shuffle and collect figures over the jobs
    * whose group is in `groups`, plus catalyst figures over queries
    * planned inside [lo, hi]. */
  def layerFigures(groups: Set[String], lo: Double,
      hi: Double): Map[String, Double] = {
    val js = jobsL.jobs.values().asScala.toSeq
      .filter(j => groups(j.group) && j.end >= 0)
    val jobIds = js.map(_.id).toSet
    val stageIds = jobsL.stageJob.asScala
      .collect { case (s, j) if jobIds(j) => s.intValue }.toSet
    val ts = jobsL.tasks.asScala.toSeq.filter(t => stageIds(t.stage))
    val tasksByStage = ts.groupBy(_.stage)
    val waitMs = js.map { j =>
      val iv = j.stages.flatMap(s => tasksByStage.getOrElse(s, Nil))
        .map(t => (t.launch.toDouble, t.finish.toDouble))
      (j.end - j.start) - covered(iv, j.start.toDouble, j.end.toDouble)
    }.sum
    val jobMs = js.map(j => (j.end - j.start).toDouble).sum
    val qes = plans.recs.asScala.toSeq.filter(q => q.start >= lo && q.start <= hi)
    def sumL(f: TaskRec => Long): Double = ts.map(f).sum.toDouble
    Map(
      "catalyst.plan_ms" -> qes.map(_.planMs).sum.toDouble,
      "tables.scan_ms" -> qes.map(_.scanMs).sum.toDouble,
      "scheduler.jobs" -> js.size.toDouble,
      "scheduler.stages" -> jobsL.stagesRun.asScala.count(stageIds).toDouble,
      "scheduler.tasks" -> ts.size.toDouble,
      "scheduler.wait_ms" -> waitMs,
      "scheduler.ms_per_job" -> (if (js.isEmpty) 0.0 else jobMs / js.size),
      "tables.bytes_read" -> sumL(_.bytesRead),
      "tables.rows_read" -> sumL(_.recordsRead),
      "shuffle.write_bytes" -> sumL(_.shuffleWrite),
      "shuffle.read_bytes" -> sumL(_.shuffleRead),
      "shuffle.write_ms" -> sumL(_.shuffleWriteNs) / 1e6,
      "shuffle.fetch_wait_ms" -> sumL(_.fetchWaitMs),
      "spill.bytes" -> sumL(_.spill),
      "executor.run_ms" -> sumL(_.runMs),
      "executor.cpu_ms" -> sumL(_.cpuNs) / 1e6,
      "executor.gc_ms" -> sumL(_.gcMs),
      "executor.peak_mem_mb" ->
        (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max / 1048576.0),
      "collect.result_bytes" -> sumL(_.resultSize))
  }

  /** Self time of each span: its length minus the union of its
    * children's, children clipped to the parent. */
  def selfTimes(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.dur - covered(c, s.start, s.end))
    }.toMap
  }

  /** Persisted and checkpointed blocks held by the session, in MB. */
  def storageMb: Double =
    spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1048576.0
}
