package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. While attached it registers Spark's public
  * listeners (scheduler, query execution, streaming). It keeps spans in
  * memory:
  * the benchmark's own spans around its calls into each layer, plus
  * `plans.*`, `sched.job` and `sched.stage` spans rebuilt from the
  * listener events. Events are attributed to the operation that was
  * running: the client is a single thread, and the listener bus is
  * drained at the end of every operation. */
class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[JobEv]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String, Seq[Int])]()
  private val stages = new ConcurrentLinkedQueue[StageEv]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  private val qes = new ConcurrentLinkedQueue[QeEv]()
  private val progress = new ConcurrentLinkedQueue[ProgEv]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?"))
      jobStarts.put(e.jobId, (e.time.toDouble, site, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (t0, site, stageIds) =
        Option(jobStarts.remove(e.jobId)).getOrElse((e.time.toDouble, "?", Nil))
      jobs.add(JobEv(t0, e.time.toDouble, site, stageIds))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      stages.add(StageEv(s.stageId, s.attemptNumber(), s.numTasks,
        s.submissionTime.getOrElse(0L).toDouble, s.completionTime.getOrElse(0L).toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m == null) tasks.add(TaskEv(e.stageId, i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, 0, 0, 0, failed = true))
      else tasks.add(TaskEv(e.stageId, i.launchTime, i.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
        failed = !i.successful))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def phase(n: String) = ph.get(n).map(p => (p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      val nodes = planNodes(qe.executedPlan)
      qes.add(QeEv(phase("analysis"), phase("optimization"), phase("planning"),
        nodes.map(_.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum).sum,
        nodes.count(_.isInstanceOf[Exchange]),
        nodes.count(_.isInstanceOf[InMemoryTableScanExec])))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue.toDouble }
      if (d.contains("addBatch"))
        progress.add(ProgEv(d.getOrElse("triggerExecution", 0.0), d("addBatch"),
          d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0),
          p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  private def listeners = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    listeners.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    GraftBridge.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    listeners.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  // ---- spans and per-operation accumulators
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ops = mutable.LinkedHashMap.empty[Int, OpStats]
  private val cachedSeen = mutable.Set.empty[Int]

  def span(key: String, name: String, parent: Option[String], start: Double, end: Double): String = {
    val id = if (name == "op") key else s"$key/${spans.size}"
    spans += Span(id, parent, key, name, start, end)
    id
  }

  def beginOp(id: Int, t0: Double): Unit = ops(id) = OpStats(id, t0)

  /** The sink interval of an operation: time in it not covered by any
    * task is scheduling and driver overhead (`sched.nontask_ms`). */
  def markSink(id: Int, s: Double, e: Double): Unit = ops(id).sinks += ((s, e))

  def endOp(id: Int, t1: Double): Unit = {
    GraftBridge.drainListenerBus(spark)
    val o = ops(id)
    val key = s"op-$id"
    span(key, "op", None, o.startMs, t1)
    val inner = spans.filter(s => s.op == key && s.name != "op").toSeq
    def parentAt(t: Double): String =
      inner.find(s => s.start <= t && t <= s.end).map(_.id).getOrElse(key)
    val jobOfStage = mutable.Map.empty[Int, String]
    drain(jobs) { j =>
      o.jobs += j
      val jid = span(key, "sched.job", Some(parentAt(j.start)), j.start, j.end)
      j.stageIds.foreach(jobOfStage(_) = jid)
    }
    val stageSpan = mutable.Map.empty[Int, String]
    drain(stages) { s =>
      o.stages += s
      stageSpan(s.stageId) =
        span(key, "sched.stage", Some(jobOfStage.getOrElse(s.stageId, key)), s.start, s.end)
    }
    drain(tasks) { t =>
      o.tasks += t
      span(key, "exec.task", Some(stageSpan.getOrElse(t.stageId, key)), t.launch, t.finish)
    }
    drain(qes) { q =>
      o.qes += q
      Seq("analysis" -> q.analysis, "optimization" -> q.optimization, "planning" -> q.planning)
        .foreach { case (n, ph) => ph.foreach { case (s, e) =>
          span(key, s"plans.$n", Some(parentAt(s)), s, e) } }
    }
    drain(progress)(o.progress += _)
    val cached = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    o.persistedBytes = cached.map(r => r.memSize + r.diskSize).sum
    o.materializations = cached.count(r => cachedSeen.add(r.id))
  }

  def writeSpans(path: Path): Unit = {
    val lines = spans.map { s =>
      val j = new Json
      j.obj {
        j.field("id", s.id); j.field("parent", s.parent.orNull); j.field("op", s.op)
        j.field("name", s.name); j.field("start_ms", s.start); j.field("end_ms", s.end)
      }
      j.result
    }
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }

  /** Per-layer counters of the traced window, as per-operation means
    * (shares and ratios as they are). */
  def writeLayers(j: Json, tracedWallMs: Double): Unit = {
    val os = ops.values.toSeq
    val n = math.max(1, os.size).toDouble
    val allTasks = os.flatMap(_.tasks)
    val allStages = os.flatMap(_.stages)
    val allJobs = os.flatMap(_.jobs)
    def perOp(x: Double) = x / n
    def isResolve(site: String) = resolveSite.findFirstIn(site).isDefined
    val constructJobs = os.map(o => o.jobs.count(jb =>
      spans.exists(s => s.op == s"op-${o.id}" && s.name == "operators.construct" &&
        s.start <= jb.start && jb.start <= s.end))).sum
    val constructMs = spans.filter(_.name == "operators.construct").map(s => s.end - s.start).sum
    def phaseMs(f: QeEv => Option[(Double, Double)]) =
      os.flatMap(_.qes.flatMap(f)).map { case (s, e) => e - s }.sum
    val nontask = os.map { o =>
      o.sinks.map { case (s, e) => (e - s) - covered(o.tasks.map(t => (t.launch, t.finish)).toSeq, s, e) }.sum
    }.sum
    val taskMs = allTasks.map(_.runMs).sum
    val scans = os.flatMap(_.qes).map(_.scans).sum
    val mats = os.map(_.materializations).sum
    val prog = os.flatMap(_.progress)
    val np = math.max(1, prog.size).toDouble
    val writeTasks = allTasks.filter(_.bytesWritten > 0)
    j.obj {
      j.field("ops", os.size)
      j.field("sources.resolve_jobs", perOp(allJobs.count(jb => isResolve(jb.site))))
      j.field("sources.resolve_ms", perOp(allJobs.filter(jb => isResolve(jb.site)).map(jb => jb.end - jb.start).sum))
      j.field("sources.bytes_read", perOp(allTasks.map(_.bytesRead).sum))
      j.field("sources.write_ms", perOp(writeTasks.map(_.runMs).sum))
      j.field("sources.bytes_written", perOp(allTasks.map(_.bytesWritten).sum))
      j.field("operators.construct_ms", perOp(constructMs))
      j.field("operators.construct_jobs", perOp(constructJobs))
      j.field("plans.analysis_ms", perOp(phaseMs(_.analysis)))
      j.field("plans.optimization_ms", perOp(phaseMs(_.optimization)))
      j.field("plans.planning_ms", perOp(phaseMs(_.planning)))
      j.field("plans.fallback_exprs", perOp(os.flatMap(_.qes).map(_.fallback).sum))
      j.field("plans.exchanges", perOp(os.flatMap(_.qes).map(_.exchanges).sum))
      j.field("sched.jobs", perOp(allJobs.size))
      j.field("sched.stages", perOp(allStages.size))
      j.field("sched.tasks", perOp(allTasks.size))
      j.field("sched.single_task_stage_share",
        if (allStages.isEmpty) 0.0 else allStages.count(_.numTasks == 1).toDouble / allStages.size)
      j.field("sched.nontask_ms", perOp(nontask))
      j.field("sched.failed_tasks", perOp(allTasks.count(_.failed)))
      j.field("sched.stage_retries", perOp(allStages.count(_.attempt > 0)))
      j.field("exec.task_ms", perOp(taskMs))
      j.field("exec.cpu_ms", perOp(allTasks.map(_.cpuNs).sum / 1e6))
      j.field("exec.gc_ms", perOp(allTasks.map(_.gcMs).sum))
      j.field("exec.busy_share", taskMs / (tracedWallMs * Runner.cores))
      j.field("shuffle.write_bytes", perOp(allTasks.map(_.shuffleWrite).sum))
      j.field("shuffle.read_bytes", perOp(allTasks.map(_.shuffleRead).sum))
      j.field("shuffle.fetch_wait_ms", perOp(allTasks.map(_.fetchWaitMs).sum))
      j.field("shuffle.spill_bytes", perOp(allTasks.map(_.spill).sum))
      j.field("cache.persisted_bytes", perOp(os.map(_.persistedBytes).sum))
      j.field("cache.scan_nodes", perOp(scans))
      j.field("cache.reuse_ratio", if (mats == 0) 0.0 else scans.toDouble / mats)
      j.field("streaming.batches", perOp(prog.size))
      j.field("streaming.trigger_ms", prog.map(_.triggerMs).sum / np)
      j.field("streaming.add_batch_ms", prog.map(_.addBatchMs).sum / np)
      j.field("streaming.commit_ms", prog.map(_.commitMs).sum / np)
      j.field("streaming.state_rows", prog.map(_.stateRows).sum / np)
      j.field("streaming.state_bytes", prog.map(_.stateBytes).sum / np)
      j.key("resolve_by_call_site"); j.obj {
        allJobs.filter(jb => isResolve(jb.site)).groupBy(_.site).toSeq.sortBy(_._1).foreach {
          case (site, js) => j.field(site, js.size)
        }
      }
    }
  }
}

object Tracer {
  final case class Span(id: String, parent: Option[String], op: String, name: String,
      start: Double, end: Double)
  final case class JobEv(start: Double, end: Double, site: String, stageIds: Seq[Int])
  final case class StageEv(stageId: Int, attempt: Int, numTasks: Int, start: Double, end: Double)
  final case class TaskEv(stageId: Int, launch: Double, finish: Double, runMs: Long, cpuNs: Long,
      gcMs: Long, bytesRead: Long, bytesWritten: Long, shuffleWrite: Long,
      shuffleRead: Long, fetchWaitMs: Long, spill: Long, failed: Boolean)
  final case class QeEv(analysis: Option[(Double, Double)], optimization: Option[(Double, Double)],
      planning: Option[(Double, Double)], fallback: Int, exchanges: Int, scans: Int)
  final case class ProgEv(triggerMs: Double, addBatchMs: Double, commitMs: Double,
      stateRows: Long, stateBytes: Long)

  final case class OpStats(id: Int, startMs: Double) {
    val jobs = mutable.ArrayBuffer.empty[JobEv]
    val stages = mutable.ArrayBuffer.empty[StageEv]
    val tasks = mutable.ArrayBuffer.empty[TaskEv]
    val qes = mutable.ArrayBuffer.empty[QeEv]
    val progress = mutable.ArrayBuffer.empty[ProgEv]
    val sinks = mutable.ArrayBuffer.empty[(Double, Double)]
    var persistedBytes = 0L
    var materializations = 0
  }

  /** Jobs that resolve a table: the schema job a DataFrameReader call
    * launches, named after the reader method at its call site. */
  val resolveSite = "^(parquet|load|json|csv|orc|text) at ".r

  def drain[T](q: ConcurrentLinkedQueue[T])(f: T => Unit): Unit = {
    var x = q.poll()
    while (x != null) { f(x); x = q.poll() }
  }

  /** Milliseconds of [s, e] covered by the union of the intervals. */
  def covered(iv: Seq[(Double, Double)], s: Double, e: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}
