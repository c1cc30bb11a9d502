package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same axis as Spark's listener timestamps. */
object Clock {
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6
}

/** One span: `layer` names the repo layer whose time it is; `rank` orders
  * nesting (a deeper span owns the time it covers). */
final case class Span(op: Int, name: String, layer: String, rank: Int,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** One benchmark op: its kind, wall interval and numbers the workload
  * attaches (rows returned, docs in, ...). */
final class OpRec(val id: Int, val kind: String, val start: Double) {
  var end: Double = start
  val attrs = scala.collection.mutable.Map.empty[String, Double]
  def wall: Double = end - start
}

/** Outside-in tracer. It times the benchmark's calls into graft's public
  * functions as spans, and reads Spark's own listeners (SparkListener,
  * QueryExecutionListener, StreamingQueryListener, and the CodeGenerator's
  * compile log) for the work under them. Spark jobs are attributed to the
  * op through the job group set around each op. Everything stays in memory
  * until [[layerMetrics]] at the end of the run. */
final class Tracer(spark: SparkSession, cores: Int) {
  private val ops = ArrayBuffer.empty[OpRec]
  private val spans = ArrayBuffer.empty[Span]
  private var current: OpRec = _

  private final case class JobRec(id: Int, group: String, start: Long, stageIds: Seq[Int]) {
    var end: Long = start
    var ended = false
  }
  private final case class StageRec(id: Int, var submit: Long, var complete: Long)
  private final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long,
      cpuMs: Double, gcMs: Long, shufW: Long, shufR: Long, spill: Long, failed: Boolean)
  private final case class QeRec(start: Double, analysis: Double, optimization: Double,
      planning: Double, scanRows: Long)

  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val qes = ArrayBuffer.empty[QeRec]
  val progress = ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, g, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { j => j.end = e.time; j.ended = true }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      stages(i.stageId) = StageRec(i.stageId, i.submissionTime.getOrElse(0L), 0L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val s = stages.getOrElseUpdate(i.stageId, StageRec(i.stageId, i.submissionTime.getOrElse(0L), 0L))
      s.complete = i.completionTime.getOrElse(s.submit)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      val info = e.taskInfo
      tasks += (if (m == null)
        TaskRec(e.stageId, info.launchTime, info.finishTime, 0, 0, 0, 0, 0, 0, failed = true)
      else TaskRec(e.stageId, info.launchTime, info.finishTime, m.executorRunTime,
        m.executorCpuTime / 1e6, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        failed = e.reason != TaskSuccess))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def d(n: String) = ph.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L).toDouble
      val rows = Tracer.scanRows(qe.executedPlan)
      Tracer.this.synchronized {
        qes += QeRec(start, d("analysis"), d("optimization"), d("planning"), rows)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val codegen = new CodegenLog

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    codegen.install()
  }

  def uninstall(): Unit = {
    codegen.uninstall()
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Run one op as a root span, its Spark jobs tagged with the op's group. */
  def op[T](kind: String)(f: OpRec => T): T = {
    val rec = synchronized { val r = new OpRec(ops.size, kind, Clock.nowMs); ops += r; r }
    current = rec
    spark.sparkContext.setJobGroup(s"graftbench-op-${rec.id}", kind, interruptOnCancel = false)
    try f(rec)
    finally {
      rec.end = Clock.nowMs
      spark.sparkContext.clearJobGroup()
      current = null
    }
  }

  /** A child span of the current op around one public layer call. */
  def span[T](name: String, layer: String)(f: => T): T = {
    val op = current
    val t0 = Clock.nowMs
    try f finally {
      val t1 = Clock.nowMs
      if (op != null) synchronized { spans += Span(op.id, name, layer, 1, t0, t1) }
    }
  }

  /** Record an op whose interval was observed elsewhere (a micro-batch). */
  def addOp(kind: String, start: Double, end: Double): OpRec = synchronized {
    val r = new OpRec(ops.size, kind, start); r.end = end; ops += r; r
  }

  def addSpan(op: Int, name: String, layer: String, start: Double, end: Double): Unit =
    synchronized { spans += Span(op, name, layer, 1, start, end) }

  /** Wait until the listener bus has delivered everything posted so far: a
    * sentinel job's end arrives after every earlier event of the queue. */
  def drain(): Unit = {
    spark.sparkContext.setJobGroup("graftbench-sentinel", "sentinel", interruptOnCancel = false)
    spark.range(1).collect()
    spark.sparkContext.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    def seen = synchronized { jobs.values.exists(j => j.group == "graftbench-sentinel" && j.ended) }
    while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100) // the QueryExecutionListener runs on its own queue
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Per-op layer numbers, as medians over the ops of `kinds`; plus the
    * self time of every layer, found by giving each instant of an op to the
    * deepest span active at it, so the layers' self times sum exactly to the
    * op's wall time. */
  def layerMetrics(kinds: Set[String], jobsByTime: Boolean = false): Map[String, Double] =
    synchronized {
      val sel = ops.filter(o => kinds.contains(o.kind)).toList
      val stageOfJob = jobs.values.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
      val tasksByStage = tasks.groupBy(_.stage)
      val perOp = sel.map { o =>
        val group = s"graftbench-op-${o.id}"
        val myJobs = jobs.values.filter { j =>
          if (jobsByTime) j.group != "graftbench-sentinel" && j.start >= o.start - 1 && j.start <= o.end
          else j.group == group
        }.toList
        val jobIds = myJobs.map(_.id).toSet
        val myStages = stages.values.filter(s => stageOfJob.get(s.id).exists(jobIds)).toList
        val myTasks = myStages.flatMap(s => tasksByStage.getOrElse(s.id, Nil))
        val stageOf = myStages.map(s => s.id -> s).toMap
        val mySpans = spans.filter(_.op == o.id).toList
        val builds = mySpans.filter(_.name == "store.build")
        val buildJobs = myJobs.count(j => builds.exists(b => j.start >= b.start - 1 && j.start <= b.end + 1))
        val myQes = qes.filter(q => q.start >= o.start - 1 && q.start <= o.end)
        val cg = codegen.events.filter(e => e._1 >= o.start - 1 && e._1 <= o.end + 1)
        val taskMs = myTasks.map(t => (t.finish - t.launch).toDouble)
        val skew = myStages.flatMap { s =>
          val ds = tasksByStage.getOrElse(s.id, Nil).map(t => (t.finish - t.launch).toDouble).toSeq
          if (ds.size < 2) None else { val m = median(ds); Some(if (m <= 0) 1.0 else ds.max / m) }
        }
        // spans for the sweep: Spark's jobs, stages, catalyst phases and
        // compiles, under the benchmark's own layer spans
        val sweep = mySpans ++
          myJobs.map(j => Span(o.id, "job", "exec.job", 2, j.start, j.end)) ++
          myStages.map(s => Span(o.id, "stage", "exec.stage", 3, s.submit, s.complete)) ++
          myQes.map(q => Span(o.id, "catalyst", "catalyst", 2, q.start,
            q.start + q.analysis + q.optimization + q.planning)) ++
          cg.map(e => Span(o.id, "codegen", "codegen", 4, e._1 - e._2, e._1))
        val self = selfTimes(o, sweep)
        val base = Map(
          "wall_ms" -> o.wall,
          "store.build_ms" -> builds.map(_.dur).sum,
          "store.build_jobs" -> buildJobs.toDouble,
          "catalyst.analysis_ms" -> myQes.map(_.analysis).sum,
          "catalyst.optimization_ms" -> myQes.map(_.optimization).sum,
          "catalyst.planning_ms" -> myQes.map(_.planning).sum,
          "codegen.compile_count" -> cg.size.toDouble,
          "codegen.compile_ms" -> cg.map(_._2).sum,
          "exec.jobs" -> myJobs.size.toDouble,
          "exec.stages" -> myStages.size.toDouble,
          "exec.tasks" -> myTasks.size.toDouble,
          "exec.failed_tasks" -> myTasks.count(_.failed).toDouble,
          "exec.task_run_ms" -> myTasks.map(_.runMs.toDouble).sum,
          "exec.task_cpu_ms" -> myTasks.map(_.cpuMs).sum,
          "exec.gc_ms" -> myTasks.map(_.gcMs.toDouble).sum,
          "exec.sched_wait_ms" -> myTasks.map(t =>
            stageOf.get(t.stage).map(s => math.max(0L, t.launch - s.submit).toDouble).getOrElse(0.0)).sum,
          "exec.shuffle_write_bytes" -> myTasks.map(_.shufW.toDouble).sum,
          "exec.shuffle_read_bytes" -> myTasks.map(_.shufR.toDouble).sum,
          "exec.spill_bytes" -> myTasks.map(_.spill.toDouble).sum,
          "exec.core_busy_share" -> (if (o.wall <= 0) 0.0 else taskMs.sum / (o.wall * cores)),
          "exec.stage_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
          "scan_rows" -> myQes.map(_.scanRows.toDouble).sum,
          "spans" -> sweep.size.toDouble)
        base ++ self.map { case (l, v) => s"self.${l}_ms" -> v } ++ o.attrs
      }
      val keys = perOp.flatMap(_.keys).distinct
      val med = keys.map(k => k -> median(perOp.map(_.getOrElse(k, 0.0)))).toMap
      // share of op time that graft and Spark spans cover: all but the
      // benchmark's own ("bench") self time, summed over all ops
      val benchSum = perOp.map(_.getOrElse("self.bench_ms", 0.0)).sum
      val wallSum = perOp.map(_("wall_ms")).sum
      med ++ Map("trace.ops" -> perOp.size.toDouble,
        "trace.covered_share" -> (if (wallSum <= 0) 0.0 else 1 - benchSum / wallSum))
    }

  private val layerOrder = Seq("bench", "store", "sources", "materialize", "streaming",
    "catalyst", "exec.job", "exec.stage", "codegen")

  /** Give each instant of `o` to the deepest span active at it (later start
    * wins a tie); instants no child covers are the op's own ("bench"). */
  private def selfTimes(o: OpRec, sweep: Seq[Span]): Map[String, Double] = {
    val inOp = sweep.map(s => s.copy(start = math.max(s.start, o.start), end = math.min(s.end, o.end)))
      .filter(s => s.end > s.start)
    val cuts = (Seq(o.start, o.end) ++ inOp.flatMap(s => Seq(s.start, s.end))).distinct.sorted
    val acc = scala.collection.mutable.Map(layerOrder.map(_ -> 0.0): _*)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val mid = (a + b) / 2
        val active = inOp.filter(s => s.start <= mid && s.end > mid)
        val layer = if (active.isEmpty) "bench"
          else active.maxBy(s => (s.rank, s.start)).layer
        acc(layer) = acc.getOrElse(layer, 0.0) + (b - a)
      case _ => ()
    }
    acc.toMap
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  /** Rows the query's file scans produced (adaptive stages included). */
  def scanRows(plan: SparkPlan): Long =
    try collect(plan) { case s: FileSourceScanExec =>
      s.metrics.get("numOutputRows").map(_.value).getOrElse(0L) }.sum
    catch { case scala.util.control.NonFatal(_) => 0L }
}

/** Exact codegen compile times: CodeGenerator logs "Code generated in X ms"
  * once per compiled class, from the thread that compiled it. The appender
  * collects (log time, X) pairs; nothing is estimated. */
final class CodegenLog {
  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  private val loggerName = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val buf = ArrayBuffer.empty[(Double, Double)]
  private val pattern = """Code generated in ([0-9.]+) ms""".r.unanchored

  private val appender = new AbstractAppender("graftbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case pattern(ms) => CodegenLog.this.synchronized { buf += ((Clock.nowMs, ms.toDouble)) }
      case _ => ()
    }
  }

  private def ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]

  def install(): Unit = {
    val cfg = ctx.getConfiguration
    appender.start()
    cfg.addAppender(appender)
    val lc = new LoggerConfig(loggerName, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    cfg.addLogger(loggerName, lc)
    ctx.updateLoggers()
  }

  def uninstall(): Unit = {
    val cfg = ctx.getConfiguration
    cfg.removeLogger(loggerName)
    ctx.updateLoggers()
    appender.stop()
  }

  def events: Seq[(Double, Double)] = synchronized(buf.toList)
}
