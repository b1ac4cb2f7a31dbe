package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `op` is the id of the top-level span of the
  * operation the span belongs to; `phase` is "warm" or "measure". */
final case class Span(id: Long, parent: Long, op: Long, name: String, layer: String,
    phase: String, start: Long, var end: Long = 0L, var attrs: Map[String, Double] = Map.empty)

final case class JobRec(jobId: Int, span: Long, site: String, stack: String,
    start: Long, var end: Long, stageIds: Seq[Int])

final case class StageRec(stageId: Int, tasks: Int, runMs: Long, shuffleBytes: Long,
    shuffleRecords: Long, spillBytes: Long, inputBytes: Long, inputRecords: Long,
    outputBytes: Long)

/** The benchmark's own tracing: spans around every library call and
  * every action it issues, plus the Spark-side counters attached from
  * outside the program. Disabled, `span` only runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val SpanKey = "perfbench.span"
  private val ids = new AtomicLong(0L)
  private val current = new ThreadLocal[Span]
  val spans = new ArrayBuffer[Span]
  val jobs = new ConcurrentHashMap[Int, JobRec]().asScala
  val stages = new ConcurrentHashMap[Int, StageRec]().asScala
  /** SQL execution id -> (short call site, call stack). */
  private val executions = new ConcurrentHashMap[String, (String, String)]().asScala
  /** Page-source scan nodes of the queries finished since the last
    * [[beginMeasure]], each once (a cached page batch is shared). */
  private val pageScanNodes = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[BatchScanExec, java.lang.Boolean]())
  /** Tasks of completed stages that read the page source, by phase. */
  val pageScanTasks = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile var phase: String = "warm"

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body else {
      val parent = current.get()
      val id = ids.incrementAndGet()
      val s = Span(id, if (parent == null) 0L else parent.id,
        if (parent == null) id else parent.op, name, layer, phase, System.nanoTime())
      spans.synchronized(spans += s)
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanKey)
      current.set(s)
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        current.set(parent)
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  /** Attach a number to the innermost open span. */
  def note(key: String, v: Double): Unit =
    if (enabled) Option(current.get()).foreach(s => s.attrs += key -> v)

  /** Catalyst phase times of a DataFrame the benchmark holds. */
  def notePhases(df: DataFrame): Unit =
    if (enabled) {
      val ph = df.queryExecution.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        note(s"phase.$p", ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
      }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val span = prop(SpanKey)
      // a SQL query's jobs (including the ones adaptive execution starts
      // from its own threads) take the query's call site; any other job
      // takes its result stage's: name = short form, details = call stack
      val site = executions.get(prop("spark.sql.execution.id"))
        .orElse(e.stageInfos.maxByOption(_.stageId).map(r => (r.name, r.details)))
        .getOrElse(("", ""))
      jobs(e.jobId) = JobRec(e.jobId, if (span.isEmpty) 0L else span.toLong,
        site._1, site._2, e.time, 0L, e.stageIds)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        executions(x.executionId.toString) = (x.description, x.details)
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (i.rddInfos.exists(_.scope.exists(_.name.startsWith("BatchScan tmdb_pages"))))
        pageScanTasks.merge(phase, i.numTasks.toLong, (a, b) => a + b)
      if (m != null)
        stages(i.stageId) = StageRec(i.stageId, i.numTasks, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten)
    }
  }

  private object planHelper extends AdaptiveSparkPlanHelper {
    def pagedScans(plan: SparkPlan): Seq[BatchScanExec] =
      collectWithSubqueries(plan) {
        case b: BatchScanExec if b.scan.description().startsWith("tmdb-pages") => Seq(b)
        case m: InMemoryTableScanExec => pagedScans(m.relation.cachedPlan)
      }.flatten
  }

  private val qeListener = new QueryExecutionListener {
    // delivered on the listener bus thread, so scans are scoped by
    // phase (flushes at the phase boundaries), not by span
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planHelper.pagedScans(qe.executedPlan).foreach(b => pageScanNodes.put(b, true))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var codegen: Option[CodegenLog] = None

  def install(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    codegen = Some(CodegenLog.install())
  }

  def codegenLog: Option[CodegenLog] = codegen

  def flush(): Unit = org.apache.spark.perfbench.Bus.flush(spark.sparkContext)

  def beginMeasure(): Unit = {
    if (enabled) { flush(); pageScanNodes.clear() }
    phase = "measure"
  }

  def endMeasure(): Unit = {
    if (enabled) flush()
    phase = "check"
  }

  /** Pages given up by the page-source scans since [[beginMeasure]]. */
  def pageGiveUps: Long = pageScanNodes.synchronized {
    pageScanNodes.keySet.asScala.toSeq.map(_.metrics.collect {
      case (k, v) if k.startsWith("giveUpPages_") => v.value
    }.sum).sum
  }

  def measuredOps: Seq[Span] = spans.synchronized(spans.filter(s => s.parent == 0L && s.phase == "measure").toSeq)

  def spanById: Map[Long, Span] = spans.synchronized(spans.map(s => s.id -> s).toMap)

  /** Jobs whose enclosing span belongs to one of `ops`. */
  def jobsOf(ops: Set[Long]): Seq[JobRec] = {
    val byId = spanById
    jobs.values.filter(j => byId.get(j.span).exists(s => ops(s.op))).toSeq
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)

  /** Write every span and job as JSON lines. */
  def dump(path: String): Unit = if (enabled) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.synchronized(spans.toList).foreach { s =>
        w.println(Json.obj(Seq("type" -> Json.str("span"), "id" -> s.id.toString,
          "parent" -> s.parent.toString, "op" -> s.op.toString, "name" -> Json.str(s.name),
          "layer" -> Json.str(s.layer), "phase" -> Json.str(s.phase),
          "start_ns" -> s.start.toString, "end_ns" -> s.end.toString) ++
          s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
      }
      jobs.values.toSeq.sortBy(_.jobId).foreach { j =>
        w.println(Json.obj(Seq("type" -> Json.str("job"), "job" -> j.jobId.toString,
          "span" -> j.span.toString, "site" -> Json.str(j.site),
          "frame" -> Json.str(j.stack.linesIterator.map(_.trim).find(_.startsWith("graft.")).getOrElse("")),
          "start_ms" -> j.start.toString, "end_ms" -> j.end.toString,
          "stages" -> j.stageIds.mkString("[", ",", "]"))))
      }
    } finally w.close()
  }
}

/** Codegen counters from Spark's `CodegenMetrics` and a log appender on
  * the code generator's loggers: compile time from "Code generated in N
  * ms", fallbacks from the warnings Spark logs when it gives up on
  * generated code and interprets instead. */
final class CodegenLog {
  val compileMs = new AtomicLong(0L)
  val fallbacks = new AtomicLong(0L)
  val fallbackReasons = new ConcurrentHashMap[String, java.lang.Long]()
  private val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored

  def onEvent(level: String, msg: String): Unit = {
    msg match {
      case Generated(ms) => compileMs.addAndGet(math.round(ms.toDouble * 1000)); ()
      case _ =>
    }
    if (level == "ERROR" && msg.contains("ailed to compile")) {
      val reason = msg.linesIterator.find(_.contains("Exception")).getOrElse(msg.linesIterator.next()).take(200)
      fallbackReasons.merge(reason, 1L, (a, b) => a + b)
    }
    if (msg.contains("Whole-stage codegen disabled") || msg.contains("falling back to interpreter"))
      fallbacks.incrementAndGet()
    ()
  }

  def compiles: Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

object CodegenLog {
  def install(): CodegenLog = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val log = new CodegenLog
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val app = new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        val t = Option(e.getThrown).map(x => "\n" + x.toString).getOrElse("")
        log.onEvent(e.getLevel.name(), m + t)
      }
    }
    app.start()
    config.addAppender(app)
    // the generator's own logger is named too: the console configuration
    // turns it off, and that more specific level would otherwise win
    Seq("org.apache.spark.sql.catalyst.expressions" -> Level.INFO,
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator" -> Level.INFO,
        "org.apache.spark.sql.execution.WholeStageCodegenExec" -> Level.WARN).foreach {
      case (name, level) =>
        // a logger the configuration already names is changed in place
        // (addLogger keeps an existing entry)
        val lc = Option(config.getLoggers.get(name)).getOrElse {
          val fresh = new LoggerConfig(name, level, false)
          config.addLogger(name, fresh)
          fresh
        }
        lc.setLevel(level)
        lc.setAdditive(false)
        lc.addAppender(app, level, null)
    }
    ctx.updateLoggers()
    log
  }
}
