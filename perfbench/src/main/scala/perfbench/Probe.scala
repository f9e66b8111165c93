package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `layer` is the module the interval is spent in;
  * `name` is the step within it. Spark jobs and stages are spans of layer
  * "spark.job" / "spark.stage"; `attrs` carries the job's call site and the
  * stage's kind. Times are epoch milliseconds. */
final case class Span(
    id: Long, parent: Long, name: String, layer: String,
    startMs: Double, endMs: Double, runId: String,
    attrs: Map[String, Any] = Map.empty) {
  def durMs: Double = endMs - startMs
}

/** A sample of the driver thread: the step its stack was in at `tMs` and
  * the benchmark span open at that moment. */
final case class Sample(tMs: Double, label: String, benchSpan: Long)

/** Everything the benchmark observes from outside the program: spans around
  * its own calls into each layer, a sampler of the driver thread's stack, a
  * SparkListener (jobs, stages, tasks, cached blocks), a
  * QueryExecutionListener (Catalyst phases) and a log appender (whole-stage
  * codegen fallbacks). With `tracing` off only the cheap task counters run
  * and no span or sample is kept. */
final class Probe(spark: SparkSession, runId: String, val tracing: Boolean) {
  private val sc = spark.sparkContext
  private val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + clockOffsetNs) / 1e6

  private val nextId = new AtomicLong(1)
  private val open = mutable.Stack[(Long, String)]((0L, "bench"))
  @volatile private var openTop: (Long, String) = (0L, "bench")
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Runs `body` inside a benchmark span (only when tracing). Spark jobs
    * submitted meanwhile carry the span id as a local property. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = nextId.getAndIncrement()
      val parent = open.top._1
      open.push((id, layer)); openTop = open.top
      sc.setLocalProperty(Probe.SpanKey, id.toString)
      val start = nowMs
      try body
      finally {
        val end = nowMs
        open.pop(); openTop = open.top
        sc.setLocalProperty(Probe.SpanKey, open.top._1.toString)
        spans.synchronized(spans += Span(id, parent, name, layer, start, end, runId))
      }
    }

  // ---- driver-thread sampler ----------------------------------------------
  val samples = mutable.ArrayBuffer.empty[Sample]
  private val driver = Thread.currentThread()
  @volatile private var sampling = tracing
  private val sampler = new Thread("perfbench-sampler") {
    override def run(): Unit = while (sampling) {
      LockSupport.parkNanos(Probe.SampleEveryNs)
      val (spanId, spanLayer) = openTop
      val t = nowMs
      val label = CallSite.label(driver.getStackTrace.view.map(CallSite.frame))
        .getOrElse(spanLayer)
      samples.synchronized(samples += Sample(t, label, spanId))
    }
  }
  sampler.setDaemon(true)

  // ---- counters fed by the listeners -------------------------------------
  val tasks, tasksFailed, taskRunMs, taskCpuNs, taskGcMs, schedDelayMs = new AtomicLong
  val shuffleWriteB, shuffleReadB, spillB, recordsRead = new AtomicLong
  val jobs, stages, planMs, execMs, codegenFallbacks = new AtomicLong
  private val cacheBytes = mutable.Map.empty[String, Long]
  @volatile var cachePeakB = 0L

  /** Per job: the benchmark span open at submission, its start and its call
    * site (a step label, or null when no program frame submitted it). */
  private val jobStart = mutable.Map.empty[Int, (Long, Double, String)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val sqlCallSite = mutable.Map.empty[Long, String]

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if tracing => synchronized {
        CallSite.label(CallSite.parse(s.details)).foreach(sqlCallSite(s.executionId) = _)
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs.incrementAndGet()
      if (tracing) {
        val props = Option(e.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        val parent = prop(Probe.SpanKey).map(_.toLong).getOrElse(0L)
        // Jobs that Spark submits from its own threads (broadcasts, AQE)
        // carry no program frame; their SQL execution's call site does.
        val site = e.stageInfos.headOption.flatMap(s => CallSite.label(CallSite.parse(s.details)))
          .orElse(prop("spark.sql.execution.id").flatMap(id => sqlCallSite.get(id.toLong)))
          .orNull
        jobStart(e.jobId) = (parent, e.time.toDouble, site)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (tracing) jobStart.remove(e.jobId).foreach { case (parent, start, site) =>
        spans.synchronized(spans += Span(Probe.jobSpanId(e.jobId), parent,
          s"job ${e.jobId}", "spark.job", start, e.time.toDouble, runId,
          Map("call_site" -> site)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages.incrementAndGet()
      val info = e.stageInfo
      if (tracing) for (s <- info.submissionTime; c <- info.completionTime) {
        val parent = stageJob.get(info.stageId).map(Probe.jobSpanId).getOrElse(0L)
        val read = Option(info.taskMetrics).map(_.inputMetrics.recordsRead).getOrElse(0L)
        spans.synchronized(spans += Span(Probe.stageSpanId(info.stageId), parent,
          s"stage ${info.stageId}.${info.attemptNumber()} (${info.numTasks} tasks)",
          "spark.stage", s.toDouble, c.toDouble, runId,
          Map("kind" -> Probe.stageKind(info), "records_read" -> read)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (e.reason != Success) tasksFailed.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        recordsRead.addAndGet(m.inputMetrics.recordsRead)
        if (tracing) {
          taskRunMs.addAndGet(m.executorRunTime)
          taskCpuNs.addAndGet(m.executorCpuTime)
          taskGcMs.addAndGet(m.jvmGCTime)
          shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          spillB.addAndGet(m.diskBytesSpilled)
          schedDelayMs.addAndGet(math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime))
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (tracing) synchronized {
      val b = e.blockUpdatedInfo
      val size = b.memSize + b.diskSize
      if (size > 0) cacheBytes(b.blockId.name) = size else cacheBytes.remove(b.blockId.name)
      cachePeakB = math.max(cachePeakB, cacheBytes.values.sum)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.tracker.phases.values.map(p => p.durationMs).sum
      planMs.addAndGet(plan)
      execMs.addAndGet(math.max(0L, durationNs / 1000000L - plan))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val appender = new AbstractAppender(
      "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = String.valueOf(e.getMessage.getFormattedMessage)
      if (e.getLoggerName.contains("CodeGenerator") ||
          msg.contains("Whole-stage codegen disabled") || msg.contains("codegen fallback"))
        codegenFallbacks.incrementAndGet()
    }
  }

  sc.addSparkListener(listener)
  if (tracing) {
    spark.listenerManager.register(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    appender.start()
    ctx.getConfiguration.addAppender(appender)
    ctx.getRootLogger.addAppender(appender)
    // The "generated code too long" fallback is logged at INFO.
    Configurator.setLevel("org.apache.spark.sql.execution.WholeStageCodegenExec", Level.INFO)
    sampler.start()
  }

  /** Stops the sampler, delivers every pending listener event, then detaches
    * the listeners. */
  def close(): Unit = {
    sampling = false
    if (tracing) sampler.join()
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    if (tracing) {
      spark.listenerManager.unregister(qeListener)
      LogManager.getContext(false).asInstanceOf[LoggerContext].getRootLogger.removeAppender(appender)
      appender.stop()
    }
  }

  /** The samples with the cache barrier's steps split by the Spark stages
    * running at the time: a stage that scans the input file is
    * `sources.ingest`, one that computes windows is `forecast.features`, any
    * other is the aggregation to the daily grain, `forecast.daily`. */
  def refinedSamples: Seq[Sample] = {
    val running = spans.filter(_.layer == "spark.stage").sortBy(_.startMs).toIndexedSeq
    samples.toSeq.map { s =>
      if (s.label != "forecast.features") s
      else {
        val kinds = running.iterator.takeWhile(_.startMs <= s.tMs)
          .filter(_.endMs >= s.tMs).map(_.attrs("kind")).toSet
        if (kinds("scan")) s.copy(label = "sources.ingest")
        else if (kinds("window")) s
        else if (kinds.nonEmpty) s.copy(label = "forecast.daily")
        else s
      }
    }
  }

  /** Step spans built from consecutive samples with the same step and
    * benchmark span, and each job re-parented under the step span that was
    * open when it started (its call site, as the driver's stack showed it). */
  def callSiteSpans(samples: Seq[Sample]): Seq[Span] = {
    val steps = mutable.ArrayBuffer.empty[Span]
    var prevT = Double.NaN
    for (s <- samples) {
      val last = steps.lastOption
      if (last.exists(l => l.name == s.label && l.parent == s.benchSpan))
        steps(steps.size - 1) = last.get.copy(endMs = s.tMs)
      else steps += Span(nextId.getAndIncrement(), s.benchSpan, s.label,
        s.label.takeWhile(_ != '.'), if (prevT.isNaN) s.tMs else prevT, s.tMs, runId)
      prevT = s.tMs
    }
    val jobsReparented = spans.toSeq.filter(_.layer == "spark.job").map { j =>
      steps.find(st => st.parent == j.parent && st.startMs <= j.startMs && st.endMs >= j.startMs)
        .fold(j)(st => j.copy(parent = st.id))
    }
    steps.toSeq ++ jobsReparented ++ spans.toSeq.filterNot(_.layer == "spark.job")
  }
}

object Probe {
  val SpanKey = "perfbench.span"
  val SampleEveryNs = 10000000L
  // Job and stage spans get ids far above the benchmark's own.
  def jobSpanId(jobId: Int): Long = (1L << 40) + jobId
  def stageSpanId(stageId: Int): Long = (2L << 40) + stageId

  /** "scan" for a stage that reads an input file, "window" for one that
    * evaluates window functions, else "other". */
  def stageKind(info: StageInfo): String = {
    val rdds = info.rddInfos
    if (rdds.exists(r => r.name == "FileScanRDD" || r.scope.exists(_.name.startsWith("Scan")))) "scan"
    else if (rdds.exists(_.scope.exists(_.name.startsWith("Window")))) "window"
    else "other"
  }

  /** Length of the union of the intervals. */
  def covered(intervals: Seq[(Double, Double)]): Double = {
    var total, end = 0.0
    var started = false
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (!started || s > end) { total += e - s; end = e; started = true }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  /** Time per step inside [from, to]: each sample stands for the time since
    * the sample before it, and the time after the last sample goes to that
    * sample's step, so the totals add up to `to - from`. */
  def sampledMs(samples: Seq[Sample], from: Double, to: Double): Map[String, Double] = {
    val in = samples.filter(s => s.tMs > from && s.tMs <= to)
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var prev = from
    for (s <- in) { acc(s.label) += s.tMs - prev; prev = s.tMs }
    in.lastOption.foreach(s => acc(s.label) += to - prev)
    acc.toMap
  }
}

/** Names the step a driver stack is in from its innermost frame in the
  * program (package `graft`), by the frame's object and method and, inside
  * `ReferencePipeline.runOnSales`, by the statement on the frame's source
  * line, read from the checkout's sources. */
object CallSite {
  final case class Frame(cls: String, method: String, file: String, line: Int)

  def frame(e: StackTraceElement): Frame =
    Frame(e.getClassName, e.getMethodName, e.getFileName, e.getLineNumber)

  private val FrameRe = """^\s*(?:at\s+)?([\w$.]+)\.([\w$<>]+)\(([^:)]*)(?::(\d+))?\)""".r.unanchored

  /** Frames of a Spark call-site string (one frame per line). */
  def parse(longForm: String): Seq[Frame] =
    Option(longForm).toSeq.flatMap(_.split("\n")).collect {
      case FrameRe(c, m, f, l) => Frame(c, m, f, Option(l).map(_.toInt).getOrElse(-1))
    }

  /** Frames of `graft.functions` (expressions and optimizer rules that every
    * module uses) are skipped, so their time goes to the step that used them. */
  def label(frames: Iterable[Frame]): Option[String] =
    frames.find(f => f.cls.startsWith("graft.") && !f.cls.startsWith("graft.functions."))
      .map(labelOf)

  def labelOf(f: Frame): String = {
    val obj = f.cls.stripPrefix("graft.").takeWhile(_ != '$')
    val m = f.method
    def has(words: String*)(s: String) = words.exists(s.contains)
    obj match {
      case "GraftSession" => "session.create"
      case o if o.startsWith("sources.") => "sources.ingest"
      case "ml.NormalEq" => "ml.lr_fit"
      // The rest of ForecastModels fits and evaluates the model (trainAndEval,
      // evaluate and its local defs); LR v2 is the only model the benchmark fits.
      case "ml.ForecastModels" =>
        if (has("featurePipeline")(m)) "ml.index_fit"
        else if (has("timeSplit")(m)) "ml.split"
        else "ml.lr_fit"
      case "forecast.Forecast" =>
        if (has("dailySales")(m)) "forecast.daily"
        else if (has("lag", "roll", "diff", "withCalendar", "seriesW", "dowW")(m)) "forecast.features"
        else "forecast.kpi"
      case "forecast.ReferencePipeline" if m.contains("runOnSales") =>
        val text = sourceLine(f)
        if (has("trainAndEval")(text)) "ml.lr_fit"
        else if (has(".fit(")(text)) "ml.index_fit"
        else if (has("timeSplit", "train.count")(text)) "ml.split"
        else if (has("evalAgainstBaseline", "kpiGlobal", "valueWeighted", "unpersist")(text)) "forecast.kpi"
        else if (has("dailySales")(text)) "forecast.daily"
        else if (has("features", "featureFrame")(text)) "forecast.features"
        else "forecast.other"
      case "forecast.ReferencePipeline" =>
        if (has("featureFrame")(m)) "forecast.features" else "forecast.other"
      case "SparkEntry" | "Tables" => "queries"
      case o => o.takeWhile(_ != '.')
    }
  }

  private val sources = mutable.Map.empty[String, IndexedSeq[String]]

  /** The frame's source line in `src/main/scala` of the working directory,
    * or "" when it cannot be read. */
  def sourceLine(f: Frame): String = {
    val dir = f.cls.split('.').dropRight(1).mkString("/")
    val path = s"src/main/scala/$dir/${f.file}"
    val lines = sources.synchronized(sources.getOrElseUpdate(path,
      try Files.readAllLines(Paths.get(path)).asScala.toIndexedSeq
      catch { case _: java.io.IOException => IndexedSeq.empty }))
    lines.lift(f.line - 1).getOrElse("")
  }
}
