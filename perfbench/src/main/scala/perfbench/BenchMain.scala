package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSession
import graft.forecast.{Forecast, ReferencePipeline}
import graft.queries.Corpus
import graft.sources.CsvSource

/** Runs one benchmark workload in this JVM and writes its raw measurements
  * as JSON; `run.py` builds the inputs, starts this main and turns the raw
  * figures into the reported metrics.
  *
  * Usage: BenchMain <workload> <input> <seconds> <trace 0|1> <out.json>
  *          [comma-separated query names]
  *
  * A run sets the session up once, cold, as a user's JVM does, then repeats
  * whole timed passes until `seconds` have elapsed; at the configured
  * seconds that is one pass, cold too. A forecast pass is one run of the
  * paper's flow; a corpus pass runs every listed query once, in the given
  * order. Traced and untraced passes make exactly the same calls.
  */
object BenchMain {
  val Cutoff = "2011-09-01"

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  final case class Op(name: String, seconds: Double, ok: Boolean, error: String, result: Any)

  def main(args: Array[String]): Unit = {
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val Array(workload, input, secondsArg, traceArg, outPath) = args.take(5)
    val seconds = secondsArg.toDouble
    val tracing = traceArg == "1"
    val queryNames = args.lift(5).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val forecast = workload.startsWith("forecast")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

    // ---- set-up, once and cold ------------------------------------------------
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores, "perfbench")
    val t1 = System.nanoTime()
    if (!forecast) Corpus.warmShared(spark, input)
    val createS = (t1 - t0) / 1e9
    val warmS = (System.nanoTime() - t1) / 1e9

    val runId = s"$workload-${ProcessHandle.current().pid()}"
    val queries = queryNames.map(n => n -> graft.SparkEntry.queries(n))
    def pass(probe: Probe): Seq[Op] = probe.span("pass", "bench") {
      if (forecast) Seq(timed(workload)(forecastOnce(spark, input, probe)))
      else queries.map { case (name, fn) =>
        timed(name)(probe.span(name, moduleOf(name))(digest(fn(spark, input))))
      }
    }

    // ---- timed region -------------------------------------------------------
    val result = new java.util.LinkedHashMap[String, Any]()
    val probe = new Probe(spark, runId, tracing)
    val passes = mutable.ArrayBuffer.empty[(Double, Double, Seq[Op])]
    val start = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
      val (w0, c0) = (System.nanoTime(), cpuBean.getProcessCpuTime)
      val ops = pass(probe)
      passes += (((System.nanoTime() - w0) / 1e9, (cpuBean.getProcessCpuTime - c0) / 1e9, ops))
    }
    probe.close()
    if (tracing) {
      val samples = probe.refinedSamples
      val spans = probe.callSiteSpans(samples)
      // Row counts of the forecast's intermediate frames, counted after the
      // timed region so the traced pass makes the same calls as the untraced.
      val counts =
        if (!forecast) Map.empty[String, Long]
        else {
          val cleaned = CsvSource.cleaned(CsvSource.readRetail(spark, input))
          Map("sources.rows_out" -> cleaned.count(),
            "forecast.daily_rows" -> Forecast.dailySales(cleaned).count())
        }
      val steps = stepSeconds(probe, samples)
      result.put("layers", layerMetrics(probe, spans, steps, counts, cores))
      result.put("steps_s", ListMap(steps.toSeq.sortBy(-_._2): _*).asJava)
      writeSpans(outPath.stripSuffix(".json") + ".spans.json", spans)
    }
    result.put("records_read", probe.recordsRead.get())
    result.put("spark_jobs", probe.jobs.get())
    result.put("spark_tasks", probe.tasks.get())

    result.put("boot_s", bootS)
    result.put("create_s", createS)
    result.put("warm_s", warmS)
    result.put("passes", passes.map { case (w, c, ops) =>
      Map("wall_s" -> w, "cpu_s" -> c, "ops" -> ops.map(opJson).asJava).asJava
    }.asJava)
    result.put("meta", meta(spark, cores))
    spark.stop()
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(Paths.get(outPath).toFile, result)
  }

  private def timed(name: String)(body: => Any): Op = {
    val t0 = System.nanoTime()
    try {
      val r = body
      Op(name, (System.nanoTime() - t0) / 1e9, ok = true, null, r)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        Op(name, (System.nanoTime() - t0) / 1e9, ok = false, e.toString, null)
    }
  }

  private def opJson(op: Op): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("name", op.name); m.put("s", op.seconds); m.put("ok", op.ok)
    if (op.error != null) m.put("error", op.error)
    if (op.result != null) m.put("result", op.result)
    m
  }

  // ---- forecast ---------------------------------------------------------------

  /** The paper's flow on the CSV, exactly as a user runs it, in one span of
    * the forecast layer; a traced run splits it by the driver's call site. */
  private def forecastOnce(spark: SparkSession, csv: String, probe: Probe): java.util.Map[String, Any] = {
    val r = probe.span("runOnSales", "forecast") {
      ReferencePipeline.runOnSales(
        CsvSource.cleaned(CsvSource.readRetail(spark, csv)), Cutoff, Seq("lr"))
    }
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("train_rows", r.trainRows)
    m.put("test_rows", r.testRows)
    r.scorecards.foreach(c => m.put(c.name, Seq(c.mae, c.rmse, c.r2).asJava))
    m.put("kpi", Seq(r.maeModel, r.maeBaseline, r.valueWeightedReductionPct).asJava)
    m
  }

  // ---- corpus -----------------------------------------------------------------

  /** Writes the query's result to the `noop` sink (every column computed,
    * nothing stored) while observing its row count and an order-independent
    * digest: the wrapping sum of each row's xxhash64. Map columns are hashed
    * through their JSON form, since Spark does not hash maps. */
  private def digest(df: DataFrame): java.util.Map[String, Any] = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val obs = Observation()
    val hashed = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    renamed.observe(obs, count(lit(1)).as("rows"), sum(hashed).as("digest"))
      .write.format("noop").mode("overwrite").save()
    val got = obs.get
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("rows", got("rows"))
    m.put("digest", Option(got("digest")).map(_.toString).getOrElse("0"))
    m
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  /** The module a corpus query exercises, from its name's prefix. Prefixes
    * not listed (a, w, f, p: aggregates, windows, scalar functions,
    * projections) are plain DataFrame code in the Corpus registry itself. */
  def moduleOf(query: String): String =
    query.stripPrefix("q_").takeWhile(_.isLetter) match {
      case "d" | "dd" => "dedup"
      case "t" => "text"
      case "tp" => "pipeline"
      case "e" => "streaming"
      case "g" | "j" | "o" | "r" | "s" | "u" => "operators"
      case "ann" | "cos" => "similarity"
      case "mm" => "multimodal"
      case "ml" => "ml"
      case _ => "queries"
    }

  // ---- traced metrics -----------------------------------------------------------

  /** Per-layer totals over all timed passes. Step times come from the
    * driver-thread samples, which cover each pass. */
  private def layerMetrics(p: Probe, spans: Seq[Span], steps: Map[String, Double],
      counts: Map[String, Long], cores: Int): java.util.Map[String, Any] = {
    val own = p.spans.toSeq.filterNot(_.layer.startsWith("spark."))
    val passSpans = own.filter(s => s.name == "pass" && s.layer == "bench")
    val wallS = passSpans.map(_.durMs).sum / 1000
    def stepS(label: String) = steps.getOrElse(label, 0.0)
    def layerS(layer: String) =
      steps.collect { case (l, sec) if l.takeWhile(_ != '.') == layer => sec }.sum
    val jobSpans = spans.filter(_.layer == "spark.job")
    val stageSpans = spans.filter(_.layer == "spark.stage")
    val ops = own.filter(s => passSpans.exists(_.id == s.parent))
    val gapMs = ops.map { op =>
      op.durMs - Probe.covered(jobSpans.filter(j => j.startMs < op.endMs && j.endMs > op.startMs)
        .map(j => (math.max(j.startMs, op.startMs), math.min(j.endMs, op.endMs))))
    }.sum
    def site(j: Span) = Option(j.attrs.getOrElse("call_site", null)).map(_.toString)
      .getOrElse(spans.find(_.id == j.parent).fold("bench")(_.name))
    val barrierJobs = jobSpans.filter(j => site(j) == "forecast.features").map(_.id).toSet
    val rowsIn = stageSpans.filter(s => barrierJobs(s.parent) && s.attrs("kind") == "scan")
      .map(_.attrs("records_read").asInstanceOf[Long]).sum
    val m = new java.util.LinkedHashMap[String, Any]()
    def put(k: String, v: Double): Unit = m.put(k, v)
    put("sources.ingest_s", stepS("sources.ingest"))
    put("sources.rows_in", rowsIn.toDouble)
    put("sources.rows_out", counts.getOrElse("sources.rows_out", 0L).toDouble)
    put("forecast.daily_s", stepS("forecast.daily"))
    put("forecast.daily_rows", counts.getOrElse("forecast.daily_rows", 0L).toDouble)
    put("forecast.features_s", stepS("forecast.features"))
    put("forecast.kpi_s", stepS("forecast.kpi"))
    put("ml.index_fit_s", stepS("ml.index_fit"))
    put("ml.lr_fit_s", stepS("ml.lr_fit"))
    put("ml.jobs", jobSpans.count(j => site(j).startsWith("ml.")).toDouble)
    put("queries.plan_s", p.planMs.get / 1000.0)
    put("queries.exec_s", p.execMs.get / 1000.0)
    put("queries.jobs", p.jobs.get.toDouble)
    put("queries.stages", p.stages.get.toDouble)
    put("spark.driver_gap_s", gapMs / 1000)
    put("spark.sched_delay_s", p.schedDelayMs.get / 1000.0)
    put("spark.tasks", p.tasks.get.toDouble)
    put("spark.task_run_s", p.taskRunMs.get / 1000.0)
    put("spark.task_cpu_s", p.taskCpuNs.get / 1e9)
    put("spark.core_util", p.taskRunMs.get / 1000.0 / (wallS * cores))
    put("spark.shuffle_write_mb", p.shuffleWriteB.get / 1048576.0)
    put("spark.shuffle_read_mb", p.shuffleReadB.get / 1048576.0)
    put("spark.spill_mb", p.spillB.get / 1048576.0)
    put("spark.task_gc_s", p.taskGcMs.get / 1000.0)
    put("spark.cache_peak_mb", p.cachePeakB / 1048576.0)
    put("spark.tasks_failed", p.tasksFailed.get.toDouble)
    put("spark.codegen_fallbacks", p.codegenFallbacks.get.toDouble)
    for (mod <- Seq("dedup", "text", "pipeline", "streaming", "operators", "similarity", "multimodal"))
      put(s"$mod.query_s", own.filter(_.layer == mod).map(_.durMs).sum / 1000)
    val layerSelf = Seq("sources", "forecast", "ml", "queries", "dedup", "text", "pipeline",
      "streaming", "operators", "similarity", "multimodal").map(layerS).sum
    put("trace.layer_self_share", layerSelf / wallS)
    put("trace.spans", spans.size.toDouble)
    m
  }

  /** Sampled seconds per step over all timed passes. */
  private def stepSeconds(p: Probe, samples: Seq[Sample]): Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    for (ps <- p.spans.toSeq if ps.name == "pass" && ps.layer == "bench";
         (label, ms) <- Probe.sampledMs(samples, ps.startMs, ps.endMs))
      acc(label) += ms / 1000
    acc.toMap
  }

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val rows = spans.sortBy(_.startMs).map { s =>
      (Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "run_id" -> s.runId) ++ s.attrs).asJava
    }
    new ObjectMapper().writeValue(Paths.get(path).toFile, rows.asJava)
  }

  // ---- run metadata ---------------------------------------------------------------

  private def meta(spark: SparkSession, cores: Int): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("cores", cores)
    m.put("available_processors", Runtime.getRuntime.availableProcessors())
    m.put("heap_max_mb", Runtime.getRuntime.maxMemory() / 1048576)
    m.put("spark_version", spark.version)
    m.put("spark_conf", spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.adaptive.") || k == "spark.sql.shuffle.partitions" ||
        k == "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    }.asJava)
    m.put("graft_env", sys.env.filter(_._1.startsWith("GRAFT_")).asJava)
    m
  }
}
