package graft.forecast

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{GraftSession, Tables}
import graft.ml.ForecastModels
import graft.ml.ForecastModels.RegMetrics

/** End-to-end replay of the reference pipeline (SURVEY §3.1-§3.3) on a
  * testdata scale-factor directory: daily aggregation → 105-column feature
  * build (lags + rolling + diffs, null-filled) → cache barrier → time split →
  * feature pipeline + regressors (global or UK/others) → three-metric
  * scorecards → KPIs against the 6-day MA baseline (global, value-weighted).
  *
  * The daily grain is computed ONCE per call and cached; the split-count
  * aggregate fills it, so the sales input is scanned by exactly one Spark
  * job. The indexers are fitted on the cached grain. The feature frame is
  * one window pass per partitioning that selects each raw `lag` once; the
  * lag features, one codegen'd rolling-stats kernel per trailing frame (the
  * rolling statistics and the MA(6) baseline the frame carries) and the
  * diffs are projections over those lags, with no sliding frame. It
  * is never cached itself: one slim assembled pin (keys, label, price,
  * baseline, feature vector) is filled over the full history, every model
  * fits on its train rows and predicts its test rows, and the KPIs read the
  * baseline from the predictions, without a join. The segmented model reads
  * the same pin, with its own indices in place of the global ones. On CSV input
  * (`CsvSource.cleaned`) the lines are already partitioned by series key,
  * so the dedup, the grain and the windows add no shuffle. A call pins only
  * the daily grain and the assembled frame (predictions stay lazy), and
  * releases both before the `Report` is returned, or the call fails.
  *
  * A user of the reference runs exactly this flow; `main` prints the same
  * scorecard shape the reference's README publishes.
  */
object ReferencePipeline {

  case class Report(
      trainRows: Long,
      testRows: Long,
      scorecards: Seq[RegMetrics],
      maeModel: Double,
      maeBaseline: Double,
      valueWeightedReductionPct: Double)

  /** Feature frame: calendar + 36 lag cols + 18 rolling + 6 diff, rolling
    * nulls filled with 0 (Sales_forecast_pyspark.py:968-982), plus the
    * MA(6) `baseline_qty` the KPIs are judged against
    * ([[Forecast.lagRollFeatures]]). */
  def featureFrame(daily: DataFrame): DataFrame =
    featureFrameFilled(Forecast.lagRollFeatures(daily))

  /** The reference's LITERAL full-width frame: its 36 rounded lag columns,
    * avg/stddev_samp/percentile_approx rolling stats over both window
    * families, and diffs against both families (12 diff cols) — 71 numeric
    * features which, with the two category indexers, form exactly the
    * 73-column assembler set of feature_columns_v3
    * (Sales_forecast_pyspark.py:611-647, 900-982, 1006-1061). Carries
    * `baseline_qty` too ([[Forecast.lagRollFeaturesCompat]]). */
  def featureFrameCompat(daily: DataFrame): DataFrame =
    featureFrameFilled(Forecast.lagRollFeaturesCompat(daily))

  /** The rolling and diff nulls filled with 0; the baseline keeps its nulls. */
  private def featureFrameFilled(built: DataFrame): DataFrame =
    built.na.fill(0.0, built.columns.filter(c => c.startsWith("roll_") || c.startsWith("diff_")))

  def run(
      spark: SparkSession,
      dir: String,
      cutoff: String,
      models: Seq[String],
      referenceCompat: Boolean = false): Report =
    runOnSales(Tables.salesLines(spark, dir), cutoff, models, referenceCompat)

  /** [[runOnSales]]'s model names, and the country `lr_seg` fits its own
    * model for (Sales_forecast_pyspark.py:1457-1539). */
  val Models: Seq[String] = Seq("lr", "lr_seg", "rf", "gbt")
  val UK = "United Kingdom"

  /** Same replay on an already-ingested invoice-line frame (columns Country,
    * StockCode, InvoiceDate, Quantity, UnitPrice, LineRevenue) — the entry
    * point for the Online-Retail-shaped fixture (CsvSource → here is exactly
    * the reference's flow). `models` names one or more of [[Models]]; the
    * KPIs judge the first. `lr_seg` fits a Lasso on the UK rows and one on the
    * others, each on [[ForecastModels.segmentFeatures]] of the one pin. */
  def runOnSales(
      sales: DataFrame,
      cutoff: String,
      models: Seq[String],
      referenceCompat: Boolean = false): Report = {
    require(models.nonEmpty, s"no model named; known models: ${Models.mkString(",")}")
    models.foreach(m => require(Models.contains(m), s"unknown model: $m; known models: ${Models.mkString(",")}"))
    // both pins, newest first, so each is released before the pin it reads
    var pins = List.empty[DataFrame]
    def held(df: DataFrame): DataFrame = { pins ::= df; df }
    try {
      val daily = held((if (referenceCompat) Forecast.dailySalesCompat(sales)
        else Forecast.dailySales(sales)).persist(StorageLevel.MEMORY_AND_DISK))
      // the split counts come from the grain, before the assembler drops rows;
      // their aggregate is the grain's cache barrier (C1)
      val counts = ForecastModels.splitCounts(daily, cutoff).head() // fills the grain under the features
      val wide = if (referenceCompat) featureFrameCompat(daily) else featureFrame(daily)
      val features = held(ForecastModels.assembled(daily, wide, cutoff).persist(StorageLevel.MEMORY_AND_DISK))
      // a noop write of no columns fills the pin in one job (a count takes two)
      features.select().write.format("noop").mode("overwrite").save() // fills the slim features pin (C1)
      val (train, test) = ForecastModels.timeSplit(features, cutoff)

      // per model, one (lazy predictions, scorecard) pair per segment
      val fitted = models.map {
        case "lr" => Seq(ForecastModels.trainAndEval("lr_v2", ForecastModels.lasso(0.05), train, test))
        case "rf" => Seq(ForecastModels.trainAndEval("rf_v3", ForecastModels.randomForest(100), train, test))
        case "gbt" => Seq(ForecastModels.trainAndEval("gbt_v2", ForecastModels.gbt(100, 0.05), train, test))
        case "lr_seg" =>
          val trainDaily = ForecastModels.timeSplit(daily, cutoff)._1
          Seq("lr_seg_uk" -> (col("Country") === UK), "lr_seg_others" -> (col("Country") =!= UK))
            .map { case (name, in) =>
              val seg = ForecastModels.segmentFeatures(features, trainDaily.filter(in))
              ForecastModels.trainAndEval(name, ForecastModels.lasso(0.05), seg(train.filter(in)), seg(test.filter(in)))
            }
      }

      // KPI for the first model (the reference uses its best LR for the KPI
      // cut); its predictions, unioned over segments, carry the baseline
      val kpi = Forecast.kpiGlobalValueWeighted(Forecast.withErrorColumns(fitted.head.map(_._1).reduce(_ unionByName _))).head()
      Report(
        counts.getAs[Long]("train_rows"), counts.getAs[Long]("test_rows"),
        fitted.flatten.map(_._2),
        kpi.getAs[Double]("mae_model"),
        kpi.getAs[Double]("mae_baseline"),
        kpi.getAs[Double]("pct_reduction"))
    } finally pins.foreach(_.unpersist()) // every reader has run, or the call failed
  }

  /** Args: [sfDir] [models, comma-separated from lr,lr_seg,rf,gbt; default lr] [cutoff]. */
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    val models = if (args.length > 1) args(1).split(",").toSeq else Seq("lr")
    val cutoff = if (args.length > 2) args(2) else "1999-09-01"
    val spark = GraftSession.local(appName = "graft-pipeline")
    val r = run(spark, dir, cutoff, models)
    println(f"rows train=${r.trainRows} test=${r.testRows}")
    r.scorecards.foreach(m =>
      println(f"${m.name}%-8s MAE=${m.mae}%.4f RMSE=${m.rmse}%.4f R2=${m.r2}%.4f"))
    println(f"KPI MAE model=${r.maeModel}%.4f baseline=${r.maeBaseline}%.4f " +
      f"value-weighted reduction=${r.valueWeightedReductionPct}%.2f%%")
    spark.stop()
  }
}
