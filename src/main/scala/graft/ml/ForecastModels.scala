package graft.ml

import org.apache.spark.ml.{Estimator, Model, Pipeline, PipelineModel}
import org.apache.spark.ml.attribute.AttributeGroup
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{StringIndexer, StringIndexerModel, VectorAssembler, VectorSlicer}
import org.apache.spark.ml.regression.{
  GBTRegressor, LinearRegression, LinearRegressionModel, RandomForestRegressor}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's ML surface (SURVEY §2.11, M1-M9) with its exact
  * hyperparameter presets: categorical indexing, vector assembly, the seven
  * regressor variants, three-metric evaluation, per-segment re-indexing, and
  * coefficient introspection.
  *
  * PySpark's pyspark.ml is a thin wrapper over these same Scala classes, so
  * this module IS the reference implementation, minus the Py4J hop.
  */
object ForecastModels {

  val LabelCol = "NetDailyQuantity"

  case class RegMetrics(name: String, mae: Double, rmse: Double, r2: Double)

  /** M1+M2: Country/StockCode indexers (handleInvalid=keep, py:389-400) +
    * assembler (handleInvalid=skip DROPS rows with null/NaN features,
    * py:417) at lower cost than the reference: the two frequencyDesc
    * orderings come from ONE multi-column StringIndexer pass (per-column
    * counting is independent, so the indices equal the reference's two
    * single-column fits), and the pass runs over `indexerFrame` — any frame
    * with train's Country/StockCode rows, e.g. the cached daily grain — so
    * fitting never replays the lag-feature window lineage. The final
    * Pipeline.fit wires the fitted model + assembler together without
    * launching a job (no estimator stages remain). */
  def featurePipelineOn(
      featureCols: Seq[String],
      indexerFrame: DataFrame,
      train: DataFrame): PipelineModel = {
    val idx = new StringIndexer()
      .setInputCols(Array("Country", "StockCode"))
      .setOutputCols(Array("CountryIndex", "StockCodeIndex"))
      .setHandleInvalid("keep").setStringOrderType("frequencyDesc")
      .fit(indexerFrame)
    val assembler = new VectorAssembler()
      .setInputCols((featureCols ++ Seq("CountryIndex", "StockCodeIndex")).toArray)
      .setOutputCol("features")
      .setHandleInvalid("skip")
    new Pipeline().setStages(Array(idx, assembler)).fit(train)
  }

  /** The slim frame both forecast flows pin, fit and predict on: keys,
    * label, `AvgUnitPrice`, `baseline_qty` and the vector of
    * `numericFeatureCols(wide)` plus the two indices [[featurePipelineOn]]
    * fits on `daily`'s rows up to `cutoff`. Assemble-then-split equals
    * split-then-assemble: the time filter is row-local and the assembler's
    * handleInvalid=skip drops the same null rows either way. Lazy: callers
    * pin it once over the full history and filter it with [[timeSplit]]. */
  def assembled(daily: DataFrame, wide: DataFrame, cutoff: String): DataFrame = {
    val fp = featurePipelineOn(numericFeatureCols(wide), timeSplit(daily, cutoff)._1, wide)
    fp.transform(wide).select(
      Seq("Country", "StockCode", "InvoiceDate", LabelCol, "AvgUnitPrice", "baseline_qty", "features")
        .map(col): _*)
  }

  /** Maps a segment's rows of an [[assembled]] `pin` to the pin's columns
    * with the segment's own indices: the vector keeps its leading numeric
    * slots (all but the two global indices, counted from the vector's ML
    * attribute metadata) and gets the indices [[featurePipelineOn]] fits on
    * `indexerFrame` (the segment's train rows of the grain) appended. The
    * assembler flattens a vector slot by slot, so this equals the reference's
    * pipeline refitted on the segment, value for value. */
  def segmentFeatures(pin: DataFrame, indexerFrame: DataFrame): DataFrame => DataFrame = {
    val numericSlots = AttributeGroup.fromStructField(pin.schema("features")).size - 2
    val slicer = new VectorSlicer().setInputCol("features").setOutputCol("numeric")
      .setIndices((0 until numericSlots).toArray)
    def numeric(frame: DataFrame): DataFrame = slicer.transform(frame).drop("features")
    val fp = featurePipelineOn(Seq("numeric"), indexerFrame, numeric(pin))
    val countries = fp.stages.collectFirst { case m: StringIndexerModel => m.labelsArray.head }
    require(countries.exists(_.nonEmpty), "the segment has no train rows to fit its indexers on")
    frame => fp.transform(numeric(frame)).select(pin.columns.map(col): _*)
  }

  /** Fit + transform WITHOUT the evaluation — for pipelines that only
    * consume the predictions. `train` and `test` are assembled frames
    * (see [[assembled]]).
    *
    * The estimator reads `train` as given. The lasso preset (squared loss,
    * at most 4,096 features, auto solver) makes one normal-equation pass
    * over it (WeightedLeastSquares) plus one column-statistics pass, and
    * solves the L1 problem with OWL-QN on the driver: its passes do not
    * grow with the iterations. RandomForest and GBT read their input many
    * times: give them the train rows of a pinned frame.
    *
    * The predictions (without the feature vector) are lazy: each reader
    * applies the model to `test` again. */
  def fitPredict(
      estimator: Estimator[_ <: Model[_]],
      train: DataFrame,
      test: DataFrame): DataFrame =
    estimator.fit(train).transform(test).drop("features")

  /** Numeric feature columns present in a feature frame: calendar + lag +
    * rolling + diff (SURVEY §2.6 families). */
  def numericFeatureCols(df: DataFrame): Seq[String] = {
    val calendar = Seq("Year", "Month", "Day", "Week", "DayOfWeek")
    calendar.filter(df.columns.contains) ++
      df.columns.filter(c =>
        c.startsWith("lag_") || c.startsWith("roll_") || c.startsWith("diff_"))
  }

  // ---- reference model presets (BASELINE.md hyperparameters) ----------------

  /** M4: Lasso LR — v1 regParam 0.1, v2/segmented regParam 0.05
    * (Sales_forecast_pyspark.py:774-785, 1159-1169). */
  def lasso(regParam: Double): LinearRegression =
    new LinearRegression()
      .setLabelCol(LabelCol).setFeaturesCol("features")
      .setMaxIter(20).setRegParam(regParam).setElasticNetParam(1.0)
      .setStandardization(true).setFitIntercept(true)

  /** M3: RF — v1/v2 50 trees, v3 100 trees; depth 5, maxBins 10000, seed 42
    * (Sales_forecast_pyspark.py:420-429, 1094-1103). */
  def randomForest(numTrees: Int): RandomForestRegressor =
    new RandomForestRegressor()
      .setLabelCol(LabelCol).setFeaturesCol("features")
      .setNumTrees(numTrees).setMaxDepth(5).setMaxBins(10000).setSeed(42)

  /** M5: GBT with absolute loss — v1 20 iters step 0.01, v2 100 iters step
    * 0.05; depth 3, seed 42 (Sales_forecast_pyspark.py:838-849, 1223-1234). */
  def gbt(maxIter: Int, stepSize: Double): GBTRegressor =
    new GBTRegressor()
      .setLabelCol(LabelCol).setFeaturesCol("features")
      .setMaxDepth(3).setMaxBins(10000).setLossType("absolute")
      .setMaxIter(maxIter).setStepSize(stepSize).setSeed(42)

  /** M7: mae/rmse/r2 on (label, prediction), read from ONE
    * `RegressionMetrics` summary pass — the same object each single-metric
    * `RegressionEvaluator.evaluate` builds, so the values are identical to
    * three evaluator calls at a third of the jobs. */
  def evaluate(name: String, predictions: DataFrame): RegMetrics = {
    val m = new RegressionEvaluator()
      .setLabelCol(LabelCol).setPredictionCol("prediction")
      .getMetrics(predictions)
    RegMetrics(name, m.meanAbsoluteError, m.rootMeanSquaredError, m.r2)
  }

  /** M6+M8: [[fitPredict]] then [[evaluate]]. The feature pipeline is fitted
    * ONCE by the caller and reused (the reference redundantly refits it per
    * model — SURVEY §4.1 flags that as waste). */
  def trainAndEval(
      name: String,
      estimator: Estimator[_ <: Model[_]],
      train: DataFrame,
      test: DataFrame): (DataFrame, RegMetrics) = {
    val predictions = fitPredict(estimator, train, test)
    (predictions, evaluate(name, predictions))
  }

  /** M9: LR introspection — coefficients ranked by |weight|. */
  def coefficientRanking(
      model: LinearRegressionModel,
      featureNames: Seq[String]): Seq[(String, Double)] =
    featureNames.zip(model.coefficients.toArray)
      .sortBy { case (_, w) => -math.abs(w) }

  /** Time-based train/test split at a cutoff date (P3/P5,
    * Sales_forecast_pyspark.py:366-377). */
  def timeSplit(df: DataFrame, cutoff: String): (DataFrame, DataFrame) = {
    val inTrain = onOrBefore(cutoff)
    (df.filter(inTrain), df.filter(!inTrain))
  }

  /** Row counts of the two [[timeSplit]] sides, `train_rows` and
    * `test_rows`, from ONE conditional-count aggregate instead of a count
    * job per side. A null InvoiceDate matches neither side, as in the
    * filters. The one-row frame is lazy, so the caller's action on it can be
    * the barrier that fills a pinned input. */
  def splitCounts(df: DataFrame, cutoff: String): DataFrame = {
    val inTrain = onOrBefore(cutoff)
    df.agg(count(when(inTrain, true)).as("train_rows"), count(when(!inTrain, true)).as("test_rows"))
  }

  private def onOrBefore(cutoff: String): Column = col("InvoiceDate") <= to_date(lit(cutoff))
}
