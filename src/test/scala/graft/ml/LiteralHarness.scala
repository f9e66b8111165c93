package graft.ml

import org.apache.spark.ml.{Estimator, Model, Pipeline}
import org.apache.spark.ml.feature.{StringIndexer, VectorAssembler}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.forecast.Forecast
import graft.ml.ForecastModels.RegMetrics

/** The reference's literal ML and KPI harness, written the way
  * Sales_forecast_pyspark.py writes it: two single-column indexers and an
  * assembler refitted per training frame, one model per segment over the
  * wide feature frame, and the MA(6) baseline attached by a join. The
  * pipeline computes the same numbers from one pin without refits or joins;
  * these are the specs' oracles for that. */
object LiteralHarness {

  /** M1+M2: Country/StockCode indexers (handleInvalid=keep maps unseen
    * categories to an extra index, Sales_forecast_pyspark.py:389-400) +
    * assembler (handleInvalid=skip drops rows with null/NaN features,
    * Sales_forecast_pyspark.py:417). */
  def featurePipeline(featureCols: Seq[String]): Pipeline = {
    val countryIdx = new StringIndexer()
      .setInputCol("Country").setOutputCol("CountryIndex")
      .setHandleInvalid("keep").setStringOrderType("frequencyDesc")
    val stockIdx = new StringIndexer()
      .setInputCol("StockCode").setOutputCol("StockCodeIndex")
      .setHandleInvalid("keep").setStringOrderType("frequencyDesc")
    val assembler = new VectorAssembler()
      .setInputCols((featureCols ++ Seq("CountryIndex", "StockCodeIndex")).toArray)
      .setOutputCol("features")
      .setHandleInvalid("skip")
    new Pipeline().setStages(Array(countryIdx, stockIdx, assembler))
  }

  /** M8: segmented harness — per segment predicate, refit [[featurePipeline]]
    * on the segment's train rows, train and evaluate one model, and
    * recombine the predictions with unionByName (U1,
    * Sales_forecast_pyspark.py:1457-1539, 1594). Like the reference, it
    * caches no predictions. */
  def segmented(
      segments: Seq[(String, DataFrame => DataFrame)],
      mkEstimator: () => Estimator[_ <: Model[_]],
      featureCols: Seq[String],
      train: DataFrame,
      test: DataFrame): (DataFrame, Seq[RegMetrics]) = {
    val results = segments.map { case (name, filterFn) =>
      val trainSeg = filterFn(train)
      val features = featurePipeline(featureCols).fit(trainSeg)
      ForecastModels.trainAndEval(
        name, mkEstimator(), features.transform(trainSeg), features.transform(filterFn(test)))
    }
    (results.map(_._1).reduce(_ unionByName _), results.map(_._2))
  }

  /** The MA(6) baseline as the reference writes it (W6,
    * Sales_forecast_pyspark.py:1270-1294): the sliding mean over the
    * series' trailing frame [-6, -1], falling back to lag 1. */
  def maBaseline: Column = {
    val qty = col("NetDailyQuantity")
    coalesce(avg(qty).over(Forecast.seriesW.rowsBetween(-6, -1)),
      lag(qty, 1).over(Forecast.seriesW).cast(DoubleType)).as("baseline_qty")
  }

  /** Evaluation join (J2 + error columns): predictions ⟕ the MA(6) baseline
    * over the full history on (Country, StockCode, InvoiceDate), then the
    * error columns (Sales_forecast_pyspark.py:1296-1345). */
  def evalAgainstBaseline(dailyAll: DataFrame, predictions: DataFrame): DataFrame = {
    val keys = Forecast.SeriesKeys :+ "InvoiceDate"
    val base = dailyAll.select(keys.map(col) :+ maBaseline: _*)
    val pred = predictions.select(
      (keys ++ Seq("NetDailyQuantity", "AvgUnitPrice", "prediction")).map(col): _*)
    Forecast.withErrorColumns(pred.join(base, keys, "left"))
  }
}
