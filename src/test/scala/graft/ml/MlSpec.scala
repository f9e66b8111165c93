package graft.ml

import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.sql.functions._

import graft.SparkSpec

class MlSpec extends SparkSpec {
  import spark.implicits._

  /** Synthetic daily frame with a known linear signal:
    * qty = 3*lag_qty_1_day + noiseless. */
  private lazy val frame = {
    val rows = for {
      c <- Seq("A", "B"); p <- Seq("X", "Y"); i <- 1 to 40
    } yield (c, p, java.sql.Date.valueOf(f"2024-01-${(i % 28) + 1}%02d"),
      (i + 1).toLong * 3, i.toLong)
    rows.toDF("Country", "StockCode", "InvoiceDate", "NetDailyQuantity", "lag_qty_1_day")
  }

  /** The indexers and assembler fitted on the whole synthetic frame. */
  private lazy val features =
    ForecastModels.featurePipelineOn(Seq("lag_qty_1_day"), frame, frame)

  /** Country A, and every other country: B alone, whose global index (1,
    * after A in the frequency tie) differs from its index within the
    * segment (0). */
  private val segments = Seq("seg_a" -> (col("Country") === "A"), "seg_rest" -> (col("Country") =!= "A"))

  /** The slim pin over the synthetic frame, as the pipeline pins it, with
    * every row on or before the cutoff, so it indexes as [[features]] does. */
  private def pinned() = {
    val wide = frame.withColumn("AvgUnitPrice", lit(1.0)).withColumn("baseline_qty", lit(0.0))
    ForecastModels.assembled(frame, wide, "2024-12-31").cache()
  }

  private def persistentIds = spark.sparkContext.getPersistentRDDs.keySet

  test("feature pipeline indexes categoricals and assembles vectors; skip drops null rows") {
    val extra = Seq(("C", "Z", "2024-02-01", 5L))
      .toDF("Country", "StockCode", "d", "NetDailyQuantity")
      .withColumn("InvoiceDate", to_date(col("d"))).drop("d")
      .withColumn("lag_qty_1_day", lit(null).cast("long"))
      .select(frame.columns.map(col): _*)
    val withNull = frame.union(extra)
    val fitted = ForecastModels.featurePipelineOn(Seq("lag_qty_1_day"), withNull, withNull)
    val out = fitted.transform(withNull)
    assert(out.columns.contains("features"))
    // handleInvalid=skip silently drops the null-feature row (reference behavior)
    assert(out.count() === frame.count())
  }

  test("featurePipelineOn (multi-col indexer, foreign fit frame) matches featurePipeline exactly") {
    // the fast path must produce bit-identical indices + vectors: one
    // multi-column indexer pass over the pre-feature frame vs the two
    // reference-literal single-column fits over the feature frame
    val literal = LiteralHarness.featurePipeline(Seq("lag_qty_1_day")).fit(frame)
    val fast = ForecastModels.featurePipelineOn(
      Seq("lag_qty_1_day"), frame.drop("lag_qty_1_day"), frame)
    // the frame repeats keys (dates wrap at 28), so rows sort by every
    // compared column, not by the key alone
    val compared = Seq("Country", "StockCode", "InvoiceDate", "CountryIndex", "StockCodeIndex", "f").map(col)
    def rows(m: org.apache.spark.ml.PipelineModel) = m.transform(frame)
      .withColumn("f", col("features").cast("string"))
      .select(compared: _*).orderBy(compared: _*).collect().map(_.toSeq).toSeq
    assert(rows(literal) === rows(fast))
  }

  test("fitPredict returns the same predictions as trainAndEval without the eval passes") {
    val assembled = features.transform(frame)
    val (predEval, _) = ForecastModels.trainAndEval(
      "lr_test", ForecastModels.lasso(0.0), assembled, assembled)
    val pred = ForecastModels.fitPredict(ForecastModels.lasso(0.0), assembled, assembled)
    val compared = Seq("Country", "StockCode", "InvoiceDate", "prediction").map(col)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(compared: _*).orderBy(compared: _*).collect().map(_.toSeq).toSeq
    assert(rows(predEval) === rows(pred))
  }

  test("one-pass evaluate equals three single-metric evaluator calls bit for bit") {
    // a regularized fit on a noisy label keeps every metric away from 0 and 1
    val noisy = frame.withColumn(ForecastModels.LabelCol,
      col(ForecastModels.LabelCol) + (col("lag_qty_1_day") % 7) * (col("lag_qty_1_day") % 3))
    val assembled = features.transform(noisy)
    val pred = ForecastModels.fitPredict(ForecastModels.lasso(0.05), assembled, assembled)
    val got = ForecastModels.evaluate("lr_test", pred)
    def metric(m: String): Double = new RegressionEvaluator()
      .setLabelCol(ForecastModels.LabelCol).setPredictionCol("prediction").setMetricName(m)
      .evaluate(pred)
    val bits = java.lang.Double.doubleToRawLongBits _
    assert(got.name === "lr_test")
    assert(bits(got.mae) === bits(metric("mae")))
    assert(bits(got.rmse) === bits(metric("rmse")))
    assert(bits(got.r2) === bits(metric("r2")))
    assert(got.r2 < 1.0 && got.mae > 0.0)
  }

  test("lasso recovers a noiseless linear relation and evaluates near-perfect") {
    val (pred, metrics) = ForecastModels.trainAndEval(
      "lr_test", ForecastModels.lasso(0.0), features.transform(frame), features.transform(frame))
    assert(metrics.r2 > 0.999, s"r2 was ${metrics.r2}")
    assert(metrics.mae < 1.0)
    assert(pred.columns.contains("prediction"))
  }

  test("segmented harness trains per segment and recombines with unionByName") {
    val before = persistentIds
    val pin = pinned()
    val parts = segments.map { case (name, in) =>
      val seg = ForecastModels.segmentFeatures(pin, frame.filter(in))
      ForecastModels.trainAndEval(name, ForecastModels.lasso(0.0), seg(pin.filter(in)), seg(pin.filter(in)))
    }
    val pred = parts.map(_._1).reduce(_ unionByName _)
    assert(parts.map(_._2.name) === Seq("seg_a", "seg_rest"))
    assert(pred.count() === frame.count())
    parts.foreach { case (_, m) => assert(m.r2 > 0.99) }
    // a key-set check: the map holds weak values, so its size can shrink
    pin.unpersist()
    val leaked = persistentIds -- before
    assert(leaked.isEmpty, s"persistent RDDs left behind: $leaked")
  }

  test("segmentFeatures re-indexes the pin's vectors exactly as the literal pipeline refitted on the segment") {
    val pin = pinned()
    val key = Seq("Country", "StockCode", "InvoiceDate").map(col)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(key :+ col("features").cast("string").as("f"): _*).orderBy(key :+ col("f"): _*)
        .collect().map(_.toSeq).toSeq
    try for ((_, in) <- segments) {
      val seg = frame.filter(in)
      val literal = LiteralHarness.featurePipeline(Seq("lag_qty_1_day")).fit(seg).transform(seg)
      val derived = ForecastModels.segmentFeatures(pin, seg)(pin.filter(in))
      assert(rows(derived) === rows(literal))
    } finally pin.unpersist()
    // the global vectors index B after A, so they differ from seg_rest's
    val global = rows(features.transform(frame.filter(segments(1)._2)))
    val literalRest = rows(LiteralHarness.featurePipeline(Seq("lag_qty_1_day"))
      .fit(frame.filter(segments(1)._2)).transform(frame.filter(segments(1)._2)))
    assert(global !== literalRest)
  }

  test("coefficient ranking orders features by absolute weight") {
    val model = ForecastModels.lasso(0.0).fit(features.transform(frame))
    val ranked = ForecastModels.coefficientRanking(
      model, Seq("lag_qty_1_day", "CountryIndex", "StockCodeIndex"))
    assert(ranked.head._1 === "lag_qty_1_day")
    assert(math.abs(ranked.head._2 - 3.0) < 0.05)
  }

  test("splitCounts counts both timeSplit sides in one aggregate; null dates match neither") {
    val withNullDate = frame.union(frame.limit(1).withColumn("InvoiceDate", lit(null).cast("date")))
    val (train, test) = ForecastModels.timeSplit(withNullDate, "2024-01-10")
    val counts = ForecastModels.splitCounts(withNullDate, "2024-01-10").head()
    assert(counts.getAs[Long]("train_rows") === train.count())
    assert(counts.getAs[Long]("test_rows") === test.count())
    assert(train.count() + test.count() === frame.count())
  }

  test("reference model presets carry the documented hyperparameters") {
    val lr = ForecastModels.lasso(0.05)
    assert(lr.getMaxIter === 20 && lr.getElasticNetParam === 1.0 && lr.getRegParam === 0.05)
    val rf = ForecastModels.randomForest(100)
    assert(rf.getNumTrees === 100 && rf.getMaxDepth === 5 &&
      rf.getMaxBins === 10000 && rf.getSeed === 42)
    val g = ForecastModels.gbt(100, 0.05)
    assert(g.getLossType === "absolute" && g.getMaxIter === 100 && g.getStepSize === 0.05)
  }
}
