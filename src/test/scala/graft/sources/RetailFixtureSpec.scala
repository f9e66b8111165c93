package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.forecast.{Forecast, ReferencePipeline}
import graft.ml.{ForecastModels, LiteralHarness}
import graft.ml.ForecastModels.RegMetrics

/** End-to-end replay of the reference pipeline on the Online-Retail-shaped
  * fixture (FIXTURES.md §A1): raw "M/d/yy H:mm" CSV → explicit-schema ingest →
  * exact dedup → daily aggregation → compat feature frame → time split →
  * model fit, asserting the STRUCTURE of the reference's printed invariants
  * (Sales_forecast_pyspark.py:84-103,366-377; ipynb:245-246,3152-3153). */
class RetailFixtureSpec extends SparkSpec {

  private lazy val (csvPath, stats) = {
    val p = java.nio.file.Files.createTempDirectory("retail_fx").resolve("retail.csv").toString
    (p, RetailFixture.writeCsv(p))
  }
  private lazy val raw = CsvSource.readRetail(spark, csvPath).cache()
  private lazy val cleaned = CsvSource.cleaned(raw).cache()

  test("generator is deterministic for a fixed seed") {
    val (a, sa) = RetailFixture.lines(7L)
    val (b, sb) = RetailFixture.lines(7L)
    assert(a === b && sa === sb)
    val (c, _) = RetailFixture.lines(8L)
    assert(a !== c)
  }

  test("raw ingest parses M/d/yy H:mm dates onto the reference calendar (no Saturdays)") {
    val r = raw
      .agg(
        min("InvoiceDate").as("lo"), max("InvoiceDate").as("hi"),
        sum(when(dayofweek(col("InvoiceDate")) === 7, 1).otherwise(0)).as("saturdays"),
        sum(when(col("InvoiceDate").isNull, 1).otherwise(0)).as("unparsed"))
      .head()
    assert(r.getAs[java.sql.Date]("lo").toString === "2010-12-01")
    assert(r.getAs[java.sql.Date]("hi").toString === "2011-12-09")
    assert(r.getAs[Long]("saturdays") === 0L)
    assert(r.getAs[Long]("unparsed") === 0L)
  }

  test("exact dedup removes exactly the injected duplicate count (541,909→536,640 shape)") {
    val rawN = raw.count()
    val dedupN = cleaned.count()
    assert(stats.injectedDups > 0)
    assert(rawN === stats.rawLines.toLong)
    assert(rawN - dedupN === stats.injectedDups.toLong)
  }

  test("country histogram: 31 countries, UK-dominant, sparse tail survives ingest") {
    val counts = cleaned.groupBy("Country").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.size === 31)
    assert(counts.size === stats.countries)
    val ukShare = counts(RetailFixture.UK).toDouble / counts.values.sum
    assert(ukShare > 0.80 && ukShare < 0.92, s"UK share $ukShare outside reference shape")
    assert(RetailFixture.sparseCountries.forall(c => counts(c) > 0 && counts(c) < 5))
  }

  test("reference quirks survive ingest: returns, zero prices, guest checkouts") {
    assert(raw.filter(col("Quantity") < 0).count() > 0)
    assert(raw.filter(col("UnitPrice") === 0.0).count() > 0)
    assert(raw.filter(col("CustomerID").isNull).count() > 0)
    // net semantics: returns subtract at the daily grain, never dropped
    val daily = Forecast.dailySalesCompat(cleaned)
    assert(daily.filter(col("NetDailyQuantity") < 0).count() > 0)
  }

  test("time split at 2011-09-01 lands near the reference's 64/36 shape") {
    val features = ReferencePipeline.featureFrameCompat(Forecast.dailySalesCompat(cleaned))
    val (train, test) = ForecastModels.timeSplit(features, "2011-09-01")
    val (a, b) = (train.count(), test.count())
    val frac = a.toDouble / (a + b)
    assert(frac > 0.55 && frac < 0.75, s"train fraction $frac; reference is 197016/310015=0.636")
  }

  test("golden metrics: lr_v2 scorecard pinned to bands a regParam drift escapes") {
    // Reference-parity of the ML tier pinned by NUMBERS, not structure:
    // the seed-pinned lr_v2 (Lasso regParam 0.05) scorecard on the fixture
    // must land inside tight tolerance bands, and the nearest plausible
    // hyperparameter drift — regParam 0.1, the reference's own v1 preset —
    // must land OUTSIDE them, so a silent preset swap flips this test.
    val daily = Forecast.dailySalesCompat(cleaned)
    val features = ReferencePipeline.featureFrameCompat(daily).cache()
    features.count()
    val (train, testDf) = ForecastModels.timeSplit(features, "2011-09-01")
    val cols = ForecastModels.numericFeatureCols(features)
    val fp = LiteralHarness.featurePipeline(cols).fit(train)
    val (_, v2) = ForecastModels.trainAndEval(
      "lr_v2", ForecastModels.lasso(0.05), fp.transform(train), fp.transform(testDf))
    val (_, v1drift) = ForecastModels.trainAndEval(
      "lr_v1", ForecastModels.lasso(0.1), fp.transform(train), fp.transform(testDf))
    features.unpersist()
    info(f"v2    mae=${v2.mae}%.6f rmse=${v2.rmse}%.6f r2=${v2.r2}%.6f")
    info(f"drift mae=${v1drift.mae}%.6f rmse=${v1drift.rmse}%.6f r2=${v1drift.r2}%.6f")
    // bands pinned from the seed-42 fixture run (see info lines); ±0.5%
    // relative — wide enough for OWLQN treeAggregate order jitter, far
    // tighter than the regParam-drift displacement
    def inBand(x: Double, golden: Double): Boolean =
      math.abs(x - golden) <= 0.005 * math.abs(golden)
    assert(inBand(v2.mae, GOLDEN_MAE), s"lr_v2 MAE ${v2.mae} left the golden band")
    assert(inBand(v2.rmse, GOLDEN_RMSE), s"lr_v2 RMSE ${v2.rmse} left the golden band")
    assert(inBand(v2.r2, GOLDEN_R2), s"lr_v2 R2 ${v2.r2} left the golden band")
    assert(!inBand(v1drift.mae, GOLDEN_MAE) || !inBand(v1drift.rmse, GOLDEN_RMSE),
      "regParam 0.1 drift landed inside the golden bands — bands too loose to discriminate")
  }
  // pinned from the seed-42 fixture run (info lines above print the live
  // values on every run); regParam 0.1 lands at mae 0.6152 / rmse 0.8293 —
  // ~27% displacement vs the ±0.5% bands
  private val GOLDEN_MAE = 0.484578
  private val GOLDEN_RMSE = 0.702601
  private val GOLDEN_R2 = 0.996149

  test("full compat pipeline replays end-to-end on the fixture") {
    val r = ReferencePipeline.runOnSales(
      cleaned, cutoff = "2011-09-01", models = Seq("lr"), referenceCompat = true)
    assert(r.trainRows > 0 && r.testRows > 0)
    val lr = r.scorecards.head
    assert(!lr.mae.isNaN && lr.mae > 0 && !lr.rmse.isNaN)
    assert(!r.maeModel.isNaN && !r.maeBaseline.isNaN)
  }

  test("lr_seg on runOnSales' pin equals the literal segmented harness bit for bit, with and without referenceCompat") {
    val bits = java.lang.Double.doubleToRawLongBits _
    def card(m: RegMetrics) = (m.name, bits(m.mae), bits(m.rmse), bits(m.r2))
    val inUk = (df: org.apache.spark.sql.DataFrame) => df.filter(col("Country") === RetailFixture.UK)
    val others = (df: org.apache.spark.sql.DataFrame) => df.filter(col("Country") =!= RetailFixture.UK)
    for (compat <- Seq(false, true)) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val (r, released) =
        releasedRdds(ReferencePipeline.runOnSales(cleaned, "2011-09-01", Seq("lr_seg", "lr"), referenceCompat = compat))
      // the daily grain and the one slim pin, which both segments and lr read
      assert(released.size === 2, s"referenceCompat=$compat: released RDDs: $released")
      val lr = ReferencePipeline.runOnSales(cleaned, "2011-09-01", Seq("lr"), referenceCompat = compat)
      val daily = (if (compat) Forecast.dailySalesCompat(cleaned) else Forecast.dailySales(cleaned)).cache()
      val wide = if (compat) ReferencePipeline.featureFrameCompat(daily) else ReferencePipeline.featureFrame(daily)
      val (train, test) = ForecastModels.timeSplit(wide, "2011-09-01")
      val (union, segments) = LiteralHarness.segmented(
        Seq("lr_seg_uk" -> inUk, "lr_seg_others" -> others),
        () => ForecastModels.lasso(0.05), ForecastModels.numericFeatureCols(wide), train, test)
      try {
        assert(r.scorecards.map(card) === (segments :+ lr.scorecards.head).map(card), s"referenceCompat=$compat")
        val kpi = Forecast.kpiGlobalValueWeighted(LiteralHarness.evalAgainstBaseline(daily, union)).head()
        assert(bits(r.maeModel) === bits(kpi.getAs[Double]("mae_model")))
        assert(bits(r.maeBaseline) === bits(kpi.getAs[Double]("mae_baseline")))
        assert(bits(r.valueWeightedReductionPct) === bits(kpi.getAs[Double]("pct_reduction")))
        assert((r.trainRows, r.testRows) === (lr.trainRows, lr.testRows))
        info(f"referenceCompat=$compat: " + r.scorecards.map(m => f"${m.name} mae=${m.mae}%.4f").mkString(", ") +
          f"; value-weighted reduction ${r.valueWeightedReductionPct}%.2f%%")
      } finally daily.unpersist()
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"referenceCompat=$compat: persistent RDDs left behind: $leaked")
    }
  }
}
