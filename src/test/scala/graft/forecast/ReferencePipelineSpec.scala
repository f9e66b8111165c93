package graft.forecast

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.SparkSpec

/** E2E replay on sf0.001: the full reference flow must run and produce a
  * coherent scorecard (finite metrics, sensible split, KPI columns). */
class ReferencePipelineSpec extends SparkSpec {

  /** sf0.001's invoice lines as ONE parquet input, so every file scan in a
    * run is a scan of the sales input. */
  private lazy val salesFile = {
    val dir = Files.createTempDirectory("graft-sales").resolve("lines").toString
    graft.Tables.salesLines(spark, SparkSpec.Sf0001).write.parquet(dir)
    dir
  }

  /** Ids of the Spark jobs that ran a stage scanning an input file while
    * `body` ran. A completed stage belongs to the first job that listed it. */
  private def fileScanJobs(body: => Unit): Set[Int] = {
    val jobOfStage = new ConcurrentHashMap[Int, Int]()
    val scanJobs = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageIds.foreach(jobOfStage.putIfAbsent(_, e.jobId))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scanJobs.add(jobOfStage.get(e.stageInfo.stageId))
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    scanJobs.asScala.toSet
  }

  test("runOnSales scans its sales input in exactly one Spark job, with and without referenceCompat") {
    // the daily grain is cached once; the split counts, indexers and
    // features read it from the cache instead of replaying the input lineage
    for (compat <- Seq(false, true)) {
      val sales = spark.read.parquet(salesFile)
      val jobs = fileScanJobs {
        ReferencePipeline.runOnSales(sales, "1999-09-01", Seq("lr"), referenceCompat = compat)
      }
      assert(jobs.size === 1, s"referenceCompat=$compat: input scanned by jobs $jobs")
    }
  }

  test("runOnSales releases every pin it creates") {
    val sales = graft.Tables.salesLines(spark, SparkSpec.Sf0001)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (_, released) = releasedRdds(ReferencePipeline.runOnSales(sales, "1999-09-01", Seq("lr")))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persistent RDDs left behind: $leaked")
    // the daily grain and the slim assembled pin; the predictions stay lazy
    assert(released.size === 2, s"released RDDs: $released")
  }

  test("runOnSales rejects a bad model list, and a failing call releases every pin") {
    val sales = graft.Tables.salesLines(spark, SparkSpec.Sf0001)
    // sf0.001 has no United Kingdom rows, so lr_seg's UK segment cannot fit
    val cases = Seq(Seq("nope") -> "unknown model: nope", Seq() -> "no model named", Seq("lr_seg") -> "no train rows")
    for ((models, cause) <- cases) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val e = intercept[IllegalArgumentException](ReferencePipeline.runOnSales(sales, "1999-09-01", models))
      assert(e.getMessage.contains(cause), s"models=$models: ${e.getMessage}")
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"models=$models: persistent RDDs left behind: $leaked")
    }
  }

  test("referenceCompat frame carries the reference's full feature width") {
    val daily = Forecast.dailySalesCompat(
      graft.Tables.salesLines(spark, SparkSpec.Sf0001))
    val frame = ReferencePipeline.featureFrameCompat(daily)
    val lagCols = frame.columns.filter(_.startsWith("lag_"))
    val rollCols = frame.columns.filter(_.startsWith("roll_"))
    val diffCols = frame.columns.filter(_.startsWith("diff_"))
    assert(lagCols.length === 36) // 6 lags × {qty,price} × {day,6daycycle,dow}
    assert(rollCols.length === 18) // {3,6,12}d + {3,4,5}_dow × mean/std/median
    assert(diffCols.length === 12) // mean+median diffs vs both families
    // the reference's literal column names (py:617-646)
    assert(lagCols.contains("lag_quantity_4_6daycycle"))
    assert(diffCols.contains("diff_qty_median_5_dow"))
    // assembler width = 5 calendar + 71 numeric-derived + 2 indexers = 73,
    // exactly the feature_columns_v3 set (py:1006-1061)
    val numeric = graft.ml.ForecastModels.numericFeatureCols(frame)
    assert(numeric.length + 2 === 73, s"got ${numeric.length} numeric cols")
    // lag columns are the reference's rounded integers (round(...,0))
    val row = frame
      .filter(frame("lag_price_1_day").isNotNull)
      .select("lag_price_1_day").limit(200)
      .collect()
    assert(row.nonEmpty)
    row.foreach { r =>
      val v = r.getDouble(0)
      assert(v === math.rint(v), s"lag price $v not integer-rounded")
    }
  }

  test("referenceCompat pipeline runs end-to-end and still beats nothing-burger metrics") {
    val r = ReferencePipeline.run(
      spark, SparkSpec.Sf0001, cutoff = "1999-09-01", models = Seq("lr"),
      referenceCompat = true)
    assert(r.trainRows > 0 && r.testRows > 0)
    val lr = r.scorecards.head
    assert(!lr.mae.isNaN && lr.mae > 0)
    assert(!r.maeModel.isNaN && !r.maeBaseline.isNaN)
  }

  test("full pipeline replays end-to-end on sf0.001 with LR") {
    val r = ReferencePipeline.run(
      spark, SparkSpec.Sf0001, cutoff = "1999-09-01", models = Seq("lr"))
    assert(r.trainRows > 0 && r.testRows > 0)
    // ~64/36 style time split (reference proportions are cutoff-dependent;
    // just require both sides substantial)
    assert(r.testRows.toDouble / (r.trainRows + r.testRows) > 0.2)
    val lr = r.scorecards.head
    assert(lr.name === "lr_v2")
    assert(!lr.mae.isNaN && lr.mae > 0)
    assert(!lr.rmse.isNaN && lr.rmse >= lr.mae)
    assert(!r.maeModel.isNaN && !r.maeBaseline.isNaN)
    assert(!r.valueWeightedReductionPct.isNaN)
    // Published-scorecard ORDERING replay (BASELINE.md "KPIs vs baseline",
    // README.md:44-72): the exact UCI metric values are unreachable in the
    // sandbox (no UCI data), but the reference's qualitative scorecard —
    // the lag-feature Lasso beats the MA(6)+last-value baseline on MAE, and
    // the value-weighted error reduction is positive — must reproduce on
    // the synthetic fixture; a pipeline that inverted either ordering would
    // not be the reference's pipeline.
    assert(r.maeModel < r.maeBaseline,
      s"LR MAE ${r.maeModel} must beat baseline MAE ${r.maeBaseline} (published: 1.50 vs 18.18)")
    assert(r.valueWeightedReductionPct > 0,
      s"value-weighted reduction ${r.valueWeightedReductionPct}% must be positive (published: 83.49%)")
  }
}
