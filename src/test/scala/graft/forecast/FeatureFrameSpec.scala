package graft.forecast

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{OffsetWindowFunction, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkSpec, Tables}
import graft.functions.RollingStatsExpr
import graft.ml.{ForecastModels, LiteralHarness}
import graft.sources.CsvSource

/** The fused feature frame on sf0.001: it equals the literal lag, rolling
  * and diff columns bit for bit, its `baseline_qty` equals the MA(6) baseline
  * joined on the keys, KPIs read from it equal the join-based evaluation,
  * and its plan has the shape the reference pipeline relies on. */
class FeatureFrameSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Keys = Seq("Country", "StockCode", "InvoiceDate")

  private lazy val sales = Tables.salesLines(spark, SparkSpec.Sf0001)

  /** Row count and an order-independent digest: the sum over rows of
    * xxhash64 of the values cast to string. A double's string is its
    * shortest round-trip form, so equal digests mean equal bits. */
  private def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(
      count(lit(1)),
      sum(xxhash64(df.columns.toSeq.map(c => col(c).cast("string")): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1))
  }

  private def filled(df: DataFrame): DataFrame =
    df.na.fill(0.0, df.columns.filter(c => c.startsWith("roll_") || c.startsWith("diff_")))

  /** The daily grain plus two copies each of one row with a null
    * InvoiceDate and with a null Country, cached so every reader sees the
    * same rows. The second copy has the first in its trailing window, so
    * only the null-key guard keeps its baseline null, as the join does. */
  private def withNullKeys(daily: DataFrame): DataFrame = {
    val row = daily.orderBy(Keys.map(col): _*).limit(1)
    val nulls = Seq("InvoiceDate" -> "date", "Country" -> "string")
      .map { case (c, t) => row.withColumn(c, lit(null).cast(t)) }
    (nulls ++ nulls).foldLeft(daily)(_ union _).cache()
  }

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  /** The reference's 36 lags written out, each raw lag wrapped by `wrapQty`
    * or `wrapPrice`. */
  private def literalLags(qtyName: String, cycle: String,
      wrapQty: Column => Column, wrapPrice: Column => Column): Seq[Column] = {
    val (qty, price) = (col("NetDailyQuantity"), col("AvgUnitPrice"))
    val (s, d) = (Forecast.seriesW, Forecast.dowW)
    (1 to 6).flatMap { i =>
      Seq(
        wrapQty(lag(qty, i).over(s)).as(s"lag_${qtyName}_${i}_day"),
        wrapPrice(lag(price, i).over(s)).as(s"lag_price_${i}_day"),
        wrapQty(lag(qty, 6 * i).over(s)).as(s"lag_${qtyName}_${i}_$cycle"),
        wrapPrice(lag(price, 6 * i).over(s)).as(s"lag_price_${i}_$cycle"),
        wrapQty(lag(qty, i).over(d)).as(s"lag_${qtyName}_${i}_dow"),
        wrapPrice(lag(price, i).over(d)).as(s"lag_price_${i}_dow"))
    }
  }

  /** The rolling columns, `stats(w, n, suffix)` over the series frames 3, 6,
    * 12 and the same-weekday frames 3, 4, 5. */
  private def rollCols(stats: (WindowSpec, Int, String) => Seq[Column]): Seq[Column] =
    Seq(3, 6, 12).flatMap(n => stats(Forecast.seriesW, n, s"${n}d")) ++
      Seq(3, 4, 5).flatMap(n => stats(Forecast.dowW, n, s"${n}_dow"))

  /** The reference's rolling columns: avg, stddev_samp and
    * percentile_approx over the sliding trailing frames. */
  private def compatRollCols: Seq[Column] = rollCols { (w, frame, suffix) =>
    val qty = col("NetDailyQuantity")
    val f = w.rowsBetween(-frame, -1)
    Seq(avg(qty).over(f).as(s"roll_mean_$suffix"),
      stddev_samp(qty).over(f).as(s"roll_std_$suffix"),
      percentile_approx(qty, lit(0.5), lit(10000)).over(f).as(s"roll_median_$suffix"))
  }

  /** The rolling columns as the sliding-frame aggregates that the
    * rolling-stats kernel replaced. */
  private def slidingRollCols: Seq[Column] = rollCols { (w, frame, suffix) =>
    val qty = col("NetDailyQuantity")
    val f = w.rowsBetween(-frame, -1)
    val n = count(qty).over(f).cast(DoubleType)
    val s1 = sum(qty).over(f).cast(DoubleType)
    val s2 = sum(qty * qty).over(f).cast(DoubleType)
    Seq((s1 / n).as(s"roll_mean_$suffix"),
      when(n >= 2, sqrt((s2 - s1 * s1 / n) / (n - lit(1.0)))).as(s"roll_std_$suffix"),
      percentile(qty, lit(0.5)).over(f).as(s"roll_median_$suffix"))
  }

  /** `df` and the quantity minus the rolling mean and median of each frame. */
  private def withDiffs(df: DataFrame, frames: Seq[String]): DataFrame = {
    val qty = col("NetDailyQuantity").cast(DoubleType)
    df.select(col("*") +: frames.flatMap(f => Seq("mean", "median").map(s =>
      (qty - col(s"roll_${s}_$f")).as(s"diff_qty_${s}_$f"))): _*)
  }

  test("featureFrame and featureFrameCompat equal the lag, rolling and diff composition") {
    val rounded = (c: Column) => round(coalesce(c, lit(0)), 0)
    val cases = Seq(
      (ReferencePipeline.featureFrame _, Forecast.dailySales(sales),
        literalLags("qty", "6cycle", coalesce(_, lit(0L)), coalesce(_, lit(0.0))) ++ slidingRollCols,
        Seq("3d", "6d", "12d")),
      (ReferencePipeline.featureFrameCompat _, Forecast.dailySalesCompat(sales),
        literalLags("quantity", "6daycycle", rounded, rounded) ++ compatRollCols,
        Seq("3d", "6d", "12d", "3_dow", "4_dow", "5_dow")))
    for ((fused, daily, windowCols, diffFrames) <- cases) {
      val got = fused(daily).drop("baseline_qty")
      val want = filled(withDiffs(daily.select(daily.columns.map(col).toSeq ++ windowCols: _*), diffFrames))
      assert(got.columns.toSeq === want.columns.toSeq)
      assert(digest(got) === digest(want))
    }
  }

  /** [[slidingRollCols]] and the MA(6) baseline as sliding-frame aggregates. */
  private def slidingFrameCols: Seq[Column] = {
    val qty = col("NetDailyQuantity")
    val f6 = Forecast.seriesW.rowsBetween(-6, -1)
    slidingRollCols :+
      coalesce(sum(qty).over(f6).cast(DoubleType) / count(qty).over(f6).cast(DoubleType),
        lag(qty, 1).over(Forecast.seriesW).cast(DoubleType)).as("baseline_qty")
  }

  test("the kernel's rolling columns and baseline equal the sliding-frame aggregates bit for bit") {
    // sf0.001 plus 7 series of returns and repeated quantities in -20..20
    val returns = spark.range(0, 2100).select(
      lit("ZZ").as("Country"),
      pmod(col("id"), lit(7L)).cast("string").as("StockCode"),
      date_add(lit("1999-01-01").cast("date"), (col("id") / 7).cast("int")).as("InvoiceDate"),
      (pmod(xxhash64(col("id")), lit(41L)) - 20).as("Quantity"),
      lit(1.0).as("UnitPrice"),
      (pmod(xxhash64(col("id")), lit(41L)) - 20).cast("double").as("LineRevenue"))
    val daily = Forecast.dailySales(sales.unionByName(returns))
    assert(daily.filter(col("NetDailyQuantity") < 0).count() > 0)
    val want = daily.select(Keys.map(col) ++ slidingFrameCols: _*)
    val rolled = Forecast.lagRollFeatures(daily)
    val wide = ReferencePipeline.featureFrame(daily)
    val cols = want.columns.toSeq.map(col)
    assert(digest(rolled.select(cols: _*)) === digest(want))
    // featureFrame fills the rolling nulls with 0.0, not the baseline's
    assert(digest(wide.select(cols: _*)) === digest(filled(want)))
  }

  test("the carried baseline_qty equals maBaseline joined on the keys, null keys included") {
    val daily = withNullKeys(Forecast.dailySales(sales))
    try {
      val carried = ReferencePipeline.featureFrame(daily).select((Keys :+ "baseline_qty").map(col): _*)
      val joined = daily.select(Keys.map(col): _*)
        .join(daily.select(Keys.map(col) :+ LiteralHarness.maBaseline: _*), Keys, "left")
      assert(digest(carried) === digest(joined))
      for (k <- Seq("InvoiceDate", "Country"))
        assert(carried.filter(col(k).isNull && col("baseline_qty").isNull).count() === 2)
    } finally daily.unpersist()
  }

  test("KPIs from frames carrying baseline_qty equal the join-based evaluation bit for bit") {
    val daily = withNullKeys(Forecast.dailySales(sales))
    val wide = ReferencePipeline.featureFrame(daily)
    // the slim pin's predictions, as runOnSales builds them (the assembler
    // drops the null-date rows: their calendar features are null) ...
    val pin = ForecastModels.assembled(daily, wide, "1999-09-01").cache()
    val (train, test) = ForecastModels.timeSplit(pin, "1999-09-01")
    val modelPred = ForecastModels.fitPredict(ForecastModels.lasso(0.05), train, test)
    // ... and the whole feature frame with a fixed forecast, null-key rows kept
    val lagPred = wide.withColumn("prediction", col("lag_qty_1_day").cast("double") * 0.9)
    assert(lagPred.filter(col("InvoiceDate").isNull || col("Country").isNull).count() === 4)
    try for (pred <- Seq(modelPred, lagPred)) {
      val got = Forecast.kpiGlobalValueWeighted(Forecast.withErrorColumns(pred)).head()
      val want = Forecast.kpiGlobalValueWeighted(
        LiteralHarness.evalAgainstBaseline(daily, pred.drop("baseline_qty"))).head()
      assert(got.schema === want.schema)
      for (f <- want.schema.fieldNames) {
        val (a, b) = (got.getAs[AnyRef](f), want.getAs[AnyRef](f))
        // boxed equals: bit equality for doubles, value equality for the count
        assert(a != null && a.equals(b), s"$f: carried $a, joined $b")
      }
    } finally Seq(pin, daily).foreach(_.unpersist())
  }

  test("the feature frames run every window column in exactly two window sorts") {
    val daily = Forecast.dailySales(sales).cache()
    try for ((frame, sizes) <- Seq(
        ReferencePipeline.featureFrame(daily) -> Seq(12, 27),
        ReferencePipeline.featureFrameCompat(daily) -> Seq(21, 31))) {
      val plan = executed(frame)
      val windows = collect(plan) { case w: WindowExec => w }
      assert(windows.size === 2, plan)
      assert(collect(plan) { case s: SortExec => s }.size === 2, plan)
      // each Window lists every window function of its partitioning once
      val fns = windows.map(_.windowExpression.flatMap(_.collect { case e: WindowExpression => e.canonicalized }))
      assert(fns.map(_.size).sorted === sizes, plan)
      for (f <- fns) assert(f.distinct.size === f.size, f)
    } finally daily.unpersist()
  }

  /** The rolling-stats kernels in `plan`. */
  private def kernels(plan: SparkPlan): Seq[RollingStatsExpr] =
    collect(plan) { case p => p }.flatMap(_.expressions.flatMap(_.collect { case k: RollingStatsExpr => k }))

  test("featureFrame's Windows hold only lag functions and each frame's kernel runs once, without codegen fallback") {
    val daily = Forecast.dailySales(sales).cache()
    val fallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val plan = executed(ReferencePipeline.featureFrame(daily))
      val windows = collect(plan) { case w: WindowExec => w }
      assert(windows.size === 2, plan)
      val exprs = windows.flatMap(_.windowExpression)
      val fns = exprs.flatMap(_.collect { case w: WindowExpression => w.windowFunction })
      assert(fns.nonEmpty && fns.forall(_.isInstanceOf[OffsetWindowFunction]), fns)
      assert(exprs.forall(_.find(_.isInstanceOf[AggregateExpression]).isEmpty), exprs)
      assert(kernels(plan).map(_.children.size).sorted === Seq(3, 3, 4, 5, 6, 12), plan)
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", fallback)
      daily.unpersist()
    }
  }

  test("a narrow read runs only the kernel it reads, over only that kernel's lags") {
    val daily = Forecast.dailySales(sales).cache()
    try for ((cols, partitionKeys, width) <- Seq(
        (Keys :+ "baseline_qty", 2, 6),
        (Seq("roll_median_3_dow"), 3, 3))) {
      val plan = executed(Forecast.lagRollFeatures(daily).select(cols.map(col): _*))
      val windows = collect(plan) { case w: WindowExec => w }
      assert(windows.map(_.partitionSpec.size) === Seq(partitionKeys), plan)
      val fns = windows.head.windowExpression.flatMap(_.collect { case w: WindowExpression => w.windowFunction })
      assert(fns.size === width && fns.forall(_.isInstanceOf[OffsetWindowFunction]), plan)
      assert(kernels(plan).map(_.children.size) === Seq(width), plan)
    } finally daily.unpersist()
  }

  test("over a cached grain partitioned by series key, the features need no exchange") {
    val lines = CsvSource.cleaned(sales.drop("LineRevenue"))
    val daily = Forecast.dailySales(lines).cache()
    try {
      val wide = ReferencePipeline.featureFrame(daily)
      for (frame <- Seq(wide, ForecastModels.assembled(daily, wide, "1999-09-01"))) {
        val plan = executed(frame)
        assert(collect(plan) { case s: InMemoryTableScanExec => s }.nonEmpty, plan)
        assert(collect(plan) { case e: ShuffleExchangeLike => e }.isEmpty, plan)
      }
    } finally daily.unpersist()
  }

  test("runOnSales executes no join") {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      ReferencePipeline.runOnSales(sales, "1999-09-01", Seq("lr"))
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val all = plans.asScala.toSeq
    assert(all.nonEmpty)
    val joins = all.flatMap(p => collect(p) { case j: BaseJoinExec => j.nodeName })
    assert(joins.isEmpty, s"joins executed: $joins")
  }
}
