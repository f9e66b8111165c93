package graft.forecast

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.{Exact, GraftFunctions}

/** The reference's time-series feature/KPI operators, re-expressed as
  * composable DataFrame transforms.
  *
  * A "series" is the rows of one (Country, StockCode) partition ordered by
  * InvoiceDate (Sales_forecast_pyspark.py:607-608). The calendar is irregular:
  * lag 1 means the previous *observed* day, not the previous calendar day
  * (Sales_forecast_pyspark.py:613-625).
  *
  * The paper's window features come from one builder per numeric surface,
  * [[lagRollFeatures]] and [[lagRollFeaturesCompat]]. Each selects every
  * distinct (partitioning, column, offset) raw `lag` once, in one Window per
  * partitioning; everything else is a projection over those raw lags: the
  * coalesced or rounded lag features, one rolling-stats kernel per trailing
  * frame, the kernels' fields, the key-guarded baseline and the diffs. A
  * query that reads a few of the columns gets the rest pruned: plain column
  * pruning drops every kernel it does not read, and then every raw lag no
  * column it reads needs (the MA(6) baseline alone runs one kernel over six
  * series lags).
  *
  * Scale notes:
  *  - every window partitioning forces one shuffle+sort; there are exactly
  *    two (series, series+DayOfWeek), and each holds all of its window
  *    functions, each once (the reference selects its 72 lag columns in one
  *    select too, Sales_forecast_pyspark.py:610-647);
  *  - window partitions are (Country, StockCode) — fine-grained keys, so the
  *    shuffle spreads evenly and no single partition can exceed one series;
  *    country-level skew (the reference's UK ≈ 86% hazard, SURVEY §4.3) does
  *    not concentrate on one task because StockCode is part of the key;
  *  - no sliding frame in [[lagRollFeatures]]: the rolling statistics and the
  *    MA(6) baseline are fields of one codegen'd kernel per trailing frame
  *    ([[graft.functions.RollingStatsExpr]]) over its raw lags, which are
  *    offset frames, O(1) per row. A sliding-frame aggregate re-aggregates
  *    its whole frame for every row, and the exact `percentile` sorts a fresh
  *    buffer each time; the kernel sorts at most a dozen longs and reproduces
  *    `percentile`'s interpolation bit for bit. The kernels sit in a
  *    projection of their own, so each runs once per row however many fields
  *    are read.
  */
object Forecast {

  val SeriesKeys: Seq[String] = Seq("Country", "StockCode")

  def seriesW: WindowSpec =
    Window.partitionBy(SeriesKeys.map(col): _*).orderBy(col("InvoiceDate"))

  def dowW: WindowSpec =
    Window.partitionBy((SeriesKeys :+ "DayOfWeek").map(col): _*).orderBy(col("InvoiceDate"))

  /** Calendar features (Sales_forecast_pyspark.py:107-114). Spark's dayofweek
    * is 1=Sunday..7=Saturday. */
  def withCalendar(df: DataFrame): DataFrame =
    df.select(
      col("*"),
      year(col("InvoiceDate")).as("Year"),
      month(col("InvoiceDate")).as("Month"),
      dayofmonth(col("InvoiceDate")).as("Day"),
      weekofyear(col("InvoiceDate")).as("Week"),
      dayofweek(col("InvoiceDate")).as("DayOfWeek"))

  /** The defining daily aggregation (A3, Sales_forecast_pyspark.py:147-164):
    * one row per (Country, StockCode, day) with net quantity, revenue and mean
    * unit price. Grouping keys include the calendar columns (functionally
    * dependent on InvoiceDate, kept for downstream feature use). */
  def dailySales(sales: DataFrame): DataFrame = {
    val keys = Seq("Country", "StockCode", "InvoiceDate",
      "Year", "Month", "Day", "Week", "DayOfWeek")
    withCalendar(sales)
      .groupBy(keys.map(col): _*)
      .agg(
        sum(col("Quantity")).as("NetDailyQuantity"),
        Exact.dsum(col("LineRevenue")).as("NetDailyRevenue"),
        Exact.davg(col("UnitPrice")).as("AvgUnitPrice"))
  }

  /** One of the two window partitionings: the name its raw lag columns
    * carry, and the trailing frames [-n, -1] of its rolling features, whose
    * columns end in `n` and `suffix`. */
  private case class Partitioning(name: String, w: WindowSpec, frames: Seq[Int], suffix: String) {
    def rollSuffix(n: Int): String = s"$n$suffix"
  }

  private val Day = Partitioning("day", seriesW, Seq(3, 6, 12), "d")
  private val Dow = Partitioning("dow", dowW, Seq(3, 4, 5), "_dow")

  /** The window columns of one builder, each selected once: the raw lags,
    * named by (partitioning, column, offset), and any sliding-frame
    * aggregate; and the rolling-stats kernels over the raw lags, one per
    * trailing frame. */
  private final class LagRollCols {
    private val windowed = mutable.LinkedHashMap.empty[String, Column]
    private val kernels = mutable.LinkedHashMap.empty[String, Column]

    /** The window column `c`, selected once as `name`. */
    def windowCol(name: String, c: => Column): Column = {
      windowed.getOrElseUpdate(name, c.as(name))
      col(name)
    }

    /** The raw `lag(column, i)` over `p`. */
    def lagOf(p: Partitioning, column: String, i: Int): Column =
      windowCol(s"_lag_${p.name}_${column}_$i", lag(col(column), i).over(p.w))

    /** The rolling-stats kernel over `p`'s trailing frame [-n, -1] (current
      * row excluded; [[graft.functions.RollingStatsExpr]]), selected once: a
      * struct with the `mean`, `std` and `median` of NetDailyQuantity, read
      * from the raw lags 1..n. */
    def rollKernel(p: Partitioning, n: Int): Column = {
      val name = s"_roll_stats_${p.name}_$n"
      kernels.getOrElseUpdate(name,
        GraftFunctions.rollingStats((1 to n).map(lagOf(p, "NetDailyQuantity", _))).as(name))
      col(name)
    }

    /** `daily`'s columns and `features`. The window columns go in one
      * select, one Window per partitioning; the kernels in a projection
      * above; the features in a projection above that, which drops both. The
      * optimizer does not inline a kernel into each field it reads (it is
      * not cheap), so each kernel runs once per row. */
    def lagRollSelect(daily: DataFrame, features: Seq[Column]): DataFrame = {
      val kept = daily.columns.toSeq.map(col)
      daily.select(kept ++ windowed.values: _*)
        .select(col("*") +: kernels.values.toSeq: _*)
        .select(kept ++ features: _*)
    }
  }

  /** The reference's 36 lags (W1, Sales_forecast_pyspark.py:605-647): for
    * each i in 1..6, quantity and price over the series at offset i, the
    * 6-day cycle at offset 6i and the same weekday at offset i, in the
    * reference's column order, each raw lag wrapped by `wrap`. */
  private def lagCols(b: LagRollCols, qty: String, cycle: String)(wrap: Column => Column): Seq[Column] =
    for {
      i <- 1 to 6
      (p, offset, family) <- Seq((Day, i, "day"), (Day, 6 * i, cycle), (Dow, i, "dow"))
      (column, short) <- Seq("NetDailyQuantity" -> qty, "AvgUnitPrice" -> "price")
    } yield wrap(b.lagOf(p, column, offset)).as(s"lag_${short}_${i}_$family")

  /** Diff-vs-rolling features (W5, Sales_forecast_pyspark.py:948-966): the
    * current quantity minus the rolling mean and median of each frame of
    * `parts`, `stat(p, s, n)` being statistic `s` over frame `n` of `p`. */
  private def diffCols(parts: Seq[Partitioning])(stat: (Partitioning, String, Int) => Column): Seq[Column] = {
    val qty = col("NetDailyQuantity").cast(DoubleType)
    for (p <- parts; n <- p.frames; s <- Seq("mean", "median"))
      yield (qty - stat(p, s, n)).as(s"diff_qty_${s}_${p.rollSuffix(n)}")
  }

  /** The 6-day moving-average baseline (W6, Sales_forecast_pyspark.py:1270-1294),
    * the forecast every model is judged against: the `mean` of `b`'s series
    * kernel over [-6, -1]. The reference falls back to lag 1 where the mean
    * is null; that never changes a value, because lag 1 is the newest row of
    * the frame: when it is non-null, so is the mean. It is null on a row
    * with a null key, as when the baseline is left-joined on (Country,
    * StockCode, InvoiceDate), so predictions that carry it reach
    * [[withErrorColumns]] without a join. */
  private def baselineCol(b: LagRollCols): Column =
    when((SeriesKeys :+ "InvoiceDate").map(col(_).isNotNull).reduce(_ && _), b.rollKernel(Day, 6).getField("mean"))
      .as("baseline_qty")

  /** The paper's window features over the daily grain, unfilled: the 36
    * lags, nulls (insufficient history) coalesced to 0 as in the reference;
    * rolling mean, std and median over the series frames 3, 6, 12 and the
    * same-weekday frames 3, 4, 5 (W2-W4, Sales_forecast_pyspark.py:900-946),
    * read from one kernel per frame; `baseline_qty`; and the diffs
    * against the series frames.
    *
    * std is the explicit sample formula over exact long sums rather than
    * stddev_samp, so it is bit-reproducible whatever the evaluation order.
    * The median is what the exact `percentile` gives: on long inputs its
    * interpolation `0.5·lo + 0.5·hi` is exact in double, unlike the
    * percentile_approx the reference used (Sales_forecast_pyspark.py:922),
    * which [[lagRollFeaturesCompat]] keeps. */
  def lagRollFeatures(daily: DataFrame): DataFrame = {
    val b = new LagRollCols
    def stat(p: Partitioning, s: String, n: Int): Column = b.rollKernel(p, n).getField(s)
    val rolls = for (p <- Seq(Day, Dow); n <- p.frames; s <- Seq("mean", "std", "median"))
      yield stat(p, s, n).as(s"roll_${s}_${p.rollSuffix(n)}")
    b.lagRollSelect(daily, lagCols(b, "qty", "6cycle")(coalesce(_, lit(0))) ++ rolls ++
      (baselineCol(b) +: diffCols(Seq(Day))(stat)))
  }

  // ---- referenceCompat: the reference's literal numeric surface -------------
  //
  // The default operators substitute bit-reproducible constructions (exact
  // decimal sums, explicit sample-std, exact percentile) for oracle parity.
  // The compat variants reproduce the reference's LITERAL arithmetic
  // instead — its roundings, stddev_samp, percentile_approx and column
  // names — so the end-to-end replay is faithful to what a reference user's
  // frame actually contains.

  /** A3 with the reference's 2-decimal rounding of revenue and mean price in
    * the aggregate (round(sum(...), 2) / round(avg(...), 2),
    * Sales_forecast_pyspark.py:161-163). */
  def dailySalesCompat(sales: DataFrame): DataFrame = {
    val keys = Seq("Country", "StockCode", "InvoiceDate",
      "Year", "Month", "Day", "Week", "DayOfWeek")
    withCalendar(sales)
      .groupBy(keys.map(col): _*)
      .agg(
        sum(col("Quantity")).as("NetDailyQuantity"),
        round(sum(col("LineRevenue")), 2).as("NetDailyRevenue"),
        round(avg(col("UnitPrice")), 2).as("AvgUnitPrice"))
  }

  /** The reference's literal window features over the daily grain,
    * unfilled: its 36 lags with the round(coalesce(lag(...), 0), 0) wrap and
    * its column names (lag_quantity_N and lag_price_N over the day,
    * 6daycycle and dow families, Sales_forecast_pyspark.py:611-647);
    * avg / stddev_samp / percentile_approx(0.5) over the trailing frames of
    * both partitionings (Sales_forecast_pyspark.py:900-946), sliding-frame
    * aggregates in the same Windows as the raw lags; `baseline_qty`; and the
    * diffs against both partitionings' frames (12 columns). */
  def lagRollFeaturesCompat(daily: DataFrame): DataFrame = {
    val b = new LagRollCols
    val qty = col("NetDailyQuantity")
    val aggs = Seq("mean" -> avg(qty), "std" -> stddev_samp(qty),
      "median" -> percentile_approx(qty, lit(0.5), lit(10000)))
    def roll(p: Partitioning, s: String, n: Int): String = s"roll_${s}_${p.rollSuffix(n)}"
    val rolls = for (p <- Seq(Day, Dow); n <- p.frames; (s, agg) <- aggs)
      yield b.windowCol(roll(p, s, n), agg.over(p.w.rowsBetween(-n, -1)))
    b.lagRollSelect(daily, lagCols(b, "quantity", "6daycycle")(c => round(coalesce(c, lit(0)), 0)) ++ rolls ++
      (baselineCol(b) +: diffCols(Seq(Day, Dow))((p, s, n) => col(roll(p, s, n)))))
  }

  // ---- evaluation and KPIs ------------------------------------------------

  /** The six error columns over a frame that already carries `prediction`,
    * `baseline_qty` and the actual (Sales_forecast_pyspark.py:1339-1345).
    * APE divides by the actual — null-guarded at zero (the reference's
    * non-ANSI run yields Infinity there; we exclude instead, SURVEY §5.3). */
  def withErrorColumns(df: DataFrame): DataFrame = {
    val actual = col("NetDailyQuantity").cast(DoubleType)
    val safeActual = when(col("NetDailyQuantity") === 0, lit(null)).otherwise(actual)
    df
      .withColumn("err_model", col("prediction") - actual)
      .withColumn("err_baseline", col("baseline_qty") - actual)
      .withColumn("abs_err_model", abs(col("err_model")))
      .withColumn("abs_err_baseline", abs(col("err_baseline")))
      .withColumn("ape_model", abs(col("err_model")) / safeActual)
      .withColumn("ape_baseline", abs(col("err_baseline")) / safeActual)
  }

  /** Evaluation frame (Sales_forecast_pyspark.py:1296-1345): a prediction
    * column, the MA baseline, and the six error columns. `prediction` is the
    * naive last-value forecast so the frame is fully deterministic; ML
    * models carry their own prediction and the baseline of
    * [[lagRollFeatures]] instead. */
  def evalFrame(daily: DataFrame): DataFrame =
    withErrorColumns(
      lagRollFeatures(daily).select(daily.columns.toSeq.map(col) ++ Seq(col("baseline_qty"),
        lag(col("NetDailyQuantity"), 1).over(seriesW).cast(DoubleType).as("prediction")): _*))

  private def kpiAggs: Seq[Column] = Seq(
    Exact.floorAvg(col("abs_err_model"), 9).as("mae_model"),
    Exact.floorAvg(col("abs_err_baseline"), 9).as("mae_baseline"),
    Exact.floorAvg(col("ape_model"), 9).as("mape_model"),
    Exact.floorAvg(col("ape_baseline"), 9).as("mape_baseline"),
    Exact.floorAvg(col("err_model"), 9).as("bias_model"),
    Exact.floorAvg(col("err_baseline"), 9).as("bias_baseline"))

  /** Global KPI aggregate (A8, Sales_forecast_pyspark.py:1347-1359). */
  def kpiGlobal(eval_ : DataFrame): DataFrame =
    eval_.agg(kpiAggs.head, kpiAggs.tail: _*)

  /** Per-country KPI (A9, Sales_forecast_pyspark.py:1363-1375). */
  def kpiByCountry(eval_ : DataFrame): DataFrame =
    eval_.groupBy(col("Country")).agg(kpiAggs.head, kpiAggs.tail: _*)

  private def valueAggs: Seq[Column] = Seq(
    Exact.floorSum(col("abs_err_model") * col("AvgUnitPrice"), 4).as("total_err_value_model"),
    Exact.floorSum(col("abs_err_baseline") * col("AvgUnitPrice"), 4).as("total_err_value_baseline"),
    count(lit(1)).as("n_rows"))

  private def withPctReduction(totals: DataFrame): DataFrame =
    totals.withColumn(
      "pct_reduction",
      (lit(1.0) - col("total_err_value_model") / col("total_err_value_baseline")) * lit(100.0))

  /** Value-weighted error totals (A10, Sales_forecast_pyspark.py:1792-1838):
    * abs error weighted by unit value, plus % reduction of model vs baseline. */
  def valueWeighted(eval_ : DataFrame): DataFrame =
    withPctReduction(eval_.agg(valueAggs.head, valueAggs.tail: _*))

  /** [[kpiGlobal]] and [[valueWeighted]] as ONE aggregate: one row carrying
    * both sets of columns, from a single pass over the evaluation lineage
    * instead of one replay per aggregate. Every column is an exact
    * floor-integer sum or a count, so the values equal the two separate
    * aggregates bit for bit. */
  def kpiGlobalValueWeighted(eval_ : DataFrame): DataFrame = {
    val aggs = kpiAggs ++ valueAggs
    withPctReduction(eval_.agg(aggs.head, aggs.tail: _*))
  }
}
