package graft.forecast

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
  * Scale notes:
  *  - every window family with a distinct partitionBy forces one
  *    shuffle+sort; we use exactly two partitionings (series, series+DayOfWeek)
  *    and generate all columns of a family in ONE select so the plan stays
  *    flat (the reference does the same for its 72 lag columns,
  *    Sales_forecast_pyspark.py:610-647);
  *  - window partitions are (Country, StockCode) — fine-grained keys, so the
  *    shuffle spreads evenly and no single partition can exceed one series;
  *    country-level skew (the reference's UK ≈ 86% hazard, SURVEY §4.3) does
  *    not concentrate on one task because StockCode is part of the key;
  *  - no sliding frame: the rolling statistics and the MA(6) baseline are
  *    read from one codegen'd kernel per partitioning over plain `lag`
  *    columns ([[rollKernel]]), which are offset frames, O(1) per row. A
  *    sliding-frame aggregate re-aggregates its whole frame for every row,
  *    and the exact `percentile` sorts a fresh buffer each time; the kernel
  *    sorts at most a dozen longs and reproduces `percentile`'s
  *    interpolation bit for bit.
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

  /** Lag features (W1, Sales_forecast_pyspark.py:605-647): for each lag i,
    * quantity and price lags over the plain series order, the 6-day cycle
    * (offset 6i), and the same-weekday series. Nulls (insufficient history)
    * are coalesced to 0 as in the reference. All columns in ONE select. */
  def lagFeatures(daily: DataFrame, lags: Seq[Int] = 1 to 6): DataFrame =
    daily.select(daily.columns.map(col).toSeq ++ lagCols(lags): _*)

  /** The [[lagFeatures]] columns, for a select that adds other window
    * columns over the same two partitionings. */
  def lagCols(lags: Seq[Int] = 1 to 6): Seq[Column] = {
    val qty = col("NetDailyQuantity")
    val price = col("AvgUnitPrice")
    lags.flatMap { i =>
      Seq(
        coalesce(lag(qty, i).over(seriesW), lit(0L)).as(s"lag_qty_${i}_day"),
        coalesce(lag(price, i).over(seriesW), lit(0.0)).as(s"lag_price_${i}_day"),
        coalesce(lag(qty, 6 * i).over(seriesW), lit(0L)).as(s"lag_qty_${i}_6cycle"),
        coalesce(lag(price, 6 * i).over(seriesW), lit(0.0)).as(s"lag_price_${i}_6cycle"),
        coalesce(lag(qty, i).over(dowW), lit(0L)).as(s"lag_qty_${i}_dow"),
        coalesce(lag(price, i).over(dowW), lit(0.0)).as(s"lag_price_${i}_dow"))
    }
  }

  /** One rolling-statistics kernel over `w` ([[graft.functions.RollingStatsExpr]]):
    * a struct with `count_n`, `mean_n`, `std_n` and `median_n` of
    * NetDailyQuantity over the trailing frame [-n, -1] (current row
    * excluded) for every width n of `widths`, read from the raw lags
    * 1..max(widths) over `w`. Spark does not merge these with the equal
    * lags inside [[lagCols]]' coalesces: the Window lists both. */
  def rollKernel(w: WindowSpec, widths: Seq[Int]): Column =
    GraftFunctions.rollingStats((1 to widths.max).map(i => lag(col("NetDailyQuantity"), i).over(w)), widths)

  /** The [[rollKernel]] columns of [[rollingFeatures]], one per partitioning
    * with frames, named [[DayStats]] and [[DowStats]]: select them with the
    * other window columns, and read their fields with [[rollCols]] in a
    * select above ([[selectWithStats]]). */
  def rollKernels(
      dayFrames: Seq[Int] = Seq(3, 6, 12),
      dowFrames: Seq[Int] = Seq(3, 4, 5)): Seq[Column] =
    Seq(DayStats -> (seriesW, dayFrames), DowStats -> (dowW, dowFrames)).collect {
      case (name, (w, frames)) if frames.nonEmpty => rollKernel(w, frames).as(name)
    }

  val DayStats = "_roll_stats_day"
  val DowStats = "_roll_stats_dow"

  /** Rolling mean/std/median over the trailing frame [-n, -1], per W2/W3/W4
    * (Sales_forecast_pyspark.py:900-946), read from a [[rollKernel]] struct
    * that has width n.
    *
    * std is the explicit sample formula over exact long sums rather than
    * stddev_samp, so it is bit-reproducible whatever the evaluation order.
    * The median is what the exact `percentile` gives: on long inputs its
    * interpolation `0.5·lo + 0.5·hi` is exact in double, unlike the
    * percentile_approx the reference used (Sales_forecast_pyspark.py:922),
    * which [[rollStatsCompat]] keeps. */
  def rollStats(stats: Column, frame: Int, suffix: String): Seq[Column] =
    Seq("mean", "std", "median").map(s => stats.getField(s"${s}_$frame").as(s"roll_${s}_$suffix"))

  def rollingFeatures(
      daily: DataFrame,
      dayFrames: Seq[Int] = Seq(3, 6, 12),
      dowFrames: Seq[Int] = Seq(3, 4, 5)): DataFrame =
    selectWithStats(daily, rollKernels(dayFrames, dowFrames), rollCols(dayFrames, dowFrames))

  /** The [[rollingFeatures]] columns, read from the [[rollKernels]] columns. */
  def rollCols(
      dayFrames: Seq[Int] = Seq(3, 6, 12),
      dowFrames: Seq[Int] = Seq(3, 4, 5)): Seq[Column] =
    dayFrames.flatMap(n => rollStats(col(DayStats), n, s"${n}d")) ++
      dowFrames.flatMap(n => rollStats(col(DowStats), n, s"${n}_dow"))

  /** `df`'s columns and `windowCols` in one select, then `statCols` read
    * from its [[rollKernels]] columns in a select above, which drops them.
    * The optimizer does not inline a kernel into each field it reads (it is
    * not cheap and is read more than once), so each kernel runs once per
    * row. */
  def selectWithStats(df: DataFrame, windowCols: Seq[Column], statCols: Seq[Column]): DataFrame = {
    val windowed = df.select(df.columns.map(col).toSeq ++ windowCols: _*)
    val kept = windowed.columns.filterNot(c => c == DayStats || c == DowStats).map(col).toSeq
    windowed.select(kept ++ statCols: _*)
  }

  /** Diff-vs-rolling features (W5, Sales_forecast_pyspark.py:948-966):
    * current value minus the rolling mean/median, for the series frames and
    * (py:961-966) the same-weekday frames. */
  def diffFeatures(
      rolled: DataFrame,
      dayFrames: Seq[Int] = Seq(3, 6, 12),
      dowFrames: Seq[Int] = Seq()): DataFrame = {
    val qty = col("NetDailyQuantity").cast(DoubleType)
    val diffs = dayFrames.flatMap { n =>
      Seq(
        (qty - col(s"roll_mean_${n}d")).as(s"diff_qty_mean_${n}d"),
        (qty - col(s"roll_median_${n}d")).as(s"diff_qty_median_${n}d"))
    } ++ dowFrames.flatMap { n =>
      Seq(
        (qty - col(s"roll_mean_${n}_dow")).as(s"diff_qty_mean_${n}_dow"),
        (qty - col(s"roll_median_${n}_dow")).as(s"diff_qty_median_${n}_dow"))
    }
    rolled.select(rolled.columns.map(col).toSeq ++ diffs: _*)
  }

  // ---- referenceCompat: the reference's literal numeric surface -------------
  //
  // The default operators above substitute bit-reproducible constructions
  // (exact decimal sums, explicit sample-std, exact percentile) for oracle
  // parity. These compat variants reproduce the reference's LITERAL
  // arithmetic instead — its roundings, stddev_samp, percentile_approx and
  // column names — so the end-to-end replay is faithful to what a reference
  // user's frame actually contains.

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

  /** The reference's complete 36-column lag batch with its literal
    * round(coalesce(lag(...), 0), 0) wrap and column names
    * (lag_quantity_N and lag_price_N over day/6daycycle/dow families,
    * Sales_forecast_pyspark.py:611-647). All 36 columns in one select —
    * still exactly two window partitionings. */
  def lagFeaturesCompat(daily: DataFrame): DataFrame =
    daily.select(daily.columns.map(col).toSeq ++ lagColsCompat: _*)

  /** The [[lagFeaturesCompat]] columns. */
  def lagColsCompat: Seq[Column] = {
    val qty = col("NetDailyQuantity")
    val price = col("AvgUnitPrice")
    (1 to 6).flatMap { i =>
      Seq(
        round(coalesce(lag(qty, i).over(seriesW), lit(0)), 0).as(s"lag_quantity_${i}_day"),
        round(coalesce(lag(price, i).over(seriesW), lit(0)), 0).as(s"lag_price_${i}_day"),
        round(coalesce(lag(qty, 6 * i).over(seriesW), lit(0)), 0).as(s"lag_quantity_${i}_6daycycle"),
        round(coalesce(lag(price, 6 * i).over(seriesW), lit(0)), 0).as(s"lag_price_${i}_6daycycle"),
        round(coalesce(lag(qty, i).over(dowW), lit(0)), 0).as(s"lag_quantity_${i}_dow"),
        round(coalesce(lag(price, i).over(dowW), lit(0)), 0).as(s"lag_price_${i}_dow"))
    }
  }

  /** The reference's literal rolling stats: avg / stddev_samp /
    * percentile_approx(0.5) over the trailing frame
    * (Sales_forecast_pyspark.py:900-946). */
  def rollStatsCompat(w: WindowSpec, frame: Int, suffix: String): Seq[Column] = {
    val qty = col("NetDailyQuantity")
    val f = w.rowsBetween(-frame, -1)
    Seq(
      avg(qty).over(f).as(s"roll_mean_$suffix"),
      stddev_samp(qty).over(f).as(s"roll_std_$suffix"),
      percentile_approx(qty, lit(0.5), lit(10000)).over(f).as(s"roll_median_$suffix"))
  }

  def rollingFeaturesCompat(
      daily: DataFrame,
      dayFrames: Seq[Int] = Seq(3, 6, 12),
      dowFrames: Seq[Int] = Seq(3, 4, 5)): DataFrame =
    daily.select(daily.columns.map(col).toSeq ++ rollColsCompat(dayFrames, dowFrames): _*)

  /** The [[rollingFeaturesCompat]] columns. */
  def rollColsCompat(
      dayFrames: Seq[Int] = Seq(3, 6, 12),
      dowFrames: Seq[Int] = Seq(3, 4, 5)): Seq[Column] =
    dayFrames.flatMap(n => rollStatsCompat(seriesW, n, s"${n}d")) ++
      dowFrames.flatMap(n => rollStatsCompat(dowW, n, s"${n}_dow"))

  /** 6-day moving-average baseline (W6, Sales_forecast_pyspark.py:1270-1294)
    * — the forecast every model is judged against. */
  def maBaseline(daily: DataFrame): DataFrame =
    daily.withColumn("baseline_qty", maBaselineCol)

  /** The [[maBaseline]] column: the 6-wide mean of a series [[rollKernel]],
    * so it can ride in the same select as the lag features. The reference
    * falls back to the last value where the mean is null; that never
    * changes a value, because lag 1 is the newest row of the frame: when it
    * is non-null, so is the mean. */
  def maBaselineCol: Column = rollKernel(seriesW, Seq(6)).getField("mean_6")

  /** `ma`, the [[maBaselineCol]] or the `mean_6` field of a series kernel
    * selected with the features, as the `baseline_qty` that [[maBaseline]],
    * left-joined on (Country, StockCode, InvoiceDate), attaches to a row: a
    * row with a null key matches no baseline row in such a join, so it gets
    * null here. Selected with the features, it lets predictions carry their
    * baseline to [[withErrorColumns]] without a join. */
  def joinedBaselineCol(ma: Column = maBaselineCol): Column =
    when((SeriesKeys :+ "InvoiceDate").map(col(_).isNotNull).reduce(_ && _), ma)
      .as("baseline_qty")

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
    * column, the MA baseline, and the six error columns. `prediction`
    * defaults to the naive last-value forecast so the frame is fully
    * deterministic; ML models plug their own prediction column in via
    * [[joinedBaselineCol]]. */
  def evalFrame(daily: DataFrame): DataFrame =
    withErrorColumns(
      maBaseline(daily)
        .withColumn("prediction", lag(col("NetDailyQuantity"), 1).over(seriesW).cast(DoubleType)))

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
