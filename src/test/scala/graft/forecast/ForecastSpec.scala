package graft.forecast

import java.sql.Date

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Edge-semantics tests for the window/feature operators (SURVEY §5.2.1):
  * lag = previous OBSERVED day on the irregular calendar, trailing frames
  * exclude the current row, MA fallback, dayofweek numbering, KPI math. */
class ForecastSpec extends SparkSpec {
  import spark.implicits._

  // one series A/X on an irregular calendar (gap between Jan 2 and Jan 5),
  // one singleton series B/Y
  private lazy val sales = Seq(
    ("A", "X", "2024-01-01", 10L, 2.0, 20.0),
    ("A", "X", "2024-01-02", 20L, 2.0, 40.0),
    ("A", "X", "2024-01-05", 30L, 2.0, 60.0),
    ("A", "X", "2024-01-06", 40L, 2.0, 80.0),
    ("B", "Y", "2024-01-01", 5L, 1.0, 5.0)
  ).toDF("Country", "StockCode", "d", "Quantity", "UnitPrice", "LineRevenue")
    .withColumn("InvoiceDate", to_date(col("d"))).drop("d")

  private lazy val daily = Forecast.dailySales(sales)

  // one series C/Z with returns and a repeated quantity, on consecutive days
  private lazy val returns = Forecast.dailySales(Seq(
    ("C", "Z", "2024-02-01", 6L), ("C", "Z", "2024-02-02", -3L), ("C", "Z", "2024-02-03", -3L),
    ("C", "Z", "2024-02-04", 9L), ("C", "Z", "2024-02-05", 1L)
  ).toDF("Country", "StockCode", "d", "Quantity")
    .select(col("Country"), col("StockCode"), to_date(col("d")).as("InvoiceDate"), col("Quantity"),
      lit(1.0).as("UnitPrice"), col("Quantity").cast("double").as("LineRevenue")))

  test("dailySales aggregates to one row per (Country,StockCode,day) with calendar cols") {
    assert(daily.count() === 5)
    val r = daily.filter($"Country" === "A" && $"InvoiceDate" === Date.valueOf("2024-01-01"))
      .select("Year", "Month", "Day", "Week", "DayOfWeek", "NetDailyQuantity")
      .head()
    // 2024-01-01 is a Monday: Spark dayofweek is 1=Sunday..7=Saturday → 2
    assert(r.getInt(4) === 2)
    assert(r.getLong(5) === 10L)
  }

  test("lag is previous observed day, not previous calendar day; nulls coalesce to 0") {
    val lags = Forecast.lagRollFeatures(daily)
      .filter($"Country" === "A")
      .orderBy("InvoiceDate")
      .select("lag_qty_1_day")
      .as[Long].collect()
    // Jan 5's lag-1 is Jan 2 (gap skipped); first row coalesces to 0
    assert(lags.toSeq === Seq(0L, 10L, 20L, 30L))
  }

  test("trailing frame [-n,-1] excludes the current row") {
    val means = Forecast.lagRollFeatures(daily)
      .filter($"Country" === "A")
      .orderBy("InvoiceDate")
      .select("roll_mean_3d")
      .collect()
      .map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
    assert(means(0).isNaN) // empty frame → null
    assert(means(1) === 10.0)
    assert(means(2) === 15.0)
    assert(means(3) === 20.0)
  }

  test("rolling std matches the sample formula; singleton frame is null") {
    val stds = Forecast.lagRollFeatures(daily)
      .filter($"Country" === "A")
      .orderBy("InvoiceDate")
      .select("roll_std_3d")
      .collect()
    assert(stds(0).isNullAt(0))
    assert(stds(1).isNullAt(0)) // one prior row → n-1 = 0 → null
    assert(math.abs(stds(2).getDouble(0) - math.sqrt(50.0)) < 1e-12) // {10,20}
  }

  test("an even-count median interpolates 0.5·lo + 0.5·hi over negative and repeated quantities") {
    val r = Forecast.lagRollFeatures(returns)
      .orderBy("InvoiceDate")
      .select("roll_median_3d", "roll_median_6d", "roll_mean_6d")
      .collect()
    // Feb 3: frame {6, -3} → 0.5·(-3) + 0.5·6
    assert(r(2).getDouble(0) === 0.5 * -3.0 + 0.5 * 6.0)
    // Feb 5: 3d frame {-3, -3, 9} → -3; 6d frame sorted {-3, -3, 6, 9} → between -3 and 6
    assert(r(4).getDouble(0) === -3.0)
    assert(r(4).getDouble(1) === 0.5 * -3.0 + 0.5 * 6.0)
    assert(r(4).getDouble(2) === 9.0 / 4.0)
  }

  test("an empty frame gives null mean, std and median") {
    val first = Forecast.lagRollFeatures(daily)
      .filter($"Country" === "A" && $"InvoiceDate" === Date.valueOf("2024-01-01"))
    val roll = first.columns.filter(_.startsWith("roll_"))
    assert(roll.length === 18)
    val r = first.select(roll.map(col).toSeq: _*).head()
    assert(roll.indices.forall(r.isNullAt))
  }

  test("featureFrame fills the first series row's null roll and diff values with 0.0") {
    val frame = ReferencePipeline.featureFrame(daily)
    val filled = frame.columns.filter(c => c.startsWith("roll_") || c.startsWith("diff_"))
    assert(filled.length === 24)
    val r = frame.filter($"Country" === "A" && $"InvoiceDate" === Date.valueOf("2024-01-01"))
      .select(filled.map(col).toSeq :+ col("baseline_qty"): _*).head()
    assert(filled.indices.forall(i => !r.isNullAt(i) && r.getDouble(i) == 0.0))
    assert(r.isNullAt(filled.length)) // the baseline is not filled
  }

  test("MA baseline averages the trailing window and falls back to null only at series start") {
    val base = Forecast.lagRollFeatures(daily)
      .filter($"Country" === "A")
      .orderBy("InvoiceDate")
      .select("baseline_qty")
      .collect()
    assert(base(0).isNullAt(0))
    assert(base(1).getDouble(0) === 10.0)
    assert(base(2).getDouble(0) === 15.0)
    assert(base(3).getDouble(0) === 20.0)
  }

  test("KPI global aggregate computes MAE over non-null error rows") {
    val kpi = Forecast.kpiGlobal(Forecast.evalFrame(daily)).head()
    // model = naive lag-1: errors on A series rows 2..4 = |10-20|,|20-30|,|30-40| = 10 each
    assert(math.abs(kpi.getAs[Double]("mae_model") - 10.0) < 1e-9)
  }

  test("value-weighted KPI emits totals and pct reduction") {
    val vw = Forecast.valueWeighted(Forecast.evalFrame(daily)).head()
    assert(vw.getAs[Long]("n_rows") === 5L)
    assert(vw.getAs[Double]("total_err_value_model") > 0.0)
  }

  test("fused KPI aggregate equals kpiGlobal and valueWeighted bit for bit on sf0.001") {
    val eval_ = Forecast.evalFrame(
      Forecast.dailySales(graft.Tables.salesLines(spark, SparkSpec.Sf0001)))
    val fused = Forecast.kpiGlobalValueWeighted(eval_).head()
    val parts = Seq(Forecast.kpiGlobal(eval_).head(), Forecast.valueWeighted(eval_).head())
    assert(fused.schema.fieldNames.toSeq === parts.flatMap(_.schema.fieldNames))
    for (part <- parts; f <- part.schema.fieldNames) {
      val (a, b) = (fused.getAs[AnyRef](f), part.getAs[AnyRef](f))
      // boxed equals: bit equality for doubles, value equality for the count
      assert(a != null && a.equals(b), s"$f: fused $a, separate $b")
    }
  }
}
