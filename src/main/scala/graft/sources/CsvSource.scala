package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV ingest for invoice-line data (S1, Sales_forecast_pyspark.py:69-74).
  *
  * The reference infers its schema (`inferSchema=True`) — an extra full pass
  * over the file and nondeterministic typing at scale. We default to the
  * explicit StructType (single pass, stable types, malformed rows surfaced
  * via columnNameOfCorruptRecord) and keep inference as a compat flag.
  */
object CsvSource {

  /** Inferred schema of Online_Retail.csv per the reference's printSchema
    * (Sales_forecast_pyspark.ipynb:178-185). InvoiceDate arrives as a string
    * in "M/d/yy H:mm" format and is parsed in [[withParsedDates]]. */
  val retailSchema: StructType = StructType(Seq(
    StructField("InvoiceNo", StringType),
    StructField("StockCode", StringType),
    StructField("Description", StringType),
    StructField("Quantity", IntegerType),
    StructField("InvoiceDate", StringType),
    StructField("UnitPrice", DoubleType),
    StructField("CustomerID", IntegerType),
    StructField("Country", StringType)))

  def readRetail(
      spark: SparkSession,
      path: String,
      inferSchema: Boolean = false): DataFrame = {
    val reader = spark.read
      .option("header", "true")
      .option("sep", ",")
    val df =
      if (inferSchema) reader.option("inferSchema", "true").csv(path)
      else reader.schema(retailSchema).csv(path)
    withParsedDates(df)
  }

  /** The reference's parse chain: to_date(to_timestamp(col, "M/d/yy H:mm"))
    * (F1/F2, Sales_forecast_pyspark.py:73-74). Two-digit years resolve to
    * 20xx under Spark's DateTimeFormatter pivot. */
  def withParsedDates(df: DataFrame): DataFrame =
    df.withColumn("InvoiceDate",
      to_date(to_timestamp(col("InvoiceDate"), "M/d/yy H:mm")))

  /** Line revenue + dedup, completing the reference's ingest steps
    * (D2 + F9, Sales_forecast_pyspark.py:99,141-144).
    *
    * The lines are hash-partitioned by the series key (Country, StockCode)
    * before the dedup. Every later operator of the forecast flow groups or
    * partitions by a superset of that key — the dedup (all columns), the
    * daily aggregate and both feature window families — so this is the
    * flow's only shuffle. */
  def cleaned(df: DataFrame): DataFrame =
    df.repartition(col("Country"), col("StockCode"))
      .dropDuplicates()
      .withColumn("LineRevenue", col("UnitPrice") * col("Quantity"))
}
