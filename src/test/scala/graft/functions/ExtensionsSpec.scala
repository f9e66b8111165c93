package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ExtensionsSpec extends SparkSpec {

  test("custom expressions are callable from SQL strings") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_simhash(array('the','quick','fox')) AS sh,
        |       graft_rolling_hash('hello') AS rh,
        |       graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                    array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c
        |""".stripMargin).head()
    assert(r.getLong(0) !== 0L)
    assert(r.getLong(1) === HashUtil.rollingHash(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello")))
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
  }

  test("GraftExtensions installs all six SQL functions into a session") {
    // the shared test session is built by GraftSession, which sets
    // spark.sql.extensions=graft.functions.GraftExtensions
    val names = Seq(
      "graft_rolling_hash", "graft_simhash", "graft_cosine",
      "graft_word_shingles", "graft_char_shingles", "graft_minhash")
    val shingles = spark.sql(
      "SELECT size(graft_word_shingles(array('a','b','c','d'), 2)) AS n").head().getInt(0)
    assert(shingles === 3)
    val cnt = spark.sql("SELECT graft_char_shingles('abcabc', 3) AS n").head().getInt(0)
    assert(cnt === 3)
    names.foreach { n =>
      assert(spark.catalog.functionExists(n) ||
        spark.sessionState.functionRegistry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(n)), s"missing $n")
    }
  }

  test("rollingStats: generated code and interpreted eval give equal rows, doubles bit-equal") {
    // 12 lags per row from a hash of the row id: nulls, negatives, repeats
    // and magnitudes up to ±1e6
    val lags = (1 to 12).map { i =>
      val h = xxhash64(col("id"), lit(i))
      when(pmod(h, lit(5L)) === 0, lit(null).cast("long"))
        .when(pmod(h, lit(3L)) === 0, pmod(h, lit(7L)) - 3)
        .otherwise(pmod(h, lit(2000001L)) - 1000000L)
    }
    // one kernel per width, each over the first n lags
    val stats = spark.range(0, 3000, 1, 2)
      .select(Seq(1, 2, 3, 4, 5, 6, 12).map(n => GraftFunctions.rollingStats(lags.take(n)).as(s"s$n")): _*)
    def run(wholeStage: String, factoryMode: String): Seq[Seq[Any]] = {
      val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode", "spark.sql.codegen.fallback")
      val saved = keys.map(k => k -> spark.conf.getOption(k))
      spark.conf.set(keys(0), wholeStage)
      spark.conf.set(keys(1), factoryMode)
      spark.conf.set(keys(2), "false")
      try stats.collect().toSeq.map(r => (0 until r.length).flatMap(r.getStruct(_).toSeq).map {
          case d: Double => java.lang.Double.doubleToRawLongBits(d)
          case other => other
        })
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val generated = run("true", "CODEGEN_ONLY")
    assert(generated.size === 3000)
    assert(generated.exists(_.contains(null)))
    assert(generated === run("false", "NO_CODEGEN"))
  }
}
