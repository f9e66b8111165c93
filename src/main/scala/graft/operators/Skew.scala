package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for heavy aggregation keys (SURVEY §4.3: UK ≈ 86% of the
  * reference's rows — the #1 hazard when one grouping key dominates).
  *
  * [[saltedAgg]] is the classic two-phase shape: explode each input row's key
  * with a deterministic salt (hash-based, so re-runs agree), pre-aggregate on
  * (key, salt) — spreading a hot key over `salts` reducers — then combine the
  * partials on the bare key. With algebraic aggregates (sum/count/min/max and
  * the Exact decimal sums) the result is exactly the single-phase answer;
  * AQE's skew handling covers joins, this covers the aggregation side.
  */
object Skew {

  /** sum/count/min/max pairs for common cases: (partial, merge) both keyed by
    * the output name. */
  def sumLong(c: String, out: String): (Column, Column) =
    (sum(col(c)).as(out), sum(col(out)).as(out))
  def countAll(out: String): (Column, Column) =
    (count(lit(1)).as(out), sum(col(out)).as(out))
  def minOf(c: String, out: String): (Column, Column) =
    (min(col(c)).as(out), min(col(out)).as(out))
  def maxOf(c: String, out: String): (Column, Column) =
    (max(col(c)).as(out), max(col(out)).as(out))

  def saltedAgg(
      df: DataFrame,
      keys: Seq[String],
      aggs: Seq[(Column, Column)],
      salts: Int = 16): DataFrame = {
    require(aggs.nonEmpty)
    // deterministic salt from the full row's hash — no RNG, re-runs identical
    val salted = df.withColumn(
      "_salt", pmod(hash(df.columns.map(col): _*), lit(salts)))
    val phase1 = salted
      .groupBy((keys :+ "_salt").map(col): _*)
      .agg(aggs.head._1, aggs.tail.map(_._1): _*)
    phase1
      .groupBy(keys.map(col): _*)
      .agg(aggs.head._2, aggs.tail.map(_._2): _*)
  }

  /** Skew-safe per-key top-k: the two-phase form of
    * `row_number().over(partitionBy(keys).orderBy(ord)) <= k`. A naive
    * window funnels a hot key's ENTIRE row set through one reducer (a
    * domain with 10⁹ crawled pages at 100 TB); here phase 1 takes a
    * per-(keys, salt) partial top-k — the hot key spreads over `salts`
    * reducers — and phase 2 ranks only the surviving ≤ k·salts candidate
    * rows per key. Result-identical to the direct window (the global
    * top-k is a subset of the union of per-salt top-ks, a selectable
    * property of rank selection; NOT true of e.g. windowed cumsums, which
    * is why [[saltedTrailingSum]] needs its different recombine).
    *
    * REQUIREMENT: `ord` must be a TOTAL order within each key (append a
    * unique tie-break column — every call site here orders by a unique
    * id last). With ties the selectability property breaks: phase 1's
    * per-salt row_number may prune a tied row that the direct window
    * would have ranked ≤ k, so the two forms could keep different (both
    * "valid") representatives. A total order makes rank selection
    * unambiguous and the equivalence exact.
    *
    * The salt is deterministic (row-hash mod salts — no RNG). Pass
    * `saltOn` (a row-unique column, e.g. the id) when rows can be exact
    * duplicates: duplicate rows hash identically over all columns, so a
    * hot key made of clones would otherwise still funnel through one
    * reducer. Returns the input columns plus `rk` (1-based within key,
    * in `ord` order). */
  def saltedTopK(
      df: DataFrame,
      keys: Seq[String],
      ord: Seq[Column],
      k: Int,
      salts: Int = 16,
      saltOn: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val salted = df.withColumn(
      "_salt",
      pmod(hash(saltOn.map(Seq(_)).getOrElse(df.columns.toSeq.map(col)): _*),
        lit(salts)))
    val w1 = Window.partitionBy((keys :+ "_salt").map(col): _*).orderBy(ord: _*)
    val w2 = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    salted
      .withColumn("_rk1", row_number().over(w1))
      .filter(col("_rk1") <= k)
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= k)
      .drop("_salt", "_rk1")
  }

  /** Trailing date-range sum at a COARSE key grain (e.g. Country only) over
    * a row stream where one key dominates — the window side of the UK-skew
    * hazard. A naive `sum().over(Window.partitionBy(key).orderBy(date))`
    * over raw rows funnels the hot key's entire row set through ONE
    * reducer; here the heavy lifting is [[saltedAgg]] to the (key, date)
    * grain — hot keys spread over `salts` reducers, sums exact — and the
    * trailing RANGE frame then runs over the COMPACT per-date series (≤ one
    * row per key×date, bounded by the calendar, never by data volume).
    * The window must run AFTER the salt merge: a per-salt trailing window
    * would emit output rows only for dates present in that salt, so dates
    * missing from a salt would silently undercount at a naive recombine.
    * Returns (keys…, dateCol, day_total, `out`); the trailing frame is
    * [-days, -1] in days, NULL when no preceding dates exist (ANSI window
    * semantics, matched by the oracle). */
  def saltedTrailingSum(
      df: DataFrame,
      keys: Seq[String],
      dateCol: String,
      valueCol: String,
      days: Int,
      salts: Int = 16,
      out: String = "trailing_sum"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grain = saltedAgg(
      df, keys :+ dateCol, Seq(sumLong(valueCol, "day_total")), salts)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(datediff(col(dateCol), lit("1970-01-01")))
      .rangeBetween(-days, -1)
    grain.withColumn(out, sum(col("day_total")).over(w))
  }

  /** Hierarchical (block-partitioned) running total — the scalable form of
    * `sum().over(partitionBy(key).orderBy(order…).rowsBetween(unbounded, 0))`
    * when a single key's partition is too large for one reducer. Classic
    * two-level prefix sum: (1) running sums WITHIN each (key, block)
    * partition — parallel across blocks; (2) per-block totals, cumulated
    * across blocks per key — a window over #blocks rows, tiny; (3) one
    * equi-join adds each row's prior-block offset. With integral values
    * every sum is exact, so the result is bit-identical to the single-
    * partition window at any parallelism. `blockCols` must be a prefix of
    * the intended total order (e.g. blocks = calendar months when ordering
    * by date), and (orderCols) must totally order rows within a block. */
  def blockCumSum(
      df: DataFrame,
      keys: Seq[String],
      blockCols: Seq[String],
      orderCols: Seq[String],
      valueCol: String,
      out: String = "running_total"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val intraW = Window.partitionBy((keys ++ blockCols).map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val intra = df.withColumn("_intra", sum(col(valueCol)).over(intraW))
    val priorW = Window.partitionBy(keys.map(col): _*)
      .orderBy(blockCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = df.groupBy((keys ++ blockCols).map(col): _*)
      .agg(sum(col(valueCol)).as("_block_total"))
      .withColumn("_prior", coalesce(sum(col("_block_total")).over(priorW), lit(0L)))
      .select((keys ++ blockCols).map(col) :+ col("_prior"): _*)
    intra.join(offsets, keys ++ blockCols)
      .withColumn(out, col("_intra") + col("_prior"))
      .drop("_intra", "_prior")
  }
}
