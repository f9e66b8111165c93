package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.{DayOfWeek, LocalDate}

import scala.util.Random

/** Seed-fixed generator of Online-Retail-shaped raw invoice lines
  * (FIXTURES.md §A1; schema per Sales_forecast_pyspark.py:69-74).
  *
  * Reproduces the reference dataset's structural quirks so the full ingest →
  * dedup → daily-aggregation → feature → split pipeline can be replayed and
  * its printed invariants asserted (Sales_forecast_pyspark.py:84-103,366-377):
  *
  *  - raw "M/d/yy H:mm" InvoiceDate strings (two-digit years, no zero-pad);
  *  - span 2010-12-01..2011-12-09 with NO Saturdays (py:613,625);
  *  - 31 countries, heavily skewed to United Kingdom (~86% of rows,
  *    ipynb:3152-3153), including sparse countries with < 5 rows;
  *  - negative quantities (returns — kept, "Net" semantics, py:160) and
  *    occasional 0.0 unit prices (APE div-by-zero guard, py:1343-1344);
  *  - nullable CustomerID / Description (guest checkouts);
  *  - injected EXACT duplicate rows with a known count (dedup invariant,
  *    541,909 → 536,640 in the reference, ipynb:245-246);
  *  - line volume ramps over the year so the 2011-09-01 time split lands
  *    near the reference's ~64/36 train/test shape (py:366-377);
  *  - non-numeric stock codes ("85123A") among numeric ones.
  *
  * Generation is wholly driver-side from one seeded RNG — byte-identical
  * output for a given (seed, config) on any machine or partitioning.
  */
object RetailFixture {

  /** One raw CSV line, pre-formatting (CustomerID/Description nullable). */
  final case class Line(
      invoiceNo: String,
      stockCode: String,
      description: Option[String],
      quantity: Int,
      invoiceDateRaw: String,
      unitPrice: Double,
      customerId: Option[Int],
      country: String)

  final case class Stats(rawLines: Int, injectedDups: Int, countries: Int)

  val UK: String = graft.forecast.ReferencePipeline.UK

  /** 31 countries: UK + 30 others, a handful carrying real series and a long
    * tail of sparse (<5 rows) ones — the reference's country histogram shape. */
  val midCountries: Seq[String] =
    Seq("Germany", "France", "EIRE", "Spain", "Netherlands", "Belgium")
  val sparseCountries: Seq[String] = Seq(
    "Switzerland", "Portugal", "Australia", "Norway", "Italy", "Channel Islands",
    "Finland", "Cyprus", "Sweden", "Austria", "Denmark", "Japan", "Poland",
    "Israel", "USA", "Hong Kong", "Singapore", "Iceland", "Canada", "Greece",
    "Malta", "United Arab Emirates", "Brazil", "RSA")

  val start: LocalDate = LocalDate.of(2010, 12, 1)
  val end: LocalDate = LocalDate.of(2011, 12, 9)

  /** Trading calendar: every day in span except Saturday (py:613,625). */
  lazy val dates: IndexedSeq[LocalDate] =
    Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end))
      .filter(_.getDayOfWeek != DayOfWeek.SATURDAY).toIndexedSeq

  // Hours unpadded, minutes two-digit — "12/1/10 8:26" — exactly the raw
  // form "M/d/yy H:mm" expects (a single-digit minute would fail the strict
  // DateTimeFormatter parse and null the date).
  private def fmtDate(d: LocalDate, h: Int, m: Int): String =
    f"${d.getMonthValue}/${d.getDayOfMonth}/${d.getYear % 100} $h:$m%02d"

  private def price(rnd: Random): Double =
    if (rnd.nextInt(50) == 0) 0.0 // the APE zero-division edge (py:1343-1344)
    else math.rint((0.5 + rnd.nextDouble * 9.5) * 100) / 100

  private val words = Vector("VINTAGE", "RED", "HEART", "LANTERN", "SET", "BOX",
    "CAKE", "GLASS", "STAR", "HOLDER", "WHITE", "METAL", "JAM", "DOILY")

  private def desc(rnd: Random): Option[String] =
    if (rnd.nextInt(50) == 0) None
    else Some(Seq.fill(2 + rnd.nextInt(2))(words(rnd.nextInt(words.size))).mkString(" "))

  private def customer(rnd: Random): Option[Int] =
    if (rnd.nextInt(4) == 0) None else Some(12346 + rnd.nextInt(6000))

  private def quantity(rnd: Random): Int =
    if (rnd.nextInt(20) == 0) -(1 + rnd.nextInt(10)) // returns stay in (py:160)
    else 1 + rnd.nextInt(24)

  /** Stock catalogs: UK series are long (lag-36/roll-12 viable); non-numeric
    * codes included deliberately (S1 typing: StockCode must stay a string). */
  val ukStocks: Seq[String] =
    Seq("85123A", "84406B", "84879", "22423", "47566", "85099B", "20725",
      "22720", "21212", "22383", "22457", "23203", "22086", "22469", "21754",
      "22112", "20727", "22727", "23298", "22960", "21034", "22139", "22804",
      "23084")
  val exportStocks: Seq[String] = Seq("22326", "22629", "POST", "22661")

  /** Deterministic line set + injected exact duplicates (every 97th line is
    * emitted twice — the duplicate is bit-identical, so dropDuplicates must
    * remove exactly `injectedDups` rows). */
  def lines(seed: Long = 42L): (Seq[Line], Stats) = {
    val rnd = new Random(seed)
    var invoice = 536365
    val out = Seq.newBuilder[Line]
    var n = 0

    def emit(country: String, stock: String, d: LocalDate, dateIdx: Int): Unit = {
      val l = Line(
        invoiceNo = invoice.toString,
        stockCode = stock,
        description = desc(rnd),
        quantity = quantity(rnd),
        invoiceDateRaw = fmtDate(d, 7 + rnd.nextInt(13), rnd.nextInt(60)),
        unitPrice = price(rnd),
        customerId = customer(rnd),
        country = country)
      out += l
      n += 1
      if (n % 97 == 0) out += l // exact dup, counted below
    }

    for ((d, i) <- dates.zipWithIndex) {
      invoice += 1 + (i % 3)
      for (s <- ukStocks) {
        emit(UK, s, d, i)
        // volume ramps over the year → ~64/36 split at 2011-09-01 (py:366-377)
        if (rnd.nextDouble < i.toDouble / dates.size) emit(UK, s, d, i)
      }
      if (i % 2 == 0) for (c <- midCountries; s <- exportStocks.take(2))
        emit(c, s, d, i)
    }
    // long-tail countries: 2-4 rows each, scattered mid-span (<5 observations)
    for ((c, j) <- sparseCountries.zipWithIndex) {
      val k = 2 + j % 3
      for (m <- 0 until k)
        emit(c, exportStocks(j % exportStocks.size), dates(40 + j * 9 + m * 3), 40)
    }

    val all = out.result()
    (all, Stats(all.size, n / 97, 1 + midCountries.size + sparseCountries.size))
  }

  private def csvField(s: String): String =
    if (s.contains(",") || s.contains("\"")) "\"" + s.replace("\"", "\"\"") + "\"" else s

  /** Write the fixture as a single header'd CSV readable by
    * [[CsvSource.readRetail]] (nullable fields → empty, the CSV null form). */
  def writeCsv(path: String, seed: Long = 42L): Stats = {
    val (ls, stats) = lines(seed)
    val sb = new StringBuilder
    sb ++= "InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country\n"
    ls.foreach { l =>
      sb ++= l.invoiceNo += ','
      sb ++= csvField(l.stockCode) += ','
      sb ++= csvField(l.description.getOrElse("")) += ','
      sb ++= l.quantity.toString += ','
      sb ++= l.invoiceDateRaw += ','
      sb ++= (if (l.unitPrice == 0.0) "0.0" else f"${l.unitPrice}%.2f") += ','
      sb ++= l.customerId.map(_.toString).getOrElse("") += ','
      sb ++= csvField(l.country) += '\n'
    }
    Files.write(Paths.get(path), sb.toString.getBytes(StandardCharsets.UTF_8))
    stats
  }
}
