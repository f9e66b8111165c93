package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** JVM-level differential properties for the round-8 kernels — pure
  * HashUtil calls against independently-written references, no Spark jobs,
  * so iteration counts can be high. */
class KernelPropertySpec extends AnyFunSuite {

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(200)
    .withInitialSeed(org.scalacheck.rng.Seed(42L))

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  private val tokensGen: Gen[List[String]] =
    Gen.listOfN(12, Gen.listOfN(4, Gen.alphaNumChar).map(_.mkString))
      .flatMap(full => Gen.choose(0, 12).map(full.take))

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  test("shingleHashes == md5 of every space-joined sliding window") {
    check(Prop.forAll(tokensGen, Gen.choose(1, 5)) { (toks, k) =>
      val arr = new GenericArrayData(
        toks.map(t => UTF8String.fromString(t): Any).toArray)
      val got = {
        val a = HashUtil.shingleHashes(arr, k)
        (0 until a.numElements()).map(a.getUTF8String(_).toString)
      }
      val want =
        if (toks.length < k) Seq.empty
        else toks.sliding(k).map(w => md5Hex(w.mkString(" "))).toSeq
      got == want
    })
  }

  private val vecGen: Gen[Array[Float]] =
    Gen.choose(1, 32).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-1000, 1000).map(_ / 250.0f)).map(_.toArray))

  private def naiveInt8(v: Array[Float], q: Array[Long], qNorm: Long): Double = {
    val amax = v.foldLeft(0.0)((m, x) => math.max(m, math.abs(x.toDouble)))
    if (amax == 0.0 || qNorm == 0L) -2.0
    else {
      val qs = v.map(x => math.floor(x.toDouble * (127.0 / amax) + 0.5).toLong)
      val dot = qs.zip(q).map { case (a, b) => a * b }.sum
      val vn = qs.map(x => x * x).sum
      dot.toDouble / (math.sqrt(vn.toDouble) * math.sqrt(qNorm.toDouble))
    }
  }

  private def exactCosine(a: Array[Float], b: Array[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
    if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
  }

  test("int8Cosine == naive reference; quantized values stay in the int8 domain") {
    check(Prop.forAll(vecGen, vecGen) { (v0, q0) =>
      val n = math.min(v0.length, q0.length)
      val v = v0.take(n); val qv = q0.take(n)
      val q = HashUtil.int8Quantize(qv)
      val qNorm = q.map(x => x * x).sum
      val arr = new GenericArrayData(v.map(x => x: Any).toArray)
      val got = HashUtil.int8Cosine(arr, q, qNorm)
      q.forall(x => x >= -127 && x <= 127) && got == naiveInt8(v, q, qNorm)
    })
  }

  test("int8 quantization error is bounded: |int8cos - cos| small for nonzero vectors") {
    check(Prop.forAll(vecGen, vecGen) { (v0, q0) =>
      val n = math.min(v0.length, q0.length)
      val v = v0.take(n); val qv = q0.take(n)
      val nonzero = v.exists(_ != 0f) && qv.exists(_ != 0f)
      !nonzero || {
        val q = HashUtil.int8Quantize(qv)
        val qNorm = q.map(x => x * x).sum
        val arr = new GenericArrayData(v.map(x => x: Any).toArray)
        val approx = HashUtil.int8Cosine(arr, q, qNorm)
        math.abs(approx - exactCosine(v, qv)) <= 0.08
      }
    })
  }

  // lag vectors of up to 12 values: nulls, negatives (returns), repeats
  // (drawn from a small pool) and magnitudes up to ±1e6
  private val lagsGen: Gen[Seq[Option[Long]]] = Gen.choose(1, 12).flatMap { k =>
    val value = Gen.frequency(
      3 -> Gen.choose(-5L, 5L),
      3 -> Gen.choose(-1000000L, 1000000L),
      1 -> Gen.oneOf(-1000000L, 1000000L, 0L))
    Gen.listOfN(k, Gen.frequency(1 -> Gen.const(None), 4 -> value.map(Some(_))))
  }

  /** Today's sliding-frame columns written out plainly: count, sum and
    * sum of squares as longs, the std formula, and `percentile`'s median. */
  private def naiveStats(frame: Seq[Long]): Seq[Any] = {
    val n = frame.size
    val (s1, s2) = (frame.sum, frame.map(v => v * v).sum)
    val mean = if (n == 0) null else s1.toDouble / n.toDouble
    val std = if (n < 2) null
      else math.sqrt((s2.toDouble - s1.toDouble * s1.toDouble / n.toDouble) / (n.toDouble - 1.0))
    val median = if (n == 0) null else {
      val xs = frame.sorted
      val pos = (n - 1) * 0.5
      val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
      if (xs(lo) == xs(hi)) xs(lo).toDouble
      else (hi - pos) * xs(lo).toDouble + (pos - lo) * xs(hi).toDouble
    }
    Seq(mean, std, median)
  }

  // doubles compare by their raw bits, so NaN and -0.0 count too
  private def sameBits(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case _ => a == b
  }

  /** The kernel's (mean, std, median) over the frame of `lags`, None a null. */
  private def kernel(lags: Seq[Option[Long]]): Seq[Any] = {
    val row = HashUtil.rollingStats(
      lags.map(_.getOrElse(0L)).toArray, lags.map(_.isDefined).toArray, new Array[Long](lags.size))
    (0 until row.numFields).map(i => if (row.isNullAt(i)) null else row.getDouble(i))
  }

  test("rollingStats == mean/std/median of the trailing frame, doubles bit-equal") {
    check(Prop.forAll(lagsGen) { lags =>
      val (got, want) = (kernel(lags), naiveStats(lags.flatten))
      got.size == want.size && got.zip(want).forall { case (a, b) => sameBits(a, b) }
    })
  }

  test("rollingStats interpolates an even-count median and nulls an empty frame") {
    // {5, -3} → 0.5·(-3) + 0.5·5; {5, -3, -3} → -3
    assert(kernel(Seq(Some(5L), Some(-3L)))(2) === 0.5 * -3.0 + 0.5 * 5.0)
    assert(kernel(Seq(Some(5L), Some(-3L), None, Some(-3L)))(2) === -3.0)
    assert(kernel(Seq(None, None)) === Seq(null, null, null))
  }
}
