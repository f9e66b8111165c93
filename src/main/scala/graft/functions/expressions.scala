package graft.functions

import org.apache.spark.sql.{Column, GraftColumn, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType}

/** Custom Catalyst expressions for the operators where a single-pass native
  * kernel beats composing built-ins: content fingerprints, SimHash sketches,
  * and dense-vector cosine. All three participate in whole-stage codegen
  * (`defineCodeGen` emits a static call into [[HashUtil]], so interpreted and
  * generated paths share one implementation).
  *
  * These go beyond the reference surface (it needed no custom expressions,
  * SURVEY §2.12); they exist for the training-data-pipeline extensions.
  */
case class RollingHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.rollingHash(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.rollingHash($c)")
  override protected def withNewChildInternal(newChild: Expression): RollingHash64 =
    copy(child = newChild)
  override def prettyName: String = "graft_rolling_hash"
}

/** Unicode NFC normalization ([[HashUtil.nfcNormalize]] — ASCII fast path,
  * stabilized composition tables, codegen'd). Spark has no built-in
  * normalizer; the oracle engine's `nfc_normalize` is the cross-check. */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.nfcNormalize(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.nfcNormalize($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalizeExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_nfc"
}

case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.simHash(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.simHash($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash"
}

/** Cosine similarity over two array<float> columns (single fused pass: dot
  * and both norms in one loop — no intermediate arrays, codegen-friendly). */
case class CosineSimilarity(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashUtil.cosineFF(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashUtil.cosineFF($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_cosine"
}

/** Distinct word k-shingles of a token array — fused single pass (see
  * HashUtil.wordShingles for why this beats the lambda composition). */
case class WordShinglesExpr(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.wordShingles(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.wordShingles($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_word_shingles"
}

/** Distinct char k-gram count of a string — fused single pass. */
case class CharShingleCountExpr(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.charShingleCount(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.charShingleCount($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): CharShingleCountExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_char_shingles"
}

/** MinHash signature (array<long>) over a shingle array — all hash slots in
  * one pass. */
case class MinHashExpr(child: Expression, numHashes: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.minHash(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.minHash($c, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): MinHashExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_minhash"
}

/** Bit-reproducible cosine (floor-scaled integer sums — see
  * HashUtil.cosineFloor): same value in any engine, fused loop. */
case class CosineFloorSimilarity(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashUtil.cosineFloor(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashUtil.cosineFloor($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineFloorSimilarity =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_cosine_floor"
}

/** \S+ tokenization as one byte scan (see HashUtil.tokenize) — replaces
  * regexp_extract_all in the hot text paths. */
case class TokenizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.tokenize(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.tokenize($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenizeExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_tokenize"
}

/** IVF coarse-quantizer assignment: index of the nearest (max-dot) centroid.
  * The centroid matrix is a driver-held reference object injected into the
  * generated code (ctx.addReferenceObj), so codegen still applies. */
case class NearestCentroidExpr(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.nearestCentroid(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], centroids)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.nearestCentroid($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroidExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_nearest_centroid"
}

/** Random-hyperplane LSH signature: bit b set iff dot(vec, planes(b)) >= 0.
  * The plane matrix is driver state injected into generated code
  * (ctx.addReferenceObj), so the whole signature stays inside whole-stage
  * codegen — one fused planes × dim loop per row instead of bits × dims of
  * interpreted aggregate/zip_with closures. */
case class HyperplaneSigExpr(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.hyperplaneSig(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.hyperplaneSig($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): HyperplaneSigExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_hyperplane_sig"
}

/** Positional md5-hex shingle hashes (see HashUtil.shingleHashes) — the
  * span-dedup front door: one fused byte-hashing pass per row replaces an
  * interpreted transform/slice/array_join/md5 lambda chain. */
case class ShingleHashesExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"shingle width must be >= 1, got $k")
  // Analysis-time input check (the BpeMergeExpr discipline): fail with a
  // clear error instead of a runtime ClassCastException.
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_shingle_hashes requires array<string> input, got ${other.sql}")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.shingleHashes(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.shingleHashes($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_shingle_hashes"
}

/** Int8-quantized cosine against a pre-quantized query vector (see
  * HashUtil.int8Cosine): per-row symmetric quantization to the int8 domain,
  * exact integer dot/norm sums, one fixed-order IEEE score — bit-identical
  * across engines. The quantized query and its norm are driver state
  * injected via addReferenceObj, so the whole kernel whole-stage-codegens. */
case class Int8CosineExpr(child: Expression, q: Array[Long], qNorm: Long)
    extends UnaryExpression {
  // Analysis-time input check: the kernel reads float elements, so any
  // other element type must fail at analysis, not with a runtime CCE.
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_int8_cosine requires array<float> input, got ${other.sql}")
    }
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.int8Cosine(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], q, qNorm)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("quantQuery", q, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.int8Cosine($c, $ref, ${qNorm}L)")
  }
  override protected def withNewChildInternal(newChild: Expression): Int8CosineExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_int8_cosine"
}

/** All-lists stopword hit counts in one pass (see HashUtil.listHits) —
  * replaces one interpreted filter/array_contains lambda per word list with a
  * single hash-probe scan producing array<int> of per-list counts. The
  * token→bitmask map is built once on the driver and injected into generated
  * code via addReferenceObj, so the scan whole-stage-codegens. */
case class ListHitsExpr(child: Expression, lists: Seq[Seq[String]])
    extends UnaryExpression {
  require(lists.nonEmpty && lists.size <= 32,
    s"listHits supports 1..32 word lists (int bitmask); got ${lists.size}")
  @transient private lazy val lookup: java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, Integer] = {
    val m = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer]()
    lists.zipWithIndex.foreach { case (words, i) =>
      words.foreach { w =>
        val k = org.apache.spark.unsafe.types.UTF8String.fromString(w)
        val prev = m.get(k)
        m.put(k, Integer.valueOf((if (prev == null) 0 else prev.intValue()) | (1 << i)))
      }
    }
    m
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.listHits(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      lookup, lists.size)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("listHitsLookup", lookup, "java.util.HashMap")
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.listHits($c, $ref, ${lists.size})")
  }
  override protected def withNewChildInternal(newChild: Expression): ListHitsExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_list_hits"
}

/** Trailing-frame mean/std/median from lag values (see
  * HashUtil.rollingStats): child i is lag i+1 of one long column over one
  * window, so the frame is [-n, -1] for n children, and the struct holds its
  * `mean`, `std` and `median`. The lags are offset frames, O(1) per row, so
  * this replaces one sliding-frame aggregate per statistic, which
  * re-aggregates its whole frame for every row. The generated code fills
  * per-partition arrays from the children and calls the shared helper. */
case class RollingStatsExpr(children: Seq[Expression]) extends Expression {
  override def checkInputDataTypes(): TypeCheckResult =
    children.find(_.dataType != LongType) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"graft_rolling_stats requires bigint lags, got ${c.dataType.sql}")
    }
  override def nullable: Boolean = false
  override def dataType: DataType =
    StructType(Seq("mean", "std", "median").map(StructField(_, DoubleType)))
  override def eval(input: InternalRow): Any = {
    val lags = new Array[Long](children.size)
    val present = new Array[Boolean](children.size)
    children.indices.foreach { i =>
      val v = children(i).eval(input)
      if (v != null) { lags(i) = v.asInstanceOf[Long]; present(i) = true }
    }
    HashUtil.rollingStats(lags, present, new Array[Long](children.size))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = children.size
    val lags = ctx.addMutableState("long[]", "rollLags", v => s"$v = new long[$k];")
    val present = ctx.addMutableState("boolean[]", "rollPresent", v => s"$v = new boolean[$k];")
    val sorted = ctx.addMutableState("long[]", "rollSorted", v => s"$v = new long[$k];")
    val fills = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      s"""${e.code}
         |$present[$i] = !${e.isNull};
         |if (!${e.isNull}) $lags[$i] = ${e.value};""".stripMargin
    }
    ev.copy(code = code"""
      |${ctx.splitExpressionsWithCurrentInputs(fills)}
      |InternalRow ${ev.value} =
      |  graft.functions.HashUtil.rollingStats($lags, $present, $sorted);""".stripMargin,
      isNull = FalseLiteral)
  }
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): RollingStatsExpr =
    copy(children = newChildren)
  override def prettyName: String = "graft_rolling_stats"
}

/** All-classes character occurrence counts in one pass (see
  * HashUtil.charClassCounts) — replaces one regexp_replace length-diff per
  * character class with a single scan producing array<int>. */
case class CharClassCountsExpr(child: Expression, classes: Seq[String])
    extends UnaryExpression {
  require(classes.nonEmpty && classes.size <= 32,
    s"charClassCounts supports 1..32 char classes (int bitmask); got ${classes.size}")
  @transient private lazy val lookup: java.util.HashMap[Character, Integer] = {
    val m = new java.util.HashMap[Character, Integer]()
    classes.zipWithIndex.foreach { case (cls, i) =>
      cls.foreach { ch =>
        val k = Character.valueOf(ch)
        val prev = m.get(k)
        m.put(k, Integer.valueOf((if (prev == null) 0 else prev.intValue()) | (1 << i)))
      }
    }
    m
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.charClassCounts(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      lookup, classes.size)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charClassLookup", lookup, "java.util.HashMap")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashUtil.charClassCounts($c, $ref, ${classes.size})")
  }
  override protected def withNewChildInternal(newChild: Expression): CharClassCountsExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_char_class_counts"
}

/** One greedy leftmost BPE merge pass (see HashUtil.bpeMerge) over a symbol
  * array, with the merge pair as literals — k training rounds stack k of
  * these, all inside whole-stage codegen (the pair UTF8Strings ride in as
  * reference objects). */
case class BpeMergeExpr(child: Expression, a: String, b: String)
    extends UnaryExpression {
  // Analysis-time input check (ADVICE r7): a non-array<string> child must
  // fail with a clear error, not a runtime ClassCastException. (Not via
  // ExpectsInputTypes — AbstractDataType is private[sql].)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_bpe_merge requires array<string> input, got ${other.sql}")
    }
  @transient private lazy val ua =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
  @transient private lazy val ub =
    org.apache.spark.unsafe.types.UTF8String.fromString(b)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.bpeMerge(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], ua, ub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ra = ctx.addReferenceObj("bpeA", ua, "org.apache.spark.unsafe.types.UTF8String")
    val rb = ctx.addReferenceObj("bpeB", ub, "org.apache.spark.unsafe.types.UTF8String")
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.bpeMerge($c, $ra, $rb)")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeMergeExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_bpe_merge"
}

/** Session registration + Column-level API for the custom expressions. */
object GraftFunctions {
  private val registered =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  def register(spark: SparkSession): Unit = if (registered.add(spark)) {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "graft_rolling_hash", exprs => RollingHash64(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_simhash", exprs => SimHash64(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_cosine", exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in")
  }

  def rollingHash(spark: SparkSession, c: Column): Column = {
    register(spark); call_function("graft_rolling_hash", c)
  }
  def simHash(spark: SparkSession, tokens: Column): Column = {
    register(spark); call_function("graft_simhash", tokens)
  }
  def cosine(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark); call_function("graft_cosine", a, b)
  }

  // Session-free Column constructors (via the Expression→Column bridge).
  def wordShingles(tokens: Column, k: Int): Column =
    GraftColumn(WordShinglesExpr(expression(tokens), k))
  def charShingleCount(c: Column, k: Int): Column =
    GraftColumn(CharShingleCountExpr(expression(c), k))
  def minHash(shingles: Column, numHashes: Int): Column =
    GraftColumn(MinHashExpr(expression(shingles), numHashes))
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column =
    GraftColumn(NearestCentroidExpr(expression(vec), centroids))
  def hyperplaneSig(vec: Column, planes: Array[Array[Double]]): Column =
    GraftColumn(HyperplaneSigExpr(expression(vec), planes))
  def tokenize(c: Column): Column =
    GraftColumn(TokenizeExpr(expression(c)))
  /** Unicode NFC canonical composition (codegen'd; ASCII fast path). */
  def nfcNormalize(c: Column): Column =
    GraftColumn(NfcNormalizeExpr(expression(c)))
  def cosineFloor(a: Column, b: Column): Column =
    GraftColumn(CosineFloorSimilarity(expression(a), expression(b)))
  /** Int8-quantized cosine vs a driver-quantized query (HashUtil.int8Cosine). */
  def int8Cosine(vec: Column, q: Array[Long], qNorm: Long): Column =
    GraftColumn(Int8CosineExpr(expression(vec), q, qNorm))
  /** Positional md5-hex k-shingle hashes (HashUtil.shingleHashes). */
  def shingleHashes(tokens: Column, k: Int): Column =
    GraftColumn(ShingleHashesExpr(expression(tokens), k))
  /** Per-list token hit counts (array<int>, one slot per list) in one fused
    * scan. At most 32 lists (int bitmask). */
  def listHits(tokens: Column, lists: Seq[Seq[String]]): Column =
    GraftColumn(ListHitsExpr(expression(tokens), lists))

  /** Trailing-frame statistics (struct of `mean`, `std`, `median`) over the
    * frame [-n, -1] from its n `lags`, lag 1 first, of one long column. */
  def rollingStats(lags: Seq[Column]): Column =
    GraftColumn(RollingStatsExpr(lags.map(expression)))

  /** Per-class character occurrence counts (array<int>, one slot per class)
    * in one fused scan. Each class string is a LITERAL set of BMP chars —
    * NOT a regex class body: '-', ']' and ranges like "a-z" are taken as the
    * characters themselves. At most 32 classes (int bitmask). */
  def charClassCounts(c: Column, classes: Seq[String]): Column =
    GraftColumn(CharClassCountsExpr(expression(c), classes))

  /** One greedy leftmost BPE merge of adjacent (a, b) → a+b. */
  def bpeMerge(syms: Column, a: String, b: String): Column =
    GraftColumn(BpeMergeExpr(expression(syms), a, b))

  private def expression(c: Column): Expression = GraftColumn.expr(c)
}
