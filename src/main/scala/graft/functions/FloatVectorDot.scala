package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two `array<float>` columns in
  * double precision, with whole-stage codegen (`doGenCode`) — the hot-loop
  * throughput path for similarity search. The decimal-accumulated
  * [[graft.operators.Similarity.dotExact]] stays the oracle-comparable path;
  * this one generates a tight primitive loop with no boxing, no lambda
  * dispatch, and no decimal arithmetic.
  *
  * Preference order per the build rules: compose built-ins where possible;
  * a native Expression where the built-ins allocate (zip_with materializes
  * an intermediate array per row — this doesn't).
  */
case class FloatVectorDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "fvec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorDot =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression: count of pairwise-equal slots of two
  * `array<long>` MinHash signatures — the signature-agreement numerator of
  * est_jaccard. The composed `size(filter(zip_with(a, b, (x,y) -> x = y),
  * v -> v))` allocates two intermediate arrays per pair and evaluates its
  * lambdas interpreted; this is one generated primitive loop. */
case class SigAgreement(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def prettyName: String = "sig_agree"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) acc += 1
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $acc = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $acc++;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigAgreement =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression: ORDER-INDEPENDENT exact dot product of two
  * `array<float>` columns as a scaled long — slot i contributes
  * `floor(x_i * y_i * 2^shift)`. Each float product is exact in double
  * (24+24-bit mantissas), the power-of-two scale only shifts the exponent,
  * and `floor` is engine-agnostic (unlike round-half, whose tie direction
  * differs between Java and DuckDB), so the result is bit-identical under
  * any partitioning AND in the DuckDB oracle
  * (`FLOOR(CAST(x AS DOUBLE)*CAST(y AS DOUBLE)*2^shift)::BIGINT` summed).
  * Replaces the DECIMAL(38,18)-fold [[graft.operators.Similarity.dotExact]]
  * on hot paths: pure long arithmetic in a codegen'd loop versus an
  * interpreted lambda allocating a BigDecimal per element (~100× faster at
  * equal determinism; precision 2^-shift per element is far below any
  * ranking gap in real embeddings).
  */
case class FloatVectorScaledDot(left: Expression, right: Expression, shift: Int)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok && shift > 0 && shift < 63) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments and 0<shift<63, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString}, $shift)")
  }

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def prettyName: String = "fvec_scaled_dot"

  private lazy val scale: Double = java.lang.Math.scalb(1.0, shift)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += math.floor(x.getFloat(i).toDouble * y.getFloat(i).toDouble * scale).toLong
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (long) java.lang.Math.floor(
         |    (double) $a.getFloat($i) * (double) $b.getFloat($i) * ${scale}D);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorScaledDot =
    copy(left = newLeft, right = newRight)
}

/** Graft's native SQL functions. A session gets them at build time through
  * [[graft.plans.GraftExtensions]], or live with [[register]]
  * (idempotent). */
object GraftFunctions {

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.catalyst.expressions.Literal

  private[graft] val descriptors
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("fvec_dot"),
      new ExpressionInfo(classOf[FloatVectorDot].getName, "fvec_dot"),
      (children: Seq[Expression]) => FloatVectorDot(children(0), children(1))),
    (FunctionIdentifier("fvec_scaled_dot"),
      new ExpressionInfo(classOf[FloatVectorScaledDot].getName, "fvec_scaled_dot"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => FloatVectorScaledDot(a, b, 36)
        case Seq(a, b, Literal(s: Int, _)) => FloatVectorScaledDot(a, b, s)
        case other => throw new IllegalArgumentException(
          s"fvec_scaled_dot(a, b[, shift]) — got ${other.length} args")
      }),
    (FunctionIdentifier("fvec_lsh_bucket"),
      new ExpressionInfo(classOf[FvecLshBucket].getName, "fvec_lsh_bucket"),
      (children: Seq[Expression]) => children match {
        case Seq(v, Literal(b: Int, _), Literal(s: Int, _)) => FvecLshBucket(v, b, s)
        case other => throw new IllegalArgumentException(
          s"fvec_lsh_bucket(vec, bits, shift) — got ${other.length} args")
      }),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (children: Seq[Expression]) => SimHash64(children.head)),
    (FunctionIdentifier("minhash_text_signature"),
      new ExpressionInfo(classOf[MinHashTextSignature].getName, "minhash_text_signature"),
      (children: Seq[Expression]) => children match {
        case Seq(text) => MinHashTextSignature(text)
        case Seq(text, Literal(k: Int, _), Literal(n: Int, _)) => MinHashTextSignature(text, k, n)
        case other => throw new IllegalArgumentException(
          s"minhash_text_signature(text[, k, numHashes]) — got ${other.length} args")
      }),
    (FunctionIdentifier("winnow_fingerprints"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "winnow_fingerprints"),
      (children: Seq[Expression]) => children match {
        case Seq(text) => WinnowFingerprints(text)
        case Seq(text, Literal(k: Int, _), Literal(w: Int, _)) => WinnowFingerprints(text, k, w)
        case other => throw new IllegalArgumentException(
          s"winnow_fingerprints(text[, k, w]) — got ${other.length} args")
      }),
    (FunctionIdentifier("winnow_word_fingerprints"),
      new ExpressionInfo(classOf[WinnowWordFingerprints].getName, "winnow_word_fingerprints"),
      (children: Seq[Expression]) => children match {
        case Seq(text) => WinnowWordFingerprints(text)
        case Seq(text, Literal(k: Int, _), Literal(w: Int, _)) => WinnowWordFingerprints(text, k, w)
        case other => throw new IllegalArgumentException(
          s"winnow_word_fingerprints(text[, k, w]) — got ${other.length} args")
      }),
    (FunctionIdentifier("levenshtein_fast"),
      new ExpressionInfo(classOf[LevenshteinFast].getName, "levenshtein_fast"),
      (children: Seq[Expression]) => LevenshteinFast(children(0), children(1))),
    (FunctionIdentifier("simhash_text"),
      new ExpressionInfo(classOf[SimHashText].getName, "simhash_text"),
      (children: Seq[Expression]) => SimHashText(children.head)),
    (FunctionIdentifier("sig_agree"),
      new ExpressionInfo(classOf[SigAgreement].getName, "sig_agree"),
      (children: Seq[Expression]) => SigAgreement(children(0), children(1))),
    (FunctionIdentifier("word_lines"),
      new ExpressionInfo(classOf[WordLines].getName, "word_lines"),
      (children: Seq[Expression]) => children match {
        case Seq(text, Literal(k: Int, _)) => WordLines(text, k)
        case other => throw new IllegalArgumentException(
          s"word_lines(text, k) — got ${other.length} args")
      }),
    (FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams"),
      (children: Seq[Expression]) => children match {
        case Seq(text, Literal(k: Int, _)) => WordNgrams(text, k)
        case other => throw new IllegalArgumentException(
          s"word_ngrams(text, k) — got ${other.length} args")
      }),
    (FunctionIdentifier("shingle_hash60"),
      new ExpressionInfo(classOf[ShingleHash60].getName, "shingle_hash60"),
      (children: Seq[Expression]) => children match {
        case Seq(text) => ShingleHash60(text)
        case Seq(text, Literal(k: Int, _)) => ShingleHash60(text, k)
        case other => throw new IllegalArgumentException(
          s"shingle_hash60(text[, k]) — got ${other.length} args")
      }),
    (FunctionIdentifier("nfc_normalize_key"),
      new ExpressionInfo(classOf[NfcNormalizeKey].getName, "nfc_normalize_key"),
      (children: Seq[Expression]) => NfcNormalizeKey(children.head)),
    (FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (children: Seq[Expression]) => children match {
        case Seq(tokens) => MinHashSignature(tokens)
        case Seq(tokens, Literal(n: Int, _)) => MinHashSignature(tokens, n)
        case other => throw new IllegalArgumentException(
          s"minhash_signature(tokens[, numHashes]) — got ${other.length} args")
      }))

  /** Register graft functions on a live session (safe to call repeatedly). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    descriptors.foreach { case (ident, info, builder) =>
      registry.registerFunction(ident, info, builder)
    }
  }

  /** IVF expressions close over a runtime centroid set (collected from
    * data — not expressible as SQL literals without bloating the plan), so
    * they are built straight into `Column`s via
    * [[org.apache.spark.sql.graft.ColumnBridge]] rather than registered on
    * the session-global function registry: two IVF queries with different
    * centroid sets compose in one session with no shared mutable state. */
  import org.apache.spark.sql.graft.ColumnBridge

  /** Word k-gram array Column ([[WordNgrams]]) — registry-free builder so
    * operator helpers can use it without a session at hand. */
  def wordNgrams(text: Column, k: Int): Column =
    ColumnBridge.column(WordNgrams(ColumnBridge.expression(text), k))

  /** Non-overlapping k-token line array Column ([[WordLines]]). */
  def wordLines(text: Column, k: Int): Column =
    ColumnBridge.column(WordLines(ColumnBridge.expression(text), k))

  /** Distinct-shingle 60-bit hash array Column ([[ShingleHash60]]) —
    * registry-free builder for the containment operators. */
  def shingleHash60(text: Column, k: Int): Column =
    ColumnBridge.column(ShingleHash60(ColumnBridge.expression(text), k))

  /** Word-level winnowing fingerprint Column ([[WinnowWordFingerprints]])
    * — registry-free builder for [[graft.operators.Winnow]]. */
  def winnowWordFingerprints(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowWordFingerprints(ColumnBridge.expression(text), k, w))

  /** Bit-parallel exact Levenshtein Column ([[LevenshteinFast]]) —
    * registry-free drop-in for `functions.levenshtein`. */
  def levenshteinFast(l: Column, r: Column): Column =
    ColumnBridge.column(LevenshteinFast(
      ColumnBridge.expression(l), ColumnBridge.expression(r)))

  /** In-row ordered pair expansion Column ([[SortedIdPairs]]) — the
    * containment/winnowing pair-census helper. */
  def sortedIdPairs(ids: Column): Column =
    ColumnBridge.column(SortedIdPairs(ColumnBridge.expression(ids)))

  /** Full-Unicode dedup-key normalization ([[NfcNormalizeKey]]: NFC +
    * Root-locale casefold + whitespace collapse) — registry-free builder. */
  def nfcNormalizeKey(text: Column): Column =
    ColumnBridge.column(NfcNormalizeKey(ColumnBridge.expression(text)))

  /** Index of the max-dot centroid — the IVF inverted-list assignment. */
  def ivfNearest(vec: Column, centroids: Array[Array[Float]], shift: Int): Column =
    ColumnBridge.column(FvecNearestIndex(ColumnBridge.expression(vec), centroids, shift,
      new Array[Long](centroids.length)))

  /** Euclidean-assignment variant for Lloyd refinement: argmin ‖v−c‖² via
    * the half-self-dot bias (v·v is constant per row and drops out). */
  def ivfNearestEuclid(vec: Column, centroids: Array[Array[Float]], shift: Int): Column = {
    val scale = java.lang.Math.scalb(1.0, shift)
    val bias = centroids.map { c =>
      c.map(x => math.floor(x.toDouble * x.toDouble * scale).toLong).sum / 2
    }
    ColumnBridge.column(FvecNearestIndex(ColumnBridge.expression(vec), centroids, shift, bias))
  }

  /** The `nProbe` nearest centroid indices — the IVF probe set. */
  def ivfProbes(vec: Column, centroids: Array[Array[Float]], nProbe: Int, shift: Int): Column =
    ColumnBridge.column(FvecTopProbes(ColumnBridge.expression(vec), centroids, nProbe, shift))
}
