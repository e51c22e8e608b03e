package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for dense-vector math over
  * `array<double>` columns, WITH `doGenCode` — unlike the higher-order
  * `aggregate`/`zip_with` folds (CodegenFallback → interpreted per row)
  * these compile into a whole-stage-codegen'd Java loop, and unlike a
  * Scala UDF there is no serialization or boxing boundary.
  *
  * Lives inside the org.apache.spark.sql namespace because the types an
  * Expression author needs (`AbstractDataType`, `ExpressionUtils`) are
  * `private[sql]`; the public API is `graft.functions.VecFunctions`.
  *
  * Both loops accumulate left-to-right, so results are bit-identical to
  * the fold-based formulation and to the DuckDB `list_reduce` twins
  * (same IEEE addition sequence).
  */
abstract class VecBinaryExpression extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType

  /** Java source for one loop iteration: accumulate into `acc` from
    * element doubles `xi`, `yi`. */
  protected def combineJava(acc: String, xi: String, yi: String): String
  protected def combineScala(acc: Double, xi: Double, yi: Double): Double

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc = combineScala(acc, x.getDouble(i), y.getDouble(i)); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |double $acc = 0.0;
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $x.getDouble($i);
         |  double $yi = $y.getDouble($i);
         |  ${combineJava(acc, xi, yi)}
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
}

/** Σ xᵢ·yᵢ */
case class VecDot(left: Expression, right: Expression) extends VecBinaryExpression {
  override protected def combineJava(acc: String, xi: String, yi: String): String =
    s"$acc += $xi * $yi;"
  override protected def combineScala(acc: Double, xi: Double, yi: Double): Double =
    acc + xi * yi
  override def prettyName: String = "vec_dot"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

/** Σ (xᵢ-yᵢ)² */
case class VecSqDist(left: Expression, right: Expression) extends VecBinaryExpression {
  override protected def combineJava(acc: String, xi: String, yi: String): String =
    s"double d = $xi - $yi; $acc += d * d;"
  override protected def combineScala(acc: Double, xi: Double, yi: Double): Double = {
    val d = xi - yi; acc + d * d
  }
  override def prettyName: String = "vec_sqdist"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecSqDist =
    copy(left = l, right = r)
}

/** Raw IEEE-754 bits of a double, as a long. For NON-NEGATIVE doubles
  * the bit pattern (sign 0, then exponent, then mantissa) is
  * order-isomorphic to the numeric value, so an argmin over a
  * non-negative double key can run over its bits instead — which packs
  * with a tie-break id into one fixed-width scalar that HashAggregate
  * can buffer (a struct buffer forces SortAggregate; see
  * KMeansOps.assignJoin). Not order-preserving for negatives/NaN. */
case class DoubleBits(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Double.doubleToRawLongBits($c)")
  override def prettyName: String = "double_bits"
  override protected def withNewChildInternal(c: Expression): DoubleBits = copy(child = c)
}

/** Inverse of [[DoubleBits]]: reinterpret a long as the double whose
  * IEEE-754 bit pattern it is. */
case class BitsDouble(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any =
    java.lang.Double.longBitsToDouble(v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Double.longBitsToDouble($c)")
  override def prettyName: String = "bits_double"
  override protected def withNewChildInternal(c: Expression): BitsDouble = copy(child = c)
}

/** 31-base polynomial rolling hash of a string's Unicode code points,
  * mod 1e9+7 — the document-fingerprint kernel (TextOps.fingerprint).
  * Replaces the `aggregate(split(text, ''), ...)` higher-order fold,
  * which is CodegenFallback (interpreted per row, and it breaks the
  * whole-stage-codegen span of the hosting Project). Identical values:
  * same left-to-right fold, and per-BMP-character `ascii()` equals the
  * code point (the corpus is ASCII; code points also match DuckDB's
  * per-character `ascii` for all of Unicode). */
case class StringFingerprint(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    StringFingerprint.hash(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.StringFingerprint.hash($c.toString())")
  override def prettyName: String = "doc_fingerprint"
  override protected def withNewChildInternal(c: Expression): StringFingerprint =
    copy(child = c)
}

/** Unicode canonical composition (NFC, UAX #15) of a string — the
  * standard first step of corpus text normalization (decomposed
  * accents, compatibility artifacts from OCR/HTML pipelines). Thin
  * codegen shim over `java.text.Normalizer`, which implements the same
  * canonical composition as DuckDB's utf8proc-backed `nfc_normalize`,
  * so NFC output is oracle-comparable cross-engine. Native expression
  * rather than a UDF: stays inside the hosting Project's
  * whole-stage-codegen span. */
case class NfcNormalize(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(
      NfcNormalize.nfc(v.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"org.apache.spark.sql.graft.NfcNormalize.nfc($c.toString()))")
  override def prettyName: String = "nfc_normalize"
  override protected def withNewChildInternal(c: Expression): NfcNormalize =
    copy(child = c)
}

object NfcNormalize {
  def nfc(s: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
}

object StringFingerprint {
  /** Shared by interpreted eval and generated code (called from the
    * codegen'd Java via this static-forwarder-friendly signature). */
  def hash(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }
}

/** Single-pass whitespace-token statistics of an (already lower-cased)
  * string, as `array<bigint>` `[n_tokens, total_token_chars,
  * n_stopword_tokens, n_distinct_tokens]` — the kernel of
  * `TextOps.qualityScore`. Replaces four higher-order-function lambdas
  * (`filter`/`aggregate`/`array_contains`/`array_distinct` over the
  * token array), each CodegenFallback (interpreted per row) and each
  * breaking the hosting Project's whole-stage-codegen span; this walks
  * the string once, materializing no token array. Token = maximal run
  * of non-space chars (split-on-' ' with empties dropped — identical to
  * the DuckDB `list_filter(string_split(...))` twin); token length is
  * counted in code points, matching Spark `length()`/DuckDB `length()`.
  */
case class TextStats(child: Expression, stopwords: Seq[String])
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add)
    s
  }

  override def nullSafeEval(v: Any): Any =
    TextStats.stats(v.asInstanceOf[UTF8String].toString, stopSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // raw (non-generic) type: the generated Java is compiled by Janino,
    // which does not support generics
    val setRef = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.TextStats.stats($c.toString(), $setRef)")
  }

  override def prettyName: String = "text_stats"
  override protected def withNewChildInternal(c: Expression): TextStats =
    copy(child = c)
}

object TextStats {
  /** Shared by interpreted eval and the codegen'd Java. */
  def stats(s: String, stops: java.util.HashSet[String]): ArrayData = {
    var nTok = 0L
    var totalLen = 0L
    var nStop = 0L
    val seen = new java.util.HashSet[String]()
    val len = s.length
    var i = 0
    while (i <= len) {
      var j = i
      while (j < len && s.charAt(j) != ' ') j += 1
      if (j > i) {
        val tok = s.substring(i, j)
        nTok += 1
        totalLen += tok.codePointCount(0, tok.length)
        if (stops.contains(tok)) nStop += 1
        seen.add(tok)
      }
      i = j + 1
    }
    new GenericArrayData(Array(nTok, totalLen, nStop, seen.size.toLong))
  }
}

/** Single-pass Gopher-repetition kernel: for word n-grams with
  * n = 2..10 over the space-tokenized input, emits
  * [top2_chars, dup2_chars, top3_chars, dup3_chars, …, dup10_chars]
  * (18 longs) where top = occurrences×charlen of the most repeated
  * n-gram and dup = Σ occurrences×charlen over n-grams occurring ≥ 2×.
  * Exact integer counts — the relational twin (explode → GROUP BY
  * (doc, n, gram)) computes the identical values; this kernel exists so
  * the per-doc stats never leave the scan stage: all grams of a doc
  * are within one row, so a shuffle is pure waste (measured 7.7 s →
  * sub-second at sf0.1). Same codegen pattern as [[TextStats]]. */
case class GramRepStats(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    GramRepStats.stats(v.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.GramRepStats.stats($c.toString())")

  override def prettyName: String = "gram_rep_stats"
  override protected def withNewChildInternal(c: Expression): GramRepStats =
    copy(child = c)
}

object GramRepStats {
  val MinN = 2
  val MaxN = 10

  /** Shared by interpreted eval and the codegen'd Java. */
  def stats(s: String): ArrayData = {
    // tokenize exactly like TextStats / TextOps.tokens: split on single
    // spaces, drop empties
    val toks = new java.util.ArrayList[String]()
    val len = s.length
    var i = 0
    while (i <= len) {
      var j = i
      while (j < len && s.charAt(j) != ' ') j += 1
      if (j > i) toks.add(s.substring(i, j))
      i = j + 1
    }
    val t = toks.size
    val out = new Array[Long](2 * (MaxN - MinN + 1))
    var n = MinN
    while (n <= MaxN) {
      val m = t - n + 1
      if (m > 0) {
        val grams = new Array[String](m)
        var g = 0
        while (g < m) {
          val sb = new java.lang.StringBuilder()
          var k = 0
          while (k < n) {
            if (k > 0) sb.append(' ')
            sb.append(toks.get(g + k))
            k += 1
          }
          grams(g) = sb.toString
          g += 1
        }
        // any total order groups equal grams into runs; only equality
        // matters, so UTF-16 String order is fine
        java.util.Arrays.sort(grams.asInstanceOf[Array[AnyRef]])
        var top = 0L
        var dup = 0L
        var runStart = 0
        var p = 1
        while (p <= m) {
          if (p == m || grams(p) != grams(runStart)) {
            val run = (p - runStart).toLong
            val gram = grams(runStart)
            val chars = run * gram.codePointCount(0, gram.length)
            if (chars > top) top = chars
            if (run >= 2L) dup += chars
            runStart = p
          }
          p += 1
        }
        out(2 * (n - MinN)) = top
        out(2 * (n - MinN) + 1) = dup
      }
      n += 1
    }
    new GenericArrayData(out)
  }
}

/** Portable cross-engine ln (graft.functions.PortableMath): evaluates
  * the exact correctly-rounded op sequence of the documented tree as
  * ONE scalar call. Exists so multi-term scorers stay inside
  * whole-stage codegen: inlining the tree through the Column DSL
  * duplicates the argument subtree ~34× per call and overflowed
  * janino on 10-term QL/BM25 aggregates (interpreted fallback). */
case class PLog(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any =
    graft.functions.PortableMath.plogDouble(v.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PortableMath.plogDouble($c)")
  override def prettyName: String = "plog"
  override protected def withNewChildInternal(c: Expression): PLog = copy(child = c)
}

/** Portable cross-engine e^x for x ≤ 0 (graft.functions.PortableMath.
  * pexpDouble) as one scalar codegen call — same janino-size rationale
  * as [[PLog]]. */
case class PExp(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any =
    graft.functions.PortableMath.pexpDouble(v.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PortableMath.pexpDouble($c)")
  override def prettyName: String = "pexp"
  override protected def withNewChildInternal(c: Expression): PExp = copy(child = c)
}

/** Column <-> Expression bridge (ExpressionUtils is private[sql]). */
object VecBridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The error ANSI-mode `/` raises on a zero divisor (DIVIDE_BY_ZERO). */
  def divideByZero(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)
}
