package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Portable deterministic elementary math — cross-engine bit-reproducible
  * `ln` for score formulas that must hash-match an external oracle.
  *
  * IEEE 754 requires `+ - * /` and `sqrt` to be correctly rounded, so a
  * fixed expression tree over them yields identical bits on every
  * compliant engine. libm transcendentals carry no such guarantee:
  * Spark's `log()` is `java.lang.StrictMath.log` (fdlibm) while DuckDB
  * calls the platform libm — they were measured to disagree by 1 ulp
  * on 844 of 11 100 inputs across the BM25/tf-idf idf domain. Any
  * raw-`ln` ranking score would therefore fail a hash-exact
  * cross-engine compare on ~8% of distinct df values. The functions
  * below close that gap: `PORTABLE_MATH_PARITY.json` (written by
  * `graft.tools.PortableMathDump` + `tools/portable_math_parity.py`)
  * records 0 bit mismatches between the JVM and DuckDB over their
  * domain.
  *
  * `plog(x)`, for x ≥ 1, uses only correctly-rounded ops:
  *
  *   y = x^(1/64)  — six chained `sqrt`s (range reduction)
  *   t = (y-1)/(y+1),  u = t·t
  *   ln(y) = 2·atanh(t) ≈ 2·t·(1 + u/3 + u²/5 + … + u⁸/17)  (Horner)
  *   plog(x) = 128·(t·horner(u))
  *
  * For x ≤ 1e12, y ≤ 1.55 and t ≤ 0.216, so the truncated series term
  * u⁹/19 < 5e-14; accuracy vs true ln: relative error ≲ 1e-12 away
  * from 1, absolute error < 5e-14 as x → 1 (where ln → 0 and relative
  * error is unboundedly amplified by the ~1e-14-scale sqrt/multiply
  * rounding floor); asserted against `StrictMath.log` in
  * PortableMathSpec. The Spark `Column` tree and
  * the DuckDB SQL string are generated from the same coefficient list
  * with the same association order, so both engines evaluate the
  * identical arithmetic DAG — equal inputs produce equal bits.
  *
  * Cost: 6 sqrt + ~20 mul/add per value — trivially codegen'd; callers
  * apply it to aggregated relations (one row per distinct df), never
  * per raw token.
  */
object PortableMath {

  /** Odd-reciprocal atanh coefficients 1, 1/3, …, 1/17 as exact JVM
    * doubles; the SQL side re-emits these bits via shortest-round-trip
    * decimal strings. */
  private val coeffs: Seq[Double] = (0 to 8).map(k => 1.0 / (2 * k + 1))

  /** Shortest decimal string that round-trips to the same double —
    * DuckDB's literal parser is round-to-nearest, so the parsed value
    * is bit-identical to the JVM constant. */
  private def dlit(d: Double): String = {
    val s = java.lang.Double.toString(d)
    // DuckDB reads 1.0E-4 fine, but keep plain form stable
    s
  }

  /** Portable ln over a double column; domain x ≥ 1 (callers feed idf
    * ratios ≥ 1). NaN/negative inputs are the caller's bug.
    *
    * Implemented as the single scalar [[plogDouble]] behind a custom
    * codegen expression, NOT as an inline Column tree: the Column DSL
    * duplicates shared subterms structurally (y appears twice in t,
    * t twice in u, u eight times in the Horner chain → ~34 copies of
    * the argument subtree per call), which blew multi-term scorers
    * (QL/BM25 over 10 probe terms ⇒ ~14k-line generated methods) past
    * janino's compiler and forced interpreted fallback. The scalar
    * call evaluates the IDENTICAL correctly-rounded op sequence —
    * same bits — in constant-size generated code
    * ([[graft.functions.PortableMathSpec]] pins tree ≡ scalar). */
  def plog(x: Column): Column =
    org.apache.spark.sql.graft.VecBridge.column(
      org.apache.spark.sql.graft.PLog(
        org.apache.spark.sql.graft.VecBridge.expression(x)))

  /** The Column-tree form of the same arithmetic — kept for the
    * bit-equivalence pin in PortableMathSpec. */
  private[graft] def plogColumnTree(x: Column): Column = {
    val y = sqrt(sqrt(sqrt(sqrt(sqrt(sqrt(x))))))
    val t = (y - lit(1.0)) / (y + lit(1.0))
    val u = t * t
    // Horner, innermost-first: h = c8; h = c_k + u*h
    val h = coeffs.reverse.tail.foldLeft(lit(coeffs.last): Column)(
      (acc, c) => lit(c) + u * acc)
    lit(128.0) * (t * h)
  }

  /** Scalar twin of the tree: six correctly-rounded sqrts, the atanh
    * transform, and the same innermost-first Horner over the same
    * constants in the same association order. Java double semantics
    * forbid FMA contraction, so JIT cannot perturb the bits. */
  def plogDouble(x: Double): Double = {
    val y = Math.sqrt(Math.sqrt(Math.sqrt(Math.sqrt(Math.sqrt(Math.sqrt(x))))))
    val t = (y - 1.0) / (y + 1.0)
    val u = t * t
    var h = coeffs.last
    var k = coeffs.length - 2
    while (k >= 0) { h = coeffs(k) + u * h; k -= 1 }
    128.0 * (t * h)
  }

  /** DuckDB twin of [[plog]] — the same tree, same association order,
    * same double constants. `expr` must be a DOUBLE-typed SQL expression
    * (the caller casts); it is referenced multiple times, so pass a
    * column reference, not an expensive subexpression. */
  def plogSql(expr: String): String = {
    val y = s"SQRT(SQRT(SQRT(SQRT(SQRT(SQRT($expr))))))"
    // bind y and t once via a nested sub-select? plogSql is used inside
    // scalar projections — duplicate the tree textually instead: DuckDB
    // CSE handles the repetition, and bit-equality only needs identical
    // structure per occurrence.
    val t = s"(($y) - 1.0) / (($y) + 1.0)"
    val u = s"(($t) * ($t))"
    val h = coeffs.reverse.tail.foldLeft(dlit(coeffs.last))(
      (acc, c) => s"(${dlit(c)} + $u * ($acc))")
    s"(128.0 * (($t) * ($h)))"
  }

  // -------------------------------------------------------------------
  // Portable e^x on the NONPOSITIVE half-line — the `exp` sibling of
  // plog, giving cross-engine-exact sigmoid and softplus (so logistic
  // probabilities, calibration metrics, softmax-style mixing all sit
  // under the hash gate). Domain x ∈ [-700, 0]; positive arguments are
  // the caller's bug (stable sigmoid/softplus only ever feed -|m|).
  //
  //   k = floor(x/ln2 + 0.5)            (FLOOR is exact, k ≤ 0)
  //   r = (x - k·LN2_HI) - k·LN2_LO     (Cody–Waite: k·LN2_HI exact —
  //                                      LN2_HI carries 32 zero low
  //                                      bits and |k| < 2^11)
  //   e^r = Σ_{n≤14} r^n/n!             (Horner; |r| ≤ 0.3466 so the
  //                                      omitted term < 1e-19 rel.)
  //   e^x = e^r · 2^k                   (bit-decomposed multiplications
  //                                      by exact 2^-2^j constants,
  //                                      ascending j — each step is an
  //                                      exact scale, no rounding)
  //
  // Only correctly-rounded + - * / , FLOOR, and integer bit tests are
  // used, in the same association order in the JVM scalar and the SQL
  // twin — identical bits on both engines. Accuracy vs StrictMath.exp
  // pinned in PortableMathSpec.
  // -------------------------------------------------------------------
  private val InvLn2 = 1.4426950408889634
  /** fdlibm split of ln 2: HI has 32 trailing zero bits. */
  private val Ln2Hi = 6.93147180369123816490e-01
  private val Ln2Lo = 1.90821492927058770002e-10
  /** 1/n! for n = 0..14. */
  private val expCoeffs: Seq[Double] = {
    var f = 1.0
    (0 to 14).map { n => if (n > 0) f *= n; 1.0 / f }
  }
  /** 2^-(2^j) for j = 0..10 — every constant exactly representable
    * (j = 10 is the subnormal 2^-1024, still exact). */
  private val negPow2: Array[Double] =
    (0 to 10).map(j => math.pow(2.0, -(1 << j))).toArray

  /** E-notation double literal: DuckDB types a bare 17-digit decimal
    * literal as DECIMAL(38,17) and its DOUBLE conversion double-rounds
    * (one ulp off the JVM parse — measured); an exponent suffix makes
    * the literal DOUBLE at parse time, bit-identical to the JVM
    * constant. (plog's 16-digit coefficients predate this helper and
    * are exact either way — left untouched to keep oracle SQL stable.) */
  def dlitE(d: Double): String = {
    val s = java.lang.Double.toString(d)
    if (s.contains("E") || s.contains("e")) s else s + "e0"
  }

  /** Portable e^x over a double column, domain x ≤ 0 — a single scalar
    * codegen expression (same janino-size rationale as [[plog]]). */
  def pexp(x: Column): Column =
    org.apache.spark.sql.graft.VecBridge.column(
      org.apache.spark.sql.graft.PExp(
        org.apache.spark.sql.graft.VecBridge.expression(x)))

  /** Scalar: the exact op sequence documented above. */
  def pexpDouble(x: Double): Double = {
    val kd = Math.floor(x * InvLn2 + 0.5)
    val r = (x - kd * Ln2Hi) - kd * Ln2Lo
    var h = expCoeffs.last
    var i = expCoeffs.length - 2
    while (i >= 0) { h = expCoeffs(i) + r * h; i -= 1 }
    var v = h
    val kb = (-kd).toLong
    var j = 0
    while (j <= 10) {
      if (((kb >> j) & 1L) == 1L) v = v * negPow2(j)
      j += 1
    }
    v
  }

  /** DuckDB twin of [[pexp]] — same tree, same constants, same order.
    * `expr` is referenced many times; pass a column reference. */
  def pexpSql(expr: String): String = {
    val k = s"FLOOR(($expr) * ${dlitE(InvLn2)} + 0.5)"
    val r = s"((($expr) - ($k) * ${dlitE(Ln2Hi)}) - ($k) * ${dlitE(Ln2Lo)})"
    val h = expCoeffs.reverse.tail.foldLeft(dlitE(expCoeffs.last))(
      (acc, c) => s"(${dlitE(c)} + ($r) * ($acc))")
    val kb = s"CAST(0.0 - ($k) AS BIGINT)"
    (0 to 10).foldLeft(s"($h)") { (v, j) =>
      s"(($v) * (CASE WHEN ((($kb) >> $j) & 1) = 1 THEN ${dlitE(negPow2(j))} ELSE 1.0 END))"
    }
  }

  /** Numerically stable portable sigmoid 1/(1+e^-m): both branches
    * feed pexp a nonpositive argument. Identical branch + tree in SQL. */
  def psigmoid(m: Column): Column = {
    val en = pexp(lit(0.0) - abs(m))
    when(m >= 0.0, lit(1.0) / (lit(1.0) + en))
      .otherwise(en / (lit(1.0) + en))
  }

  def psigmoidSql(expr: String): String = {
    val en = pexpSql(s"0.0 - ABS($expr)")
    s"""(CASE WHEN ($expr) >= 0.0 THEN 1.0 / (1.0 + ($en))
       | ELSE ($en) / (1.0 + ($en)) END)""".stripMargin
  }

  /** Portable softplus ln(1+e^z) = max(z,0) + ln(1+e^-|z|): the plog
    * argument stays in [1,2] (high-accuracy core), no clamping needed
    * for log-loss even at extreme margins. NO psoftplusSql exists on
    * purpose: plogSql references its argument ~34×, so inlining the
    * pexp expansion there would emit ~100 KB of SQL — twins must alias
    * `1.0 + pexpSql(...)` as a named column first and call
    * `plogSql("that_col")` (see TextOps.nbEceSql). */
  def psoftplus(z: Column): Column =
    greatest(z, lit(0.0)) + plog(lit(1.0) + pexp(lit(0.0) - abs(z)))
}
