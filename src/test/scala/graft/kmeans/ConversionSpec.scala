package graft.kmeans

import graft.SparkSpec
import java.math.{BigInteger, RoundingMode}
import org.apache.spark.sql.functions.{col, round}
import org.apache.spark.sql.types.{Decimal, DecimalType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The exact kernel's primitive conversions against the `Decimal` casts
  * they stand in for: a coordinate's unscaled DECIMAL(28,6) value
  * ([[KMeansFit.micros]]), a squared distance's objective grid value
  * ([[KMeansFit.gridValue]]), and the `Long` sums that spill into
  * `BigInteger`s. Samples are drawn with fixed seeds, so runs are
  * reproducible. */
class ConversionSpec extends SparkSpec {
  import spark.implicits._

  /** `Decimal(v).changePrecision(28, 6)`'s unscaled value; None where
    * the cast overflows. */
  private def refMicros(v: Double): Option[BigInteger] = {
    val d = Decimal(v)
    Option.when(d.changePrecision(28, 6))(d.toJavaBigDecimal.unscaledValue)
  }

  /** round(sq·1e6) by `BigDecimal.valueOf` + HALF_UP, as DECIMAL(38,0). */
  private def refGrid(sq: Double): Option[BigInteger] = {
    val d = Decimal(java.math.BigDecimal.valueOf(sq * 1e6)
      .setScale(0, RoundingMode.HALF_UP).doubleValue)
    Option.when(d.changePrecision(38, 0))(d.toJavaBigDecimal.unscaledValue)
  }

  private def attempt(f: => BigInteger): Option[BigInteger] =
    try Some(f) catch { case _: ArithmeticException => None }

  private def ulps(v: Double, n: Int): Seq[Double] =
    Seq(v) ++ Iterator.iterate(v)(math.nextUp).slice(1, n + 1) ++
      Iterator.iterate(v)(math.nextDown).slice(1, n + 1)

  private def draw[T](gen: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val anyFinite: Gen[Double] = Gen.long
    .map(java.lang.Double.longBitsToDouble).filter(d => !d.isNaN && !d.isInfinite)

  private val random: Seq[Double] =
    draw(Gen.choose(-1e9, 1e9), 3000) ++ draw(Gen.choose(-100.0, 100.0), 3000) ++
      draw(anyFinite, 3000) ++ draw(Gen.choose(-1e-5, 1e-5), 1000)

  /** Exact 1e-6 HALF_UP ties `(k + 0.5)·1e-6`, and 1-3 ulps around them. */
  private val ties: Seq[Double] =
    (draw(Gen.choose(-10000000L, 10000000L), 300).map(k => (k + 0.5) * 1e-6) ++
      Seq(1.2345675, -1.2345675, 2.5e-6, -2.5e-6, 5e-7, -5e-7, 1.0000005, 123456.0000005))
      .flatMap(ulps(_, 3))

  /** |v·1e6| at and just past the fast path's 2^50 bound. */
  private val bound = math.scalb(1.0, 50)
  private val atBound: Seq[Double] =
    Seq(bound / 1e6, -bound / 1e6, (bound + 0.5) / 1e6, (bound - 0.5) / 1e6).flatMap(ulps(_, 3))

  private val special: Seq[Double] = Seq(0.0, -0.0, Double.MinPositiveValue,
    -Double.MinPositiveValue, java.lang.Double.MIN_NORMAL, -java.lang.Double.MIN_NORMAL,
    math.nextDown(java.lang.Double.MIN_NORMAL), 1e-300, -1e-300, 1e22, -1e22, Double.MaxValue)

  private val all = random ++ ties ++ atBound ++ special

  test("a coordinate's unscaled value equals Decimal(v).changePrecision(28, 6)'s") {
    all.foreach { v =>
      assert(attempt(KMeansFit.micros(v)) == refMicros(v), s"v=$v")
      val u = KMeansFit.halfUp(v * 1e6)
      if (u != KMeansFit.Undecided) assert(refMicros(v).contains(BigInteger.valueOf(u)), s"fast v=$v")
    }
    // the fast path decides typical coordinates and leaves the ties alone
    val typical = draw(Gen.choose(-100.0, 100.0), 3000)
    assert(typical.count(v => KMeansFit.halfUp(v * 1e6) == KMeansFit.Undecided) < 3)
    Seq(1.2345675, -2.5e-6, 5e-7).foreach(v =>
      assert(KMeansFit.halfUp(v * 1e6) == KMeansFit.Undecided, s"tie v=$v"))
    Seq(bound / 1e6, -bound / 1e6, Double.MaxValue).foreach(v =>
      assert(KMeansFit.halfUp(v * 1e6) == KMeansFit.Undecided, s"past the bound v=$v"))
  }

  test("a squared distance's grid value equals the BigDecimal HALF_UP route to DECIMAL(38,0)") {
    val sqs = (all.map(math.abs) ++ draw(Gen.choose(0.0, 1e12), 3000))
      .filterNot(sq => (sq * 1e6).isInfinite)
    sqs.foreach { sq =>
      assert(attempt(KMeansFit.gridValue(sq)) == refGrid(sq), s"sq=$sq")
      val u = KMeansFit.halfUp(sq * 1e6)
      if (u != KMeansFit.Undecided) assert(refGrid(sq).contains(BigInteger.valueOf(u)), s"fast sq=$sq")
    }
  }

  test("both conversions equal Spark SQL's casts") {
    val vs = (random.filter(math.abs(_) < 1e15) ++ ties ++ atBound ++ special.filter(math.abs(_) < 1e15))
      .toDF("v")
    val rows = vs.select(col("v"), col("v").cast(DecimalType(28, 6)),
      round(col("v") * col("v") * 1e6).cast(DecimalType(38, 0))).collect()
    rows.foreach { r =>
      val v = r.getDouble(0)
      assert(KMeansFit.micros(v) == r.getDecimal(1).unscaledValue, s"v=$v")
      assert(KMeansFit.gridValue(v * v) == r.getDecimal(2).toBigIntegerExact, s"sq of v=$v")
    }
  }

  test("Long sums spill into the BigInteger at the Long.MaxValue boundary") {
    val longs = Array(Long.MaxValue - 1)
    val bigs = Array(BigInteger.ZERO)
    def total = bigs(0).add(BigInteger.valueOf(longs(0)))
    KMeansFit.addSpilling(longs, bigs, 0, 1L)
    assert(longs(0) == Long.MaxValue && bigs(0) == BigInteger.ZERO)
    KMeansFit.addSpilling(longs, bigs, 0, 1L)
    assert(bigs(0) == BigInteger.valueOf(Long.MaxValue) && longs(0) == 1L)
    assert(total == BigInteger.valueOf(Long.MaxValue).add(BigInteger.ONE))
    // and back down past Long.MinValue
    longs(0) = Long.MinValue + 1; bigs(0) = BigInteger.ZERO
    KMeansFit.addSpilling(longs, bigs, 0, -1L)
    assert(longs(0) == Long.MinValue && bigs(0) == BigInteger.ZERO)
    KMeansFit.addSpilling(longs, bigs, 0, -1L)
    assert(total == BigInteger.valueOf(Long.MinValue).subtract(BigInteger.ONE))
    // any sequence of large terms sums exactly
    val terms = draw(Gen.choose(-(1L << 50), 1L << 50), 20000) ++ Seq.fill(5000)(Long.MaxValue / 3)
    longs(0) = 0L; bigs(0) = BigInteger.ZERO
    terms.foreach(KMeansFit.addSpilling(longs, bigs, 0, _))
    assert(total == terms.map(BigInteger.valueOf).foldLeft(BigInteger.ZERO)(_ add _))
  }
}
