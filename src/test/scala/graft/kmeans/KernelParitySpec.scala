package graft.kmeans

import graft.{Blobs, SparkSpec, Tables}
import org.apache.spark.sql.DataFrame

/** `KMeansFit.step` runs the fit's per-partition kernel, not SQL. Pins
  * its exact path, bit for bit (`==`), against the oracle-gated
  * operators it replaces: the centroids against
  * `KMeansOps.recompute(KMeansOps.assign(points, cents))` and the SSE of
  * the input centroids against `KMeansFit.sse`. */
class KernelParitySpec extends SparkSpec {
  import spark.implicits._

  private def df(pts: Seq[(Double, Double)]): DataFrame =
    pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      .toDF("pid", "x", "y")

  private def sqlStep(points: DataFrame, cents: Seq[Cent]): Seq[Cent] =
    KMeansOps.recompute(KMeansOps.assign(points, cents)).collect()
      .map(r => Cent(r.getInt(0), r.getDouble(1), r.getDouble(2))).toSeq.sortBy(_.cid)

  /** One exact kernel step checked against SQL; returns its centroids. */
  private def assertParity(points: DataFrame, cents: Seq[Cent]): Seq[Cent] = {
    val (next, sse) = KMeansFit.step(points, cents, exact = true, withSse = true)
    val expected = sqlStep(points, cents)
    assert(next == expected, s"kernel $next\nSQL    $expected")
    val expectedSse = KMeansFit.sse(points, cents)
    assert(sse.contains(expectedSse), s"kernel SSE $sse, sse $expectedSse")
    next
  }

  private val init8 = (0 until 8).map(i => Cent(i, -9.0 + 2.5 * i, 9.0 - 2.5 * i))

  test("exact kernel step equals the SQL step on blob points") {
    val points = df(Blobs.points(3000, seed = 5))
    Iterator.iterate(init8: Seq[Cent])(assertParity(points, _)).drop(4).next()
  }

  test("exact kernel equals SQL at every step of the kmeans_fit10_obj input") {
    // the sf0.001 fixture's lineitem, as committed with the benchmark
    val dir = "perfbench/fixture"
    val points = Tables.points(spark, dir)
    Iterator.iterate(Tables.initCentroids(spark, dir, 8))(assertParity(points, _))
      .drop(10).next()
  }

  test("a point equidistant from cid 0 and cid 1 goes to cid 0, in any centroid order") {
    val points = df(Seq((1.0, 0.0), (2.5, 0.0)))
    val next = assertParity(points, Seq(Cent(1, 2.0, 0.0), Cent(0, 0.0, 0.0)))
    assert(next == Seq(Cent(0, 1.0, 0.0), Cent(1, 2.5, 0.0)))
  }

  test("a single centroid takes every point") {
    val next = assertParity(df(Blobs.points(500, seed = 6)), Seq(Cent(7, 1.0, 1.0)))
    assert(next.map(_.cid) == Seq(7))
  }

  test("an emptied cluster is dropped as the SQL group is") {
    val next = assertParity(df(Blobs.points(500, seed = 7)), init8 :+ Cent(8, 1e6, 1e6))
    assert(!next.exists(_.cid == 8))
  }

  test("more partitions than points, and a widened single partition") {
    val points = df(Seq((0.0, 0.0), (1.0, 3.0), (10.0, 10.0)))
    val cents = Seq(Cent(0, 0.0, 0.0), Cent(1, 10.0, 10.0))
    assert(points.repartition(8).rdd.getNumPartitions == 8)
    assertParity(points.repartition(8), cents)
    assertParity(points.coalesce(1), cents)
  }

  test("sums stay exact past Long.MaxValue unscaled (20 points at 1e12 + i)") {
    val points = df((0 until 20).map(i => (1e12 + i, -(1e12 + 0.5 * i))))
    assertParity(points, Seq(Cent(0, 0.0, 0.0)))
  }

  test("coordinates and squared distances on 1e-6 HALF_UP ties round as the SQL casts do") {
    // each coordinate is an exact tie at the 6th decimal, and the squared
    // distances to (0, 0) of the last two points sit on ties of the
    // objective's 1e-6 grid (5e-7 and 2.5e-6)
    val points = df(Seq((1.2345675, -2.5e-6), (-1.2345675, 2.5e-6), (0.0000005, -0.0000005),
      (3.0000005, -7.9999995), (0.0005, 0.0005), (0.0015, 0.0005)))
    assertParity(points, Seq(Cent(0, 0.0, 0.0)))
    assertParity(points, Seq(Cent(0, 0.0, 0.0), Cent(1, 2.0, -5.0)))
  }

  test("a coordinate of 1e22 raises in the kernel where the SQL raises") {
    val points = df(Seq((1e22, 0.0), (0.0, 0.0)))
    val cents = Seq(Cent(0, 0.0, 0.0))
    def overflows(run: => Any): Unit = {
      val e = intercept[Exception](run)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), e)
    }
    overflows(sqlStep(points, cents))
    overflows(KMeansFit.step(points, cents))
    // the squared distance 1e44 leaves the objective's DECIMAL(38,0) grid
    overflows(KMeansFit.sse(points, cents))
    overflows(KMeansFit.step(points, cents, exact = false, withSse = true))
  }

  test("fast kernel agrees with the exact kernel to 1e-12") {
    val points = Seq.tabulate(5000)(i => (1e6 + math.sin(i) * 1e3, math.cos(i) * 1e4))
    val cents = (0 until 7).map(j => Cent(j, 1e6 - 1e3 + j * 2e3 / 6, -1e4 + j * 2e4 / 6))
    val exact = KMeansFit.step(df(points), cents)._1
    val fast = KMeansFit.step(df(points), cents, exact = false)._1
    assert(exact.map(_.cid) == fast.map(_.cid) && exact.size == cents.size)
    // tolerance scales with the magnitude of the summed TERMS, not the
    // mean — the y terms (±1e4) cancel to a near-zero mean, so n·eps
    // rounding shows up as ~1e-8 absolute there
    val xTol = 1e6 * 1e-10
    val yTol = 1e4 * 1e-10
    exact.zip(fast).foreach { case (e, f) =>
      assert(math.abs(f.x - e.x) <= xTol, s"cid=${e.cid} x: ${f.x} vs ${e.x}")
      assert(math.abs(f.y - e.y) <= yTol, s"cid=${e.cid} y: ${f.y} vs ${e.y}")
    }
  }
}
