package graft.kmeans

import graft.{Blobs, SparkSpec}

/** The traced fit reads each iteration's objective out of the NEXT Lloyd
  * step's aggregate (plus one final pass) instead of running a separate
  * SSE pass per superstep. Pins that this is the same number, bit for
  * bit: `objTrace(i) == KMeansFit.sse(points, centroids after i+1
  * steps)`, with the per-step centroids replayed through the public
  * `step`. */
class TraceParitySpec extends SparkSpec {
  import spark.implicits._

  private def df(pts: Seq[(Double, Double)]) =
    pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      .toDF("pid", "x", "y")

  // Blob coordinates snapped to a 2^-20 grid: every double sum of them is
  // exact, so the fast path's plain-double centroids do not depend on the
  // partition order, and the replay below follows the fit's trajectory
  // bit for bit on that path too.
  private def dyadic(pts: Seq[(Double, Double)]) = {
    def snap(v: Double) = math.rint(v * (1 << 20)) / (1 << 20)
    pts.map { case (x, y) => (snap(x), snap(y)) }
  }

  private val init8 = (0 until 8).map(i => Cent(i, -9.0 + 2.5 * i, 9.0 - 2.5 * i))

  /** Fits with the trace on and checks every entry against a replay. */
  private def assertParity(pts: Seq[(Double, Double)], init: Seq[Cent],
      cfg: KMeansConfig, exact: Boolean): FitResult = {
    val points = df(pts)
    val res = KMeansFit.fit(points, init, cfg, trace = true, exact = exact)
    assert(res.objTrace.size == res.iterations)
    val replay = Iterator.iterate(init)(KMeansFit.step(points, _, exact)._1)
      .slice(1, res.iterations + 1).toSeq
    assert(replay.last == res.centroids, "replay left the fit's trajectory")
    replay.zip(res.objTrace).zipWithIndex.foreach { case ((cents, obj), i) =>
      val expected = KMeansFit.sse(points, cents)
      assert(obj == expected, s"objTrace($i) = $obj, sse = $expected")
    }
    res
  }

  private val fixed = KMeansConfig(k = 8, maxIter = 8, convergence = false)

  test("trace equals the separate sse at every iteration on the exact path") {
    assertParity(Blobs.points(3000, seed = 5), init8, fixed, exact = true)
  }

  test("trace equals the separate sse at every iteration on the fast path") {
    assertParity(dyadic(Blobs.points(3000, seed = 6)), init8, fixed, exact = false)
  }

  test("trace parity holds on a fit that stops early on convergence") {
    val cfg = KMeansConfig(k = 8, maxIter = 50, tol = 0.0)
    Seq(true, false).foreach { exact =>
      val res = assertParity(dyadic(Blobs.points(2000, seed = 7)), init8, cfg, exact)
      assert(res.iterations < cfg.maxIter, s"exact=$exact never converged")
    }
  }

  test("trace parity holds when a cluster empties and k shrinks") {
    val init = init8 :+ Cent(8, 1e6, 1e6) // captures no point: dropped after step 1
    Seq(true, false).foreach { exact =>
      val res = assertParity(dyadic(Blobs.points(2000, seed = 8)), init, fixed, exact)
      assert(!res.centroids.exists(_.cid == 8))
      assert(res.centroids.size < init.size)
    }
  }

  test("a zero-iteration traced fit has an empty trace") {
    val res = KMeansFit.fit(df(Blobs.points(100, seed = 9)), init8,
      KMeansConfig(maxIter = 0), trace = true)
    assert(res.iterations == 0 && res.objTrace.isEmpty)
  }
}
