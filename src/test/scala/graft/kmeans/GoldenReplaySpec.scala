package graft.kmeans

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.Outcome

/** Golden replay (SURVEY.md §5): run our engine on the reference's own
  * script_3 fixtures (100k blob points + 8 fixed centroids) and compare
  * the objective value after N supersteps against the reference's
  * published per-iteration golden outputs
  * (script_results/script_3/results_objfun_N.csv — 5 identical
  * repetitions each, so the run is deterministic). Tolerance 1e-9
  * relative absorbs the reference's Math.pow(sqrt(d),2) ULP wrinkle
  * (KMeans.java:357,381). */
class GoldenReplaySpec extends SparkSpec {

  private val base = "/root/reference/script_results/script_3"

  private var canceled = 0

  override def withFixture(test: NoArgTest): Outcome = {
    val outcome = super.withFixture(test)
    if (outcome.isCanceled) canceled += 1
    outcome
  }

  /** One line in the test log: how many golden tests did not run, and
    * why, so a dark anchor shows beside the suite's pass count. */
  override def afterAll(): Unit = {
    val why = if (canceled == 0) "" else s": the reference goldens under $base are absent"
    println(s"GoldenReplaySpec: $canceled of ${testNames.size} golden replay tests canceled$why")
    super.afterAll()
  }

  private def golden(n: Int): Double = {
    val src = scala.io.Source.fromFile(s"$base/results_objfun_$n.csv")
    try src.getLines().drop(1).next().split(",")(1).toDouble
    finally src.close()
  }

  test("objective trace over 15 supersteps matches the reference goldens") {
    assume(new java.io.File(s"$base/input/points.csv").exists())
    val pts = Tables.pointsCsv(spark, s"$base/input/points.csv")
      .withColumn("pid", monotonically_increasing_id())
      .select("pid", "x", "y")
      .cache()
    val init = Tables.centroidsCsv(spark, s"$base/input/centroids.csv")
      .collect().map(r => Cent(r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .toSeq.sortBy(_.cid)
    try {
      // the API path: 15 forced supersteps with the objective trace on
      val res = KMeansFit.fit(pts, init,
        KMeansConfig(k = 8, maxIter = 15, convergence = false), trace = true)
      assert(res.iterations == 15)
      val objs = res.objTrace
      assert(objs.length == 15)
      // per-iteration golden match
      for (n <- Seq(1, 2, 5, 11, 15)) {
        val want = golden(n)
        val got = objs(n - 1)
        assert(math.abs(got - want) / want < 1e-9,
          s"iterations=$n: got $got, golden $want")
      }
      // Lloyd invariant: objective is non-increasing
      objs.sliding(2).foreach { case Seq(a, b) => assert(b <= a + 1e-9) }
    } finally { pts.unpersist(blocking = false) }
  }

  test("fit() with convergence reproduces the plateau objective") {
    assume(new java.io.File(s"$base/input/points.csv").exists())
    val pts = Tables.pointsCsv(spark, s"$base/input/points.csv")
      .withColumn("pid", monotonically_increasing_id())
      .select("pid", "x", "y")
    val init = Tables.centroidsCsv(spark, s"$base/input/centroids.csv")
      .collect().map(r => Cent(r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .toSeq.sortBy(_.cid)
    val res = KMeansFit.fit(pts, init, KMeansConfig(k = 8, maxIter = 30, tol = 1e-4))
    val obj = KMeansFit.sse(pts, res.centroids)
    val plateau = golden(15) // 264991.66158851766
    assert(math.abs(obj - plateau) / plateau < 1e-6,
      s"converged objective $obj vs plateau $plateau after ${res.iterations} iters")
  }
}
