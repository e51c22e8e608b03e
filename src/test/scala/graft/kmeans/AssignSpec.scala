package graft.kmeans

import graft.SparkSpec

/** O6 — nearest-centroid assignment semantics, both variants.
  * Reference tie-break: strictly-less keeps the FIRST (lowest-id)
  * centroid (KMeans.java:281). */
class AssignSpec extends SparkSpec {
  import spark.implicits._

  private val cents = Seq(Cent(0, 0.0, 0.0), Cent(1, 2.0, 0.0), Cent(2, 4.0, 0.0))

  private def pts = Seq(
    (1L, 1.0, 0.0),   // exactly equidistant to cid 0 and 1 → first wins → 0
    (2L, 1.9, 0.0),   // nearest cid 1
    (3L, 100.0, 5.0), // nearest cid 2
    (4L, -7.0, 0.0)   // nearest cid 0
  ).toDF("pid", "x", "y")

  test("assign picks the nearest centroid") {
    val got = KMeansOps.assign(pts, cents)
      .select("pid", "cid").as[(Long, Int)].collect().toMap
    assert(got(2L) == 1 && got(3L) == 2 && got(4L) == 0)
  }

  test("assign breaks exact-distance ties toward the lowest cid (first-wins)") {
    val got = KMeansOps.assign(pts, cents)
      .select("pid", "cid").as[(Long, Int)].collect().toMap
    assert(got(1L) == 0)
  }

  test("assignJoin agrees with assign on every row") {
    val a = KMeansOps.assign(pts, cents)
      .select("pid", "cid", "sqdist").as[(Long, Int, Double)].collect().toSet
    val b = KMeansOps.assignJoin(pts, graft.Tables.centroidsDF(spark, cents))
      .select("pid", "cid", "sqdist").as[(Long, Int, Double)].collect().toSet
    assert(a == b)
  }

  test("assignJoin's packed argmin hash-aggregates (no SortAggregate regression)") {
    // min(struct(...)) buffers a struct — not UnsafeRow-mutable — which
    // silently planned TWO SortAggregates with full sorts of the
    // k-times-exploded relation (4x slower at sf0.1). The packed
    // DECIMAL(38,0) argmin must keep the plan on HashAggregate; this
    // assert is the regression guard for that round-6 fix.
    val plan = KMeansOps.assignJoin(pts, graft.Tables.centroidsDF(spark, cents))
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), s"no HashAggregate in:\n$plan")
    assert(!plan.contains("SortAggregate"), s"SortAggregate crept back in:\n$plan")
    val nd = graft.kmeans.KMeansND.assign(
      Seq((1L, Seq(0.0, 1.0)), (2L, Seq(2.0, 2.0))).toDF("id", "vec"),
      Seq((0, Seq(0.0, 0.0)), (1, Seq(2.0, 2.0))).toDF("cid", "cvec"))
      .queryExecution.executedPlan.toString
    assert(nd.contains("HashAggregate") && !nd.contains("SortAggregate"),
      s"ND packed argmin lost hash aggregation:\n$nd")
  }

  test("assign carries the chosen centroid coordinates and squared distance") {
    val r = KMeansOps.assign(pts, cents).filter("pid = 2").collect()(0)
    assert(r.getAs[Double]("cx") == 2.0 && r.getAs[Double]("cy") == 0.0)
    val expected = (1.9 - 2.0) * (1.9 - 2.0)
    assert(r.getAs[Double]("sqdist") == expected)
  }

  test("single-centroid degenerate case assigns everything to it") {
    val got = KMeansOps.assign(pts, Seq(Cent(7, 1.0, 1.0)))
      .select("cid").as[Int].collect().toSet
    assert(got == Set(7))
  }
}
