package graft.kmeans

import graft.SparkSpec

/** O7-O9 — count-append, keyed sum/count, mean recompute; and the
  * reference's empty-cluster-drop semantics (the reduce simply produces
  * no group — k can shrink; SURVEY.md §5). */
class RecomputeSpec extends SparkSpec {
  import spark.implicits._

  test("recompute averages per cluster") {
    val assigned = Seq(
      (1L, 0.0, 0.0, 0), (2L, 2.0, 4.0, 0),  // mean (1, 2)
      (3L, 10.0, 10.0, 1)                     // singleton
    ).toDF("pid", "x", "y", "cid")
    val m = KMeansOps.recompute(assigned).collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(m(0) == ((1.0, 2.0)))
  }

  test("centroid of a singleton cluster is the point itself") {
    val assigned = Seq((3L, 10.5, -2.25, 1)).toDF("pid", "x", "y", "cid")
    val m = KMeansOps.recompute(assigned).collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(m(1) == ((10.5, -2.25)))
  }

  test("empty cluster vanishes: k shrinks (reference drop semantics, not MLlib keep-old)") {
    // centroid 2 sits far away and captures no points
    val pts = Seq((1L, 0.0, 0.0), (2L, 1.0, 0.0)).toDF("pid", "x", "y")
    val cents = Seq(Cent(0, 0.0, 0.0), Cent(1, 1.0, 0.0), Cent(2, 1e6, 1e6))
    val next = KMeansFit.step(pts, cents)._1
    assert(next.map(_.cid).toSet == Set(0, 1))
    assert(next.size == 2)
  }

  test("decimal-routed sums are independent of partition/accumulation order") {
    // values chosen to expose double-sum order sensitivity if present
    val vals = Seq.tabulate(1000)(i => (i.toLong, 1e10 + i * 1e-6, 0.123456 * i, 0))
    val a = KMeansOps.sumCount(vals.toDF("pid", "x", "y", "cid").repartition(1))
      .collect()(0)
    val b = KMeansOps.sumCount(vals.reverse.toDF("pid", "x", "y", "cid").repartition(7))
      .collect()(0)
    assert(a.getDouble(1) == b.getDouble(1) && a.getDouble(2) == b.getDouble(2))
    assert(a.getLong(3) == 1000L && b.getLong(3) == 1000L)
  }

  test("fast double-sum recompute agrees with the decimal-exact path to 1e-12") {
    val vals = Seq.tabulate(5000)(i =>
      (i.toLong, 1e6 + math.sin(i) * 1e3, math.cos(i) * 1e4, i % 7))
      .toDF("pid", "x", "y", "cid")
    val exact = KMeansOps.recompute(vals).collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val fast = KMeansOps.recomputeFast(vals).collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(exact.keySet == fast.keySet)
    // tolerance scales with the magnitude of the summed TERMS, not the
    // mean — the y terms (±1e4) cancel to a near-zero mean, so n·eps
    // rounding shows up as ~1e-8 absolute there
    val xTol = 1e6 * 1e-10
    val yTol = 1e4 * 1e-10
    exact.foreach { case (cid, (ex, ey)) =>
      val (fx, fy) = fast(cid)
      assert(math.abs(fx - ex) <= xTol, s"cid=$cid x: $fx vs $ex")
      assert(math.abs(fy - ey) <= yTol, s"cid=$cid y: $fy vs $ey")
    }
  }

  test("countAppend seeds every row with count 1") {
    val assigned = Seq((1L, 0.0, 0.0, 0), (2L, 2.0, 4.0, 1)).toDF("pid", "x", "y", "cid")
    val got = KMeansOps.countAppend(assigned).as[(Long, Int, Long)].collect()
    assert(got.forall(_._3 == 1L) && got.length == 2)
  }
}
