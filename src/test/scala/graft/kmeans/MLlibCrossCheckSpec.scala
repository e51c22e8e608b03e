package graft.kmeans

import graft.{Blobs, GoldenCount, SparkSpec, Tables}
import org.apache.spark.mllib.clustering.{KMeans => MLKMeans, KMeansModel}
import org.apache.spark.mllib.linalg.Vectors
import org.apache.spark.sql.functions._

/** Cross-engine oracle (SURVEY.md §7 step 4): run the SAME fixed-init
  * Lloyd fit through Spark MLlib's own RDD KMeans and through this
  * engine, on the reference's script_3 fixtures, and require the final
  * objectives to agree. Two independently-written implementations of the
  * same algorithm agreeing on 100k real points is strong evidence
  * neither has a silent arithmetic/semantics bug. The reference fixtures
  * are not always mounted, so the same check also runs on the in-repo
  * blob points of KMeansMainSpec's paper anchor. */
class MLlibCrossCheckSpec extends SparkSpec with GoldenCount {

  private val base = "/root/reference/script_results/script_3"

  test("our fit and MLlib KMeans agree on the objective for a fixed init") {
    assumeGolden(base)
    val iters = 10
    val pts = Tables.pointsCsv(spark, s"$base/input/points.csv")
      .withColumn("pid", monotonically_increasing_id())
      .select("pid", "x", "y")
      .cache()
    val init = Tables.centroidsCsv(spark, s"$base/input/centroids.csv")
      .collect().map(r => Cent(r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .toSeq.sortBy(_.cid)
    try {
      // ours
      val res = KMeansFit.fit(pts, init,
        KMeansConfig(k = init.size, maxIter = iters, convergence = false))
      val ours = KMeansFit.sse(pts, res.centroids)

      // MLlib, same init, same iteration count, no early exit
      val rdd = pts.select("x", "y").rdd
        .map(r => Vectors.dense(r.getDouble(0), r.getDouble(1)))
        .cache()
      val model = new MLKMeans()
        .setK(init.size)
        .setMaxIterations(iters)
        .setEpsilon(0.0)
        .setInitialModel(new KMeansModel(init.map(c => Vectors.dense(c.x, c.y)).toArray))
        .run(rdd)
      val theirs = model.computeCost(rdd)
      rdd.unpersist(blocking = false)

      assert(math.abs(ours - theirs) / theirs < 1e-6,
        s"engines disagree: ours=$ours mllib=$theirs")
      // and both sit at the known golden plateau region
      assert(math.abs(ours - 264991.66158851766) / 264991.66 < 1e-3)
    } finally { pts.unpersist(blocking = false) }
  }

  test("our fit and MLlib KMeans agree on the in-repo blob points for a fixed init") {
    // the paper anchor's points (KMeansMainSpec); init = the first k
    // points, so every cluster starts non-empty
    val k = 8; val iters = 10
    val blobs = Blobs.points(4000, seed = 21)
    val init = blobs.take(k).zipWithIndex.map { case ((x, y), i) => Cent(i, x, y) }
    val s = spark
    import s.implicits._
    val pts = blobs.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      .toDF("pid", "x", "y").cache()
    try {
      val res = KMeansFit.fit(pts, init,
        KMeansConfig(k = k, maxIter = iters, convergence = false))
      // MLlib keeps an emptied cluster's old centre where this engine
      // drops the cluster; the comparison below needs all k
      assert(res.centroids.map(_.cid) == (0 until k))
      val ours = KMeansFit.sse(pts, res.centroids)

      val rdd = pts.select("x", "y").rdd
        .map(r => Vectors.dense(r.getDouble(0), r.getDouble(1)))
        .cache()
      val model = new MLKMeans()
        .setK(k)
        .setMaxIterations(iters)
        .setEpsilon(0.0)
        .setInitialModel(new KMeansModel(init.map(c => Vectors.dense(c.x, c.y)).toArray))
        .run(rdd)
      val theirs = model.computeCost(rdd)
      rdd.unpersist(blocking = false)

      def close(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
      assert(close(ours, theirs), s"engines disagree: ours=$ours mllib=$theirs")
      res.centroids.zip(model.clusterCenters).foreach { case (c, m) =>
        assert(close(c.x, m(0)) && close(c.y, m(1)), s"centroid $c vs mllib $m")
      }
    } finally { pts.unpersist(blocking = false) }
  }
}
