package graft.kmeans

import java.nio.file.Files
import graft.{Blobs, JobCounting, SparkSpec}
import graft.kmeans.KMeansND.CentND
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

object KMeansNDSpec {

  /** `n` declarative Lloyd steps from `init`: the oracle surface's
    * `recompute(points, assign(points, cents))` chain, each step's
    * centroids cid-sorted. */
  def replay(points: DataFrame, init: Seq[CentND], n: Int): Seq[CentND] =
    (1 to n).foldLeft(init) { (cents, _) =>
      val centsDF = graft.Tables.centsNDDF(points.sparkSession, cents)
      KMeansND.recompute(points, KMeansND.assign(points, centsDF)).collect()
        .map(r => CentND(r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_.cid)
    }
}

class KMeansNDSpec extends SparkSpec with JobCounting {
  import spark.implicits._

  private def pts = Seq(
    (1L, Seq(0.0, 0.0, 0.0)),
    (2L, Seq(0.0, 1.0, 0.0)),
    (3L, Seq(10.0, 0.0, 0.0)),
    (4L, Seq(10.0, 1.0, 0.0))
  ).toDF("id", "vec")

  private def centsDF(c: Seq[CentND]) = graft.Tables.centsNDDF(spark, c)

  test("declarative assign and mapPartitions kernel agree exactly") {
    val cents = Seq(CentND(0, Seq(0.0, 0.5, 0.0)), CentND(1, Seq(9.0, 0.0, 0.0)))
    val a = KMeansND.assign(pts, centsDF(cents))
      .as[(Long, Int, Double)].collect().toSet
    val b = KMeansND.assignKernel(pts, cents)
      .as[(Long, Int, Double)].collect().toSet
    assert(a == b)
    assert(a.map(t => t._1 -> t._2).toMap == Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1))
  }

  test("kernel tie-break keeps the lowest cid") {
    val cents = Seq(CentND(0, Seq(0.0, 0.0, 0.0)), CentND(1, Seq(2.0, 0.0, 0.0)))
    val got = KMeansND.assignKernel(
      Seq((9L, Seq(1.0, 0.0, 0.0))).toDF("id", "vec"), cents)
      .as[(Long, Int, Double)].collect()
    assert(got(0)._2 == 0 && got(0)._3 == 1.0)
  }

  test("recompute produces element-wise means and drops empty clusters") {
    val cents = Seq(CentND(0, Seq(0.0, 0.5, 0.0)), CentND(1, Seq(9.0, 0.0, 0.0)),
      CentND(2, Seq(1e6, 1e6, 1e6)))
    val assigned = KMeansND.assignKernel(pts, cents)
    val m = KMeansND.recompute(pts, assigned).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(m.keySet == Set(0, 1))
    assert(m(0) == Seq(0.0, 0.5, 0.0))
    assert(m(1) == Seq(10.0, 0.5, 0.0))
  }

  test("fit converges to the two cluster means") {
    val (cents, iters) = KMeansND.fit(
      pts, Seq(CentND(0, Seq(-1.0, 0.0, 0.0)), CentND(1, Seq(11.0, 0.0, 0.0))),
      maxIter = 20, tol = 0.0)
    assert(iters < 20)
    assert(cents.map(_.vec) == Seq(Seq(0.0, 0.5, 0.0), Seq(10.0, 0.5, 0.0)))
  }

  /** Fixed-seed 2-D corpora on a half-unit grid, so points repeat and
    * sit halfway between centroids, and centroids repeat (the higher cid
    * of a repeated centroid empties): 1-24 points, 1-8 centroids (k > n
    * often) plus one far from every point, which empties at once. */
  private val corpus: Gen[(Seq[(Double, Double)], Seq[(Double, Double)])] = {
    val onGrid = Gen.zip(Gen.choose(-4, 4), Gen.choose(-4, 4)).map { case (x, y) => (x * 0.5, y * 0.5) }
    for {
      n <- Gen.choose(1, 24)
      pts <- Gen.listOfN(n, onGrid)
      k <- Gen.choose(1, 8)
      cs <- Gen.listOfN(k, onGrid)
    } yield (pts, cs :+ (100.0, 100.0))
  }

  test("2-D engine is the special case: ND fit matches KMeansFit on the same data") {
    val pts2 = Seq((1L, 1.0, 2.0), (2L, 3.0, 4.0), (3L, 100.0, 100.0), (4L, 102.0, 98.0))
    val nd = pts2.map { case (i, x, y) => (i, Seq(x, y)) }.toDF("id", "vec")
    val flat = pts2.toDF("pid", "x", "y")
    val init2 = Seq(Cent(0, 0.0, 0.0), Cent(1, 100.0, 100.0))
    val initN = init2.map(c => CentND(c.cid, Seq(c.x, c.y)))
    val r2 = KMeansFit.fit(flat, init2, KMeansConfig(k = 2, maxIter = 10, tol = 0.0))
    val (rn, _) = KMeansND.fit(nd, initN, maxIter = 10, tol = 0.0)
    assert(r2.centroids.map(c => Seq(c.x, c.y)) == rn.map(_.vec))

    // generated corpora with duplicates, ties, k > n and emptying
    // clusters, over 1, 3 and 7 partitions: the same centroids and
    // iterations, bit for bit
    val sc = spark.sparkContext
    for (seed <- 1 to 8; parts <- Seq(1, 3, 7)) {
      val (pts, cs) = corpus.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val rows = pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      val init = cs.zipWithIndex.map { case ((x, y), cid) => Cent(cid, x, y) }
      val want = KMeansFit.fit(sc.parallelize(rows, parts).toDF("pid", "x", "y"), init,
        KMeansConfig(k = init.size, maxIter = 6, tol = 0.0))
      val got = KMeansND.fit(sc.parallelize(rows.map { case (i, x, y) => (i, Seq(x, y)) }, parts)
        .toDF("id", "vec"), init.map(c => CentND(c.cid, Seq(c.x, c.y))), maxIter = 6, tol = 0.0)
      assert(got == ((want.centroids.map(c => CentND(c.cid, Seq(c.x, c.y))), want.iterations)),
        s"seed=$seed partitions=$parts")
    }
  }

  test("fit's one-shuffle driver-side recompute matches the declarative " +
      "recompute and still drops empty clusters (r16 internals change)") {
    val cents0 = Seq(CentND(0, Seq(0.0, 0.5, 0.0)),
      CentND(1, Seq(9.0, 0.0, 0.0)), CentND(2, Seq(1e6, 1e6, 1e6)))
    val expected = KMeansND.recompute(pts, KMeansND.assignKernel(pts, cents0))
      .collect().map(r => CentND(r.getInt(0), r.getSeq[Double](1)))
      .toSeq.sortBy(_.cid)
    for (p <- Seq(1, 8)) {
      val (got, _) = KMeansND.fit(pts.repartition(p), cents0, maxIter = 1,
        tol = 0.0, convergence = false)
      assert(got == expected, s"partitions=$p")
      assert(got.map(_.cid) == Seq(0, 1), s"empty cluster kept at p=$p")
    }
  }

  test("fit centroids are partitioning-invariant on the real 64-dim fixture " +
      "(r16 size-aware rebalance)") {
    val vecs = graft.ops.IvfIndex.vectors(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    val init = KMeansND.initFromLowestIds(vecs, 4)
    val (a, _) = KMeansND.fit(vecs.repartition(1), init, maxIter = 3,
      tol = 0.0, convergence = false)
    val (b, _) = KMeansND.fit(vecs.repartition(13), init, maxIter = 3,
      tol = 0.0, convergence = false)
    assert(a == b)
  }

  test("fit equals the assign-recompute replay on the 64-dim fixture") {
    val vecs = graft.ops.IvfIndex.vectors(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    val init = KMeansND.initFromLowestIds(vecs, 4)
    val want = KMeansNDSpec.replay(vecs, init, 3)
    for (p <- Seq(1, 13))
      assert(KMeansND.fit(vecs.repartition(p), init, maxIter = 3,
        convergence = false) == ((want, 3)), s"partitions=$p")
    // an empty init at maxIter 0 returns as it is, with no job
    var empty: (Seq[CentND], Int) = null
    val (jobs, _) = counted { empty = KMeansND.fit(vecs, Seq.empty, maxIter = 0) }
    assert(empty == ((Seq.empty, 0)) && jobs == 0)
  }

  test("fit on the real 64-dim embeddings reduces the objective") {
    val vecs = graft.ops.IvfIndex.vectors(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    val init = KMeansND.initFromLowestIds(vecs, 4)
    val before = KMeansND.sse(vecs, init)
    val (cents, _) = KMeansND.fit(vecs, init, maxIter = 5, tol = 1e-9)
    val after = KMeansND.sse(vecs, cents)
    assert(after < before)
    assert(cents.nonEmpty && cents.head.vec.length == 64)
  }

  test("non-finite or misshapen initial centroids raise by cid before any job") {
    def raisesFor(cid: Int)(fit: => Any): Unit = {
      var e: IllegalArgumentException = null
      val (jobs, _) = counted { e = intercept[IllegalArgumentException](fit) }
      assert(jobs == 0 && e.getMessage.contains(s"cid $cid"), s"$jobs jobs: ${e.getMessage}")
    }
    // the CLI: maxc − minc overflows, so the random init draws ±Inf/NaN
    val csv = Files.createTempFile("kmeans-nonfinite", ".csv")
    Files.writeString(csv, Blobs.points(100, seed = 5)
      .map { case (x, y) => s"$x,$y" }.mkString("X,Y\n", "\n", "\n"))
    raisesFor(0)(graft.KMeansMain.run(spark, Map("points" -> csv.toString,
      "numcentroids" -> "3", "minc" -> "-1e308", "maxc" -> "1e308", "iterations" -> "2")))
    raisesFor(1)(KMeansFit.fit(Seq((1L, 0.0, 0.0), (2L, 1.0, 1.0)).toDF("pid", "x", "y"),
      Seq(Cent(0, 0.0, 0.0), Cent(1, Double.NaN, 0.0)), KMeansConfig(k = 2, maxIter = 2)))
    raisesFor(7)(KMeansND.fit(pts,
      Seq(CentND(0, Seq(0.0, 0.0, 0.0)), CentND(7, Seq(0.0, Double.NaN, 0.0))), maxIter = 2))
    raisesFor(3)(KMeansND.fit(pts,
      Seq(CentND(0, Seq(0.0, 0.0, 0.0)), CentND(3, Seq(1.0, 2.0))), maxIter = 2))
  }

  test("a null vector, a null, NaN or infinite element, or another length raises, naming the column") {
    val schema = StructType.fromDDL("id BIGINT, vec ARRAY<DOUBLE>")
    val clean = Seq(Row(1L, Seq(0.0, 0.0)), Row(2L, Seq(1.0, 1.0)))
    val init = Seq(CentND(0, Seq(0.0, 0.0)), CentND(1, Seq(1.0, 1.0)))
    val vecMsg = "column vec holds a null, NaN or infinite value"
    for ((bad, msg) <- Seq[(Seq[Any], String)]((null, vecMsg), Seq(1.0, null) -> vecMsg,
        Seq(Double.NaN, 0.0) -> vecMsg, Seq(0.0, Double.NegativeInfinity) -> vecMsg,
        Seq(0.0, 1.0, 2.0) -> "column vec holds a vector of length 3, not the centroids' 2")) {
      val df = spark.createDataFrame(java.util.Arrays.asList(clean :+ Row(3L, bad): _*), schema)
      val e = intercept[Exception](KMeansND.fit(df, init, maxIter = 2))
      val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case iae: IllegalArgumentException => iae }
      assert(cause.exists(_.getMessage.contains(msg)), s"bad=$bad: $e")
    }
  }

  test("fit runs maxIter jobs and no shuffle, widens a narrow input once, and leaks no cache") {
    val sc = spark.sparkContext
    val rnd = new scala.util.Random(9)
    val rows = Seq.tabulate(400)(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian())))
    val init = rows.take(4).zipWithIndex.map { case ((_, v), cid) => CentND(cid, v) }
    def fit(rows: Seq[(Long, Seq[Double])], parts: Int, n: Int) =
      tally(KMeansND.fit(sc.parallelize(rows, parts).toDF("id", "vec"), init, n, convergence = false))
    val before = sc.getPersistentRDDs.keySet
    val wide = fit(rows, sc.defaultParallelism, 5)
    assert(wide.jobs == 5 && wide.shuffleBytes == 0L, wide)
    val narrow = fit(rows, 1, 5)
    val once = fit(rows, 1, 1)
    assert(narrow.jobs == 5 && narrow.shuffleBytes > 0L && narrow.shuffleBytes == once.shuffleBytes,
      s"$narrow vs $once")
    assert(sc.getPersistentRDDs.keySet == before)
    intercept[Exception](fit(rows :+ ((400L, Seq.fill(8)(Double.NaN))), sc.defaultParallelism, 3))
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("fit on an empty input raises and leaks no cache") {
    val sc = spark.sparkContext
    val init = Seq(CentND(0, Seq(0.0, 0.0)), CentND(1, Seq(1.0, 1.0)))
    // a 0-partition relation, and a multi-partition one filtered to empty
    val noParts = Seq.empty[(Long, Seq[Double])].toDF("id", "vec")
    val filtered = sc.parallelize(Seq.tabulate(20)(i => (i.toLong, Seq(i.toDouble, 0.0))), 3)
      .toDF("id", "vec").filter($"id" < 0L)
    assert(noParts.rdd.getNumPartitions == 0 && filtered.rdd.getNumPartitions == 3)
    val before = sc.getPersistentRDDs.keySet
    for (empty <- Seq(noParts, filtered)) {
      val e = intercept[IllegalArgumentException](KMeansND.fit(empty, init, maxIter = 3))
      assert(e.getMessage.endsWith("fit: the k-means input holds no points"), e.getMessage)
      assert(sc.getPersistentRDDs.keySet == before)
    }
  }
}
