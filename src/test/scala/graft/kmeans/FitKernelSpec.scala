package graft.kmeans

import graft.{JobCounting, SparkSpec}
import org.apache.spark.sql.functions.col

/** The fit loop's cost shape and its input contract: one job per
  * superstep with no shuffle, and no silently skewed centroid from a
  * non-finite coordinate. */
class FitKernelSpec extends SparkSpec with JobCounting {
  import spark.implicits._

  private def points(partitions: Int) =
    spark.range(0, 4000, 1, partitions)
      .select(col("id").as("pid"), (col("id") % 97).cast("double").as("x"),
        (col("id") % 89 * 1.5).as("y"))

  private val init = Seq(Cent(0, 10.0, 10.0), Cent(1, 50.0, 60.0), Cent(2, 90.0, 120.0))
  private val fixed = KMeansConfig(k = 3, maxIter = 5, convergence = false)

  test("an n-iteration fit runs n jobs and no shuffle; traced, n + 1") {
    val width = spark.sparkContext.defaultParallelism
    Seq(true, false).foreach { exact =>
      val (jobs, shuffle) = counted(KMeansFit.fit(points(width), init, fixed, exact = exact))
      assert(jobs == fixed.maxIter && shuffle == 0L, s"exact=$exact: $jobs jobs, $shuffle B shuffled")
      val (traced, tShuffle) =
        counted(KMeansFit.fit(points(width), init, fixed, trace = true, exact = exact))
      assert(traced == fixed.maxIter + 1 && tShuffle == 0L,
        s"exact=$exact traced: $traced jobs, $tShuffle B shuffled")
    }
  }

  test("widening a narrow input shuffles once inside the first step's job") {
    val (jobs, shuffle) = counted(KMeansFit.fit(points(1), init, fixed))
    assert(jobs == fixed.maxIter && shuffle > 0L, s"$jobs jobs, $shuffle B shuffled")
  }

  test("a null, NaN or infinite coordinate is rejected, naming the column") {
    val clean = Seq[(Option[Double], Option[Double])](
      (Some(0.0), Some(0.0)), (Some(1.0), Some(0.0)),
      (Some(10.0), Some(10.0)), (Some(11.0), Some(10.0)))
    val cents = Seq(Cent(0, 0.0, 0.0), Cent(1, 10.0, 10.0))
    for {
      bad <- Seq(Some(Double.NaN), Some(Double.PositiveInfinity),
        Some(Double.NegativeInfinity), None)
      column <- Seq("x", "y")
      exact <- Seq(true, false)
    } {
      val row = if (column == "x") (bad, Some(10.0)) else (Some(10.0), bad)
      val df = (clean :+ row).zipWithIndex
        .map { case ((x, y), i) => (i.toLong, x, y) }.toDF("pid", "x", "y")
      val e = intercept[Exception](
        KMeansFit.fit(df, cents, KMeansConfig(k = 2, maxIter = 3), exact = exact))
      val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case iae: IllegalArgumentException => iae }
      assert(cause.exists(_.getMessage.contains(s"column $column")),
        s"bad=$bad column=$column exact=$exact: $e")
    }
  }
}
