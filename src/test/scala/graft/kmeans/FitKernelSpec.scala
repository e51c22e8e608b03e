package graft.kmeans

import graft.SparkSpec
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col

/** The fit loop's cost shape and its input contract: one job per
  * superstep with no shuffle, and no silently skewed centroid from a
  * non-finite coordinate. */
class FitKernelSpec extends SparkSpec {
  import spark.implicits._

  private val Marker = "fit-kernel-spec-marker"

  /** Counts jobs (but the marker's) and shuffle bytes written. */
  private class Counter extends SparkListener {
    val jobs = new AtomicInteger
    val shuffleBytes = new AtomicLong
    @volatile private var marker = -1
    @volatile var drained = false
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == Marker))
        marker = e.jobId
      else jobs.incrementAndGet()
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == marker) drained = true
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach(m => shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
  }

  /** Runs `body` and returns the jobs it started and the shuffle bytes its
    * tasks wrote. The listener bus is asynchronous but delivers events in
    * order, so once a marker job run afterwards is seen to end, every
    * event of `body` has been delivered. */
  private def counted(body: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val c = new Counter
    sc.addSparkListener(c)
    try {
      body
      sc.setJobGroup(Marker, "drain the listener bus")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!c.drained && System.nanoTime() < deadline) Thread.sleep(10)
      assert(c.drained, "listener bus did not drain")
      (c.jobs.get, c.shuffleBytes.get)
    } finally sc.removeSparkListener(c)
  }

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
