package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** Counts the Spark jobs a block of code starts and the shuffle bytes
  * its tasks write. */
trait JobCounting { this: SparkSpec =>

  private val Marker = "job-counting-marker"

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
  def counted(body: => Unit): (Int, Long) = {
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
}
