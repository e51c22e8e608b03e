package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.concurrent.TrieMap

/** What a block of code's jobs did: jobs started, shuffle bytes written,
  * input bytes read (Σ task `inputMetrics.bytesRead`: file scans, and
  * each read of a cached RDD block at the block's size) and the bytes of
  * the RDD blocks it cached. */
final case class Tally(jobs: Int, shuffleBytes: Long, bytesRead: Long, cachedBytes: Long)

/** Counts the Spark jobs a block of code starts, the shuffle bytes its
  * tasks write, the input bytes they read and the RDD blocks they cache. */
trait JobCounting { this: SparkSpec =>

  private val Marker = "job-counting-marker"

  /** Counts jobs (but the marker's), shuffle bytes written, input bytes
    * read and cached RDD blocks. */
  private class Counter extends SparkListener {
    val jobs = new AtomicInteger
    val shuffleBytes, bytesRead = new AtomicLong
    val cached = TrieMap.empty[String, Long]
    @volatile private var marker = -1
    @volatile var drained = false
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == Marker))
        marker = e.jobId
      else jobs.incrementAndGet()
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == marker) drained = true
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        bytesRead.addAndGet(m.inputMetrics.bytesRead)
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        cached(b.blockId.name) = b.memSize + b.diskSize
    }
  }

  /** Runs `body` and returns the jobs it started and the shuffle bytes its
    * tasks wrote. */
  def counted(body: => Unit): (Int, Long) = {
    val t = tally(body)
    (t.jobs, t.shuffleBytes)
  }

  /** Runs `body` and returns its [[Tally]]. The listener bus is
    * asynchronous but delivers events in order, so once a marker job run
    * afterwards is seen to end, every event of `body` has been delivered. */
  def tally(body: => Unit): Tally = {
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
      Tally(c.jobs.get, c.shuffleBytes.get, c.bytesRead.get, c.cached.values.sum)
    } finally sc.removeSparkListener(c)
  }
}
