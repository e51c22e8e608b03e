package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.storage.RDDBlockId
import scala.collection.concurrent.TrieMap

/** What a block of code's jobs did: jobs started, shuffle bytes written,
  * input bytes read (Σ task `inputMetrics.bytesRead`: file scans, and
  * each read of a cached RDD block at the block's size), the bytes of
  * the RDD blocks it cached, input records read (Σ task
  * `inputMetrics.recordsRead`: a text scan's lines, and one per element
  * of each cached block read), how many RDD blocks it cached and of
  * which RDDs, and the RDD each job's result stage runs on, in job
  * order. */
final case class Tally(jobs: Int, shuffleBytes: Long, bytesRead: Long, cachedBytes: Long,
    recordsRead: Long, cachedBlocks: Int, cachedRdds: Set[Int], resultRdds: Seq[Int])

/** Counts the Spark jobs a block of code starts, the shuffle bytes its
  * tasks write, the input bytes and records they read, the RDD blocks
  * they cache and the RDD each job's result stage runs on. */
trait JobCounting { this: SparkSpec =>

  private val Marker = "job-counting-marker"

  /** Counts jobs (but the marker's), shuffle bytes written, input bytes
    * and records read and cached RDD blocks, and notes each job's result
    * RDD. */
  private class Counter extends SparkListener {
    val jobs = new AtomicInteger
    val shuffleBytes, bytesRead, recordsRead = new AtomicLong
    val cached = TrieMap.empty[RDDBlockId, Long]
    val resultRdds = TrieMap.empty[Int, Int]
    @volatile private var marker = -1
    @volatile var drained = false
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == Marker))
        marker = e.jobId
      else {
        jobs.incrementAndGet()
        // a result stage is created after its parents: the highest id
        resultRdds(e.jobId) = e.stageInfos.maxBy(_.stageId).rddInfos.head.id
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == marker) drained = true
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        bytesRead.addAndGet(m.inputMetrics.bytesRead)
        recordsRead.addAndGet(m.inputMetrics.recordsRead)
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      b.blockId.asRDDId.filter(_ => b.storageLevel.isValid)
        .foreach(id => cached(id) = b.memSize + b.diskSize)
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
      Tally(c.jobs.get, c.shuffleBytes.get, c.bytesRead.get, c.cached.values.sum,
        c.recordsRead.get, c.cached.size, c.cached.keySet.map(_.rddId).toSet,
        c.resultRdds.toSeq.sortBy(_._1).map(_._2))
    } finally sc.removeSparkListener(c)
  }
}
