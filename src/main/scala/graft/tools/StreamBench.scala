package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming-surface throughput (VERDICT r10 item 4): drives the three
  * production StreamOps shapes with MemoryStream micro-batches at the
  * bench SF's full volume and reports wall seconds + input rows. The
  * noop sink executes every micro-batch fully (state updates, window
  * eviction, join matching) with zero write cost — the streaming twin
  * of the batch bench's noop discipline.
  *
  *   - stream_pack: packStreamBounded over every document (stateful
  *     flatMapGroupsWithState, per-shard cumulative state)
  *   - stream_window: windowedTypeAgg over every event, time-ordered
  *     batches so the watermark advances and window state evicts
  *   - stream_attrib: the stream-stream attribution range join (view
  *     impressions x click events per user, both sides watermarked)
  *
  * Callable standalone (runMain graft.tools.StreamBench [sfDir]) and
  * from graft.Bench, which merges the rows into BENCH_DETAIL.json.
  */
object StreamBench {
  case class Res(name: String, sec: Double, rows: Long, err: Option[String])

  def run(spark: SparkSession, sfDir: String, nBatches: Int = 8): Seq[Res] = {
    import spark.implicits._
    import graft.streaming.StreamOps
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    // A streaming query pins its STATE partition count to
    // spark.sql.shuffle.partitions at first start; at bench volume
    // (1e5 rows) 32 state partitions x several stores x 8 micro-batches
    // is pure store-open/commit overhead, so size the state partitions
    // to the data (a production deployment sizes this to peak rate the
    // same way — it cannot be changed after the first checkpoint).
    val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try runInner(spark, sfDir, nBatches)
    finally spark.conf.set("spark.sql.shuffle.partitions", prevSp)
  }

  private def runInner(
      spark: SparkSession, sfDir: String, nBatches: Int): Seq[Res] = {
    import spark.implicits._
    import graft.streaming.StreamOps
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]

    def feed[A](name: String, data: Seq[A],
        start: MemoryStream[A] => org.apache.spark.sql.streaming.StreamingQuery)(
        implicit enc: org.apache.spark.sql.Encoder[A]): Res =
      try {
        val in = MemoryStream[A]
        val q = start(in)
        val batchSize = math.max(1, data.size / nBatches)
        val t0 = System.nanoTime()
        data.grouped(batchSize).foreach { b =>
          in.addData(b)
          q.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        q.stop()
        Res(name, sec, data.size.toLong, None)
      } catch { case e: Throwable =>
        Res(name, -1.0, data.size.toLong,
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}"))
      }

    def noopSink(df: org.apache.spark.sql.DataFrame) =
      df.writeStream.format("noop").outputMode("append").start()

    // --- stream_pack: every document through the bounded packer
    val docs = graft.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
      .as[StreamOps.Doc].collect().toSeq
    val pack = feed[StreamOps.Doc]("stream_pack", docs, in =>
      noopSink(StreamOps.packStreamBounded(in.toDS()).toDF()))

    // --- stream_window: tumbling windowed agg, time-ordered arrival
    val evs = graft.Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"), col("value"))
      .as[(Timestamp, String, Double)].collect().toSeq.sortBy(_._1.getTime)
    val win = feed[(Timestamp, String, Double)]("stream_window", evs, in =>
      noopSink(StreamOps.windowedTypeAgg(
        in.toDF().toDF("ts", "event_type", "value"))))

    // --- stream_attrib: stream-stream range join; both sides advance
    // together in event-time order so watermarks move and state evicts
    val attrib = try {
      val base = graft.Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .as[(Long, Timestamp, Long, String)].collect().toSeq
        .sortBy(_._2.getTime)
      val imps = base.filter(_._4 == "view").map(t => (t._1, t._2, t._3))
      val clks = base.filter(_._4 == "click").map(t => (t._1, t._2, t._3))
      val impStream = MemoryStream[(Long, Timestamp, Long)]
      val clkStream = MemoryStream[(Long, Timestamp, Long)]
      def shape(ms: MemoryStream[(Long, Timestamp, Long)]) =
        ms.toDF().toDF("user_id", "ts", "event_id")
      val q = noopSink(
        StreamOps.attributeStream(shape(impStream), shape(clkStream)))
      val ib = imps.grouped(math.max(1, imps.size / nBatches)).toSeq
      val cb = clks.grouped(math.max(1, clks.size / nBatches)).toSeq
      val t0 = System.nanoTime()
      ib.zipAll(cb, Seq.empty, Seq.empty).foreach { case (i, c) =>
        if (i.nonEmpty) impStream.addData(i)
        if (c.nonEmpty) clkStream.addData(c)
        q.processAllAvailable()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      q.stop()
      Res("stream_attrib", sec, (imps.size + clks.size).toLong, None)
    } catch { case e: Throwable =>
      Res("stream_attrib", -1.0, 0L,
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}"))
    }

    // --- transformWithState twins at a DISTRIBUTED sink (r14 verdict
    // item 5): the memory-sink registrations are what the oracle
    // replay needs, but 80-93% of their gate-shape cost at 10M events
    // is the driver collecting the sink (StreamSinkProbe A/B). These
    // rows price the OPERATOR the way production runs it — same state
    // machinery, RocksDB provider (scoped to a cloned session), file
    // source replayed AvailableNow, noop streaming sink.
    def tws(name: String,
        mk: SparkSession => org.apache.spark.sql.DataFrame): Res =
      try {
        val s2 = spark.newSession()
        s2.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming." +
            "state.RocksDBStateStoreProvider")
        s2.conf.set("spark.sql.shuffle.partitions", "8")
        val n = graft.Tables.events(s2, sfDir).count()
        val t0 = System.nanoTime()
        val q = mk(s2).writeStream.format("noop")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(); q.stop()
        Res(name, (System.nanoTime() - t0) / 1e9, n, None)
      } catch { case e: Throwable =>
        Res(name, -1.0, 0L,
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}"))
      }
    val seqn = tws("stream_seqnum_noop", s2 =>
      StreamOps.seqNumStream(StreamOps.readEventStream(s2, sfDir)).toDF())
    val sess = tws("stream_sessions_noop", s2 =>
      StreamOps.sessionTagStream(StreamOps.readEventStream(s2, sfDir)).toDF())

    Seq(pack, win, attrib, seqn, sess)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.create("StreamBench")
    run(spark, sfDir).foreach { r =>
      println(f"STREAMBENCH ${r.name}%-14s ${r.sec}%7.2f s  ${r.rows}%7d rows" +
        f"  ${if (r.sec > 0) r.rows / r.sec else 0.0}%9.0f rows/s" +
        r.err.map(e => s"  ERR $e").getOrElse(""))
    }
    spark.stop()
  }
}
