package graft.tools

/** Attribute a streaming query's replay cost to the STATE machinery vs
  * the memory sink's driver-side collection: run the transformWithState
  * operators against a `noop` streaming sink (distributed, nothing
  * collected) and compare to the registered memory-sink shape the
  * oracle gate requires.
  *
  *   runMain graft.tools.StreamSinkProbe <sfDir> [seqnum|sessions ...]
  */
object StreamSinkProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/sf10")
    val ops = if (args.length > 1) args.tail.toSeq else Seq("seqnum", "sessions")
    val spark = graft.Sessions.create("StreamSinkProbe", cores = 32, conf = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    ops.foreach { op =>
      val t0 = System.nanoTime()
      val df = op match {
        case "seqnum" => graft.streaming.StreamOps.seqNumStream(
          graft.streaming.StreamOps.readEventStream(spark, sfDir)).toDF()
        case "sessions" => graft.streaming.StreamOps.sessionTagStream(
          graft.streaming.StreamOps.readEventStream(spark, sfDir)).toDF()
        case "attribute" =>
          import org.apache.spark.sql.functions.col
          graft.streaming.StreamOps.attributeStream(
            graft.streaming.StreamOps.readEventStream(spark, sfDir)
              .filter(col("event_type") === "view"),
            graft.streaming.StreamOps.readEventStream(spark, sfDir)
              .filter(col("event_type") === "click"))
        case other => sys.error(s"unknown op $other")
      }
      val q = df.writeStream.format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(); q.stop()
      println(f"SINKPROBE $op noop_sink ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
