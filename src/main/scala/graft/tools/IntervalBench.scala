package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling probe for the binned interval join (events_ivjoin). Claims
  * under test: (1) the binned plan grows ~linearly in event count at a
  * fixed anchor rate — the bin equi-join carries fan-out bounded by
  * interval_len/bin_width, never |events|×|intervals|; (2) the naive
  * BroadcastNestedLoopJoin formulation of the SAME query grows as the
  * product and is already hopeless at sizes the binned plan shrugs at;
  * (3) a pathological skew case — every anchor inside one hour, so a
  * handful of bins hold all intervals — degrades the binned join only
  * linearly (a hot bin multiplies its events by the anchors in ±1 bin,
  * not by all anchors).
  *
  *   runMain graft.tools.IntervalBench [n1 n2 ...]  (default 1000000 4000000)
  */
object IntervalBench {

  /** Deterministic synthetic events: ts hash-spread over 30 days,
    * value in [0, 500). */
  def events(spark: SparkSession, n: Long): DataFrame = {
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + // 2024-01-01 UTC
        pmod(xxhash64(col("id")), lit(30L * 24 * 3600 * 1000000L))).as("ts"),
      pmod(xxhash64(col("id"), lit(1)), lit(100000L)).as("user_id"),
      lit("error").as("event_type"),
      (pmod(xxhash64(col("id"), lit(2)), lit(50000L)) / 100.0).as("value"),
      lit("{}").as("props"))
  }

  /** Anchors: every `rate`-th event spawns a ±10 min window. `clustered`
    * packs every anchor into one hour (the hot-bin stress). */
  def anchors(ev: DataFrame, rate: Long, clustered: Boolean): DataFrame = {
    val base = ev.filter(col("event_id") % rate === 0)
    val ts0 = if (clustered)
      timestamp_micros(lit(1704067200000000L) +
        pmod(xxhash64(col("event_id")), lit(3600L * 1000000L)))
    else col("ts")
    base.select(
      col("event_id").as("interval_id"),
      (ts0 - expr("INTERVAL '10' MINUTE")).as("t_start"),
      (ts0 + expr("INTERVAL '10' MINUTE")).as("t_end"))
  }

  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
      else Seq(1000000L, 4000000L)
    val spark = graft.Sessions.create("IntervalBench")

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(label: String, df: => DataFrame): Unit = {
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        noop(df)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"IVBENCH $label ${runs.min}%8.2f s  (runs ${runs.map(r => f"$r%.2f").mkString(" ")})")
    }

    noop(graft.ops.EventOps.intervalJoinBinned(
      events(spark, 10000), anchors(events(spark, 10000), 250, false)))

    // the naive nested-loop twin at SMALL n only — the point is the slope
    Seq(25000L, 50000L).foreach { n =>
      val ev = events(spark, n).cache(); ev.count()
      val iv = anchors(ev, 250, clustered = false)
      timed(f"n=$n%-8d naive_nlj  ",
        iv.crossJoin(ev)
          .filter(col("ts") >= col("t_start") && col("ts") <= col("t_end"))
          .groupBy("interval_id").agg(count(lit(1)).as("n_events")))
      timed(f"n=$n%-8d binned     ",
        graft.ops.EventOps.intervalJoinBinned(ev, iv))
      ev.unpersist()
    }

    sizes.foreach { n =>
      val path = s"target/iv_bench_$n.parquet"
      if (!new java.io.File(path, "_SUCCESS").exists())
        events(spark, n).write.mode("overwrite").parquet(path)
      val ev = spark.read.parquet(path)
      println(s"IVBENCH === n=$n ===")
      timed(f"n=$n%-8d binned     ",
        graft.ops.EventOps.intervalJoinBinned(ev, anchors(ev, 250, false)))
      timed(f"n=$n%-8d binned_skew",
        graft.ops.EventOps.intervalJoinBinned(ev, anchors(ev, 250, true)))
    }
    spark.stop()
  }
}
