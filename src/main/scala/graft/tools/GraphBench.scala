package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling probe for the fixed-superstep PageRank (graph_pagerank).
  * Claim under test: each superstep is a rank⋈deg join + one dst-keyed
  * contribution sum over |E| rows, so total time grows ~linearly in
  * edge count at fixed iterations — no term grows with |V|·|E| or
  * worse. The synthetic graph is deterministic preferential-attachment
  * -ish: src uniform over nodes, dst hash-skewed toward low ids (hubs),
  * symmetrized so no node dangles — the skew also stresses the
  * dst-keyed sum with Zipf-like hot keys (map-side partials must
  * collapse them).
  *
  *   runMain graft.tools.GraphBench [e1 e2 ...]   (default 1000000 4000000)
  */
object GraphBench {

  /** `e` directed edge pairs over ~e/10 nodes, hub-skewed dst. */
  def edges(spark: SparkSession, e: Long): DataFrame = {
    val nodes = math.max(e / 10, 10L)
    val half = spark.range(e).select(
      pmod(xxhash64(col("id")), lit(nodes)).as("src"),
      // square a uniform [0,1) hash → density piles onto low ids
      (pow(pmod(xxhash64(col("id"), lit(1)), lit(1000000L)) / 1000000.0, 2.0)
        * nodes).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    half.unionAll(half.select(col("dst").as("src"), col("src").as("dst")))
  }

  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong)
      else Seq(1000000L, 4000000L)
    val spark = graft.Sessions.create("GraphBench")

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(label: String, df: => DataFrame): Unit = {
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        noop(df)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"GRAPHBENCH $label ${runs.min}%8.2f s  (runs ${runs.map(r => f"$r%.2f").mkString(" ")})")
    }

    noop(graft.ops.GraphOps.pageRank(edges(spark, 10000)))

    sizes.foreach { e =>
      val path = s"target/graph_bench_$e.parquet"
      if (!new java.io.File(path, "_SUCCESS").exists())
        edges(spark, e).write.mode("overwrite").parquet(path)
      val es = spark.read.parquet(path)
      println(s"GRAPHBENCH === e=$e ===")
      timed(f"e=$e%-8d pagerank_3it", graft.ops.GraphOps.pageRank(es, iters = 3))
      timed(f"e=$e%-8d pagerank_6it", graft.ops.GraphOps.pageRank(es, iters = 6))
      // triangle counting on the undirected simple graph: the hub-skewed
      // dst distribution is the adversarial case for the wedge join —
      // degree orientation must keep hub out-degrees O(√E) or the join
      // fan-out explodes quadratically in the hub degree
      val und = es.filter(col("src") < col("dst"))
        .select(col("src").as("a"), col("dst").as("b")).distinct()
      timed(f"e=$e%-8d triangles   ", graft.ops.GraphOps.triangleCounts(und))
      // basket lift on synthetic orders (~4 items each, Zipf-hot items
      // via the same squared-hash skew): the per-order self-join's
      // fan-out is items², so hot ITEMS must not matter — only basket
      // width does, and that is fixed by construction
      val baskets = spark.range(e).select(
        (col("id") / 4).cast("long").as("l_orderkey"),
        (pow(pmod(xxhash64(col("id"), lit(7)), lit(1000000L)) / 1000000.0, 2.0)
          * (e / 40)).cast("long").as("l_partkey"))
      timed(f"e=$e%-8d basket_lift ",
        graft.ops.GraphOps.basketLift(baskets, minSupport = 2))
    }
    spark.stop()
  }
}
