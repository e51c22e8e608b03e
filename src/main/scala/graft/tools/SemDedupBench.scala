package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SemDeDup-at-scale probe: the embeddings fixture tops out at 2 000
  * vectors, so the cluster-blocking that makes SemDeDup sub-quadratic
  * cannot be seen there. This generates a deterministic synthetic
  * embedding corpus with planted semantic near-duplicates, then times
  * [[graft.ops.SemDedup]] end-to-end at each size with the paper's
  * scaling rule nlist ~ n/clusterSize (fixed expected cluster
  * population, so within-cluster pair work grows LINEARLY in n — the
  * whole point of the clustering step), and reports planted-dup recall.
  *
  *   runMain graft.tools.SemDedupBench [n1 n2 ...]  (default 50000 200000)
  *
  * Corpus shape: 64-dim vectors around n/100 hash-derived centers with
  * jitter at 1/3 the center scale (unrelated vectors' cosine stays well
  * under the planted pairs'); every 20th vector copies the previous
  * vector with 1/30-scale jitter → a planted semantic near-dup pair
  * (~5% dup rate, mirroring DedupBench).
  */
object SemDedupBench {

  def vectors(spark: SparkSession, n: Long): DataFrame = {
    val base = when(pmod(col("id"), lit(20)) === 19, col("id") - 1)
      .otherwise(col("id"))
    val centers = greatest(lit(1L), lit(n / 100))
    // planted dups use the BASE vector's center and jitter, plus a
    // small displacement keyed on the real id
    val small = when(pmod(col("id"), lit(20)) === 19, lit(1.0)).otherwise(lit(0.0))
    spark.range(0, n, 1, 32)
      .select(col("id").as("vec_id"), pmod(base, centers).as("c"),
        base.as("jbase"), small.as("small"))
      .select(col("vec_id"),
        transform(sequence(lit(1), lit(64)),
          i => (pmod(xxhash64(col("c"), i), lit(2000001L)) - 1000000L) / 1000000.0
            + (pmod(xxhash64(col("jbase"), i), lit(2000001L)) - 1000000L) / 3000000.0
            + col("small") *
              (pmod(xxhash64(col("vec_id"), i), lit(2000001L)) - 1000000L) / 30000000.0)
          .as("embedding"))
  }

  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong) else Seq(50000L, 200000L)
    val spark = graft.Sessions.create("SemDedupBench")

    sizes.foreach { n =>
      val path = s"target/semdedup_bench_$n.parquet"
      if (!new java.io.File(path, "_SUCCESS").exists())
        vectors(spark, n).write.mode("overwrite").parquet(path)
      val embs = spark.read.parquet(path)
      // paper scaling: fixed expected cluster size (~200), nlist grows
      // with n — keeps Σ|c|² ≈ 200·n, i.e. linear pair work
      val nlist = math.max(16, (n / 200).toInt)
      println(s"SEMDEDUPBENCH === n=$n dim=64 nlist=$nlist tau=0.99 ===")

      val t0 = System.nanoTime()
      val pairs = graft.ops.SemDedup
        .semanticNearDups(embs, nlist = nlist, tau = 0.99, maxIter = 3)
        .cache()
      val nPairs = pairs.count()
      val tPairs = (System.nanoTime() - t0) / 1e9
      println(f"SEMDEDUPBENCH n=$n pairs          $tPairs%8.2f s  rows=$nPairs")

      val t1 = System.nanoTime()
      val losers = pairs.select(col("db")).distinct()
      val nKept = graft.ops.IvfIndex.vectors(embs)
        .join(losers.withColumnRenamed("db", "id"), Seq("id"), "left_anti")
        .count()
      val tDedup = (System.nanoTime() - t1) / 1e9
      println(f"SEMDEDUPBENCH n=$n dedup_corpus   $tDedup%8.2f s  kept=$nKept/$n")

      // planted recall: every id ≡ 19 (mod 20) has a designed near-dup
      // at id-1; it must be dropped (appear as db in some pair)
      val planted = n / 20
      val dropped = pairs.select("db").distinct()
        .filter(pmod(col("db"), lit(20)) === 19).count()
      println(f"SEMDEDUPBENCH n=$n planted_recall ${dropped.toDouble / planted}%8.3f" +
        f"  ($dropped/$planted)")
      pairs.unpersist(blocking = false)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
