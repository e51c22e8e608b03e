package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN-at-scale probe: the embeddings fixture tops out at 2 000 vectors
  * (sf0.1), so the brute-vs-indexed trade-off cannot be seen there —
  * everything is broadcast-sized. This generates a deterministic
  * synthetic embedding table (hash-derived 64-dim doubles in [-1, 1]),
  * materializes it as parquet scratch, and times at each size:
  *
  *  - brute-force exact cosine top-k (the baseline every ANN answer is
  *    judged against);
  *  - LSH over the on-disk (table, bucket)-partitioned index —
  *    build once + partition-pruned probe;
  *  - IVF over the on-disk list_id-partitioned index — build once
  *    (k-means quantizer) + pruned probe.
  *
  * Probe times are what matter at scale (indexes are build-once); both
  * index probes must stay ~flat as n grows while brute force grows
  * linearly. runMain graft.tools.AnnBench [n1 n2 ...]
  * (default 100000 400000).
  */
object AnnBench {

  /** Clustered vectors, not uniform noise: 200 hash-derived cluster
    * centers with per-vector jitter at 1/10 the center scale. Uniform
    * random vectors are the DEGENERATE case for ANN (in high dim all
    * pairs are nearly equidistant, so "top-10 nearest" is meaningless
    * and LSH recall collapses by construction — measured 0.0-0.2 on a
    * first uniform attempt); real embedding spaces are clustered, and
    * recall against the exact answer is only informative there. */
  def vectors(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n, 1, 32)
      .select(col("id").as("vec_id"), pmod(col("id"), lit(200)).as("c"))
      .select(col("vec_id"),
        transform(sequence(lit(1), lit(64)),
          i => (pmod(xxhash64(col("c"), i), lit(2000001L)) - 1000000L) / 1000000.0
            + (pmod(xxhash64(col("vec_id"), i), lit(2000001L)) - 1000000L) / 10000000.0)
          .as("embedding"))

  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong) else Seq(100000L, 400000L)
    val spark = graft.Sessions.create("AnnBench")

    def timed[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"ANNBENCH $label ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    sizes.foreach { n =>
      val path = s"target/ann_bench_$n.parquet"
      if (!new java.io.File(path, "_SUCCESS").exists())
        vectors(spark, n).write.mode("overwrite").parquet(path)
      val embs = spark.read.parquet(path)
      println(s"ANNBENCH === n=$n dim=64 ===")

      val brute = timed(s"n=$n brute_topk      ") {
        graft.ops.EmbeddingOps.cosineTopK(embs, queryId = 1L).collect()
      }

      val lshPath = s"target/ann_lsh_$n"
      if (!new java.io.File(lshPath).isDirectory)
        timed(s"n=$n lsh_index_build ") {
          graft.ops.EmbeddingOps.writeLshIndex(embs, lshPath)
        }
      val lsh = timed(s"n=$n lsh_probe       ") {
        graft.ops.EmbeddingOps.lshTopKIndexed(lshPath, embs, queryId = 1L).collect()
      }

      val ivfPath = s"target/ann_ivf_$n"
      val nlist = 64
      val idx = timed(s"n=$n ivf_build       ") {
        val i = graft.ops.IvfIndex.build(embs, nlist = nlist, maxIter = 3)
        graft.ops.IvfIndex.writeIndex(i, ivfPath)
        i
      }
      val onDisk = graft.ops.IvfIndex.readIndex(spark, ivfPath, idx.centroids)
      val q = graft.ops.IvfIndex.vectors(embs)
        .filter(col("id") === 1L).collect()(0).getSeq[Double](1)
      val ivf = timed(s"n=$n ivf_probe       ") {
        graft.ops.IvfIndex.search(spark, onDisk, q, k = 10, nprobe = 8).collect()
      }

      // composed IVFADC: coarse lists + residual-PQ codes, probe reads
      // only nprobe/nlistC of the m-byte codes. nlistC=256 is the
      // design contract, not a tuning nicety: with 200 natural
      // clusters in the fixture, nlistC=64 left each list covering ~3
      // clusters, residuals stayed center-scale multi-modal, PQ cells
      // dwarfed the within-cluster spacing, and recall vs L2 truth
      // collapsed to 0.1-0.2 WITH refine — the coarse quantizer must
      // resolve the cluster structure so residuals shrink to jitter
      // scale before PQ can discriminate
      val ivfpqPath = s"target/ann_ivfpq_$n"
      timed(s"n=$n ivfpq_build     ") {
        graft.ops.PqIndex.writeIvfPqIndex(embs, nlistC = 256, maxIterC = 3,
          m = 8, nlist = 64, maxIter = 3, ivfpqPath)
      }
      val ivfpq = timed(s"n=$n ivfpq_probe     ") {
        graft.ops.PqIndex.searchIvfPqIndex(spark, ivfpqPath, q,
          k = 10, nprobe = 8).collect()
      }
      // + refine: ADC shortlist 40, exact rescore of just those ids —
      // within a tight cluster pure-ADC ranks are quantization noise,
      // the refine recovers the exact order from a 40-vector lookup
      // The refine shortlist must out-size the ADC noise within a
      // dense cluster, so it scales with per-list candidate DENSITY,
      // not with k: at 100k (500/cluster) kFactor=20 recalls 1.0; at
      // 400k (2000/cluster) the same 200-row shortlist drops to 0.7
      // and kFactor=50 restores it — rescoring 500 raw vectors is
      // still a point lookup, not a corpus pass
      val ivfpqR = timed(s"n=$n ivfpq_refined   ") {
        graft.ops.PqIndex.searchIvfPqRefined(spark, ivfpqPath, embs, q,
          k = 10, kFactor = 20, nprobe = 8).collect()
      }
      val ivfpqR50 = timed(s"n=$n ivfpq_refined50 ") {
        graft.ops.PqIndex.searchIvfPqRefined(spark, ivfpqPath, embs, q,
          k = 10, kFactor = 50, nprobe = 8).collect()
      }

      // recall@10: LSH/IVF rank by cosine (their truth = brute cosine);
      // IVFADC answers EUCLIDEAN NN, so its truth is the exact L2 top-k
      // (on unnormalized vectors the two rankings differ — comparing
      // ADC to cosine truth once mis-read as recall 0.0)
      val truth = brute.map(_.getLong(0)).toSet
      val qc = array(q.map(lit): _*)
      val l2Truth = graft.ops.IvfIndex.vectors(embs)
        .select(col("id"), graft.kmeans.KMeansND.sqDistND(col("vec"), qc).as("d"))
        .orderBy(col("d"), col("id")).limit(10)
        .collect().map(_.getLong(0)).toSet
      val rLsh = lsh.map(_.getLong(0)).count(truth) / 10.0
      val rIvf = ivf.map(_.getLong(0)).count(truth) / 10.0
      val rIvfPq = ivfpq.map(_.getLong(0)).count(l2Truth) / 10.0
      val rIvfPqR = ivfpqR.map(_.getLong(0)).count(l2Truth) / 10.0
      val rIvfPqR50 = ivfpqR50.map(_.getLong(0)).count(l2Truth) / 10.0
      println(f"ANNBENCH n=$n recall@10: lsh=$rLsh%.1f ivf=$rIvf%.1f " +
        f"ivfpq_adc=$rIvfPq%.1f ivfpq_refined20=$rIvfPqR%.1f " +
        f"ivfpq_refined50=$rIvfPqR50%.1f (vs L2 truth)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
