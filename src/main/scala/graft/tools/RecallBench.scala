package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Recall@10 of every approximate index against its exact ground truth
  * on the bench fixture (VERDICT r11 item 3). Each index is compared to
  * the brute-force top-10 under ITS OWN metric — the cosine family
  * (lsh / sq8 / hamming / matryoshka / ivf, whose final rescore is
  * cosine) against `EmbeddingOps.cosineTopK`, the ADC family (pq /
  * ivfpq / ivfpq_refined, which answer squared-L2) against the exact L2
  * top-10 — mixing metrics once mis-read IVFADC recall as 0.0 (see
  * AnnBench.scala). The self-including families (IVF/PQ scan the full
  * code table, so the id-0 query vector is its own nearest hit) are
  * asked for k+1 and the self-hit dropped, so every index is scored on
  * 10 real candidate slots. Results land in BENCH_DETAIL.json's
  * "recall" object. */
object RecallBench {

  final case class Res(name: String, metric: String, recall: Double,
      sec: Double, err: Option[String])

  private val K = 10

  /** Query vector 0 and its exact top-10 ids (itself excluded) by
    * cosine and by squared L2: the two ground truths every index is
    * scored against. */
  private[tools] def truths(
      embs: DataFrame): (Seq[Double], Set[Long], Set[Long]) = {
    val cosTruth = graft.ops.EmbeddingOps.cosineTopK(embs, 0L, K)
      .collect().map(_.getLong(0)).toSet
    val vecs = graft.ops.IvfIndex.vectors(embs)
    val q = vecs.filter(col("id") === 0L).head().getSeq[Double](1)
    val qc = array(q.map(lit).toIndexedSeq: _*)
    val l2Truth = vecs.filter(col("id") =!= 0L)
      .select(col("id"), graft.kmeans.KMeansND.sqDistND(col("vec"), qc).as("d"))
      .orderBy(col("d").asc, col("id").asc).limit(K)
      .collect().map(_.getLong(0)).toSet
    (q, cosTruth, l2Truth)
  }

  def run(spark: SparkSession, sfDir: String): Seq[Res] = {
    val embs = graft.Tables.table(spark, sfDir, "embeddings")
    val (q, cosTruth, l2Truth) = truths(embs)

    def score(name: String, metric: String, truth: Set[Long])
        (body: => DataFrame): Res = {
      val t0 = System.nanoTime()
      try {
        // drop the self-hit (id 0) if present; callers over-fetch k+1
        // so 10 genuine candidate slots remain either way
        val ids = body.collect().map(_.getLong(0)).filterNot(_ == 0L).take(K)
        val r = ids.count(truth) / K.toDouble
        Res(name, metric, r, (System.nanoTime() - t0) / 1e9, None)
      } catch {
        case e: Throwable =>
          Res(name, metric, -1.0, (System.nanoTime() - t0) / 1e9,
            Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}"))
      } finally spark.catalog.clearCache()
    }

    Seq(
      // the REGISTERED defaults (r16: recall-targeted, data-dependent —
      // VERDICT r15 item 1; the emb_topk_recall oracle gate pins these
      // same four per SF, this panel is the independent bench-side read)
      score("emb_lsh_topk", "cosine", cosTruth)(
        graft.ops.EmbeddingOps.lshTopKAuto(embs, 0L, K)),
      score("emb_sq8_topk", "cosine", cosTruth)(
        graft.ops.QuantOps.sq8TopK(embs, 0L, K)),
      score("emb_hamming_topk", "cosine", cosTruth)(
        graft.ops.QuantOps.hammingTopK(embs, 0L, K)),
      score("emb_matryoshka_topk", "cosine", cosTruth)(
        graft.ops.QuantOps.matryoshkaTopK(embs, 0L, K)),
      score("ivf_topk", "cosine", cosTruth) {
        val idx = graft.ops.IvfIndex.build(embs, nlist = 16, maxIter = 5,
          convergence = false)
        graft.ops.IvfIndex.search(spark, idx, q, k = K + 1, nprobe = 4)
      },
      score("emb_rp_topk", "cosine", cosTruth)(
        graft.ops.EmbeddingOps.rpTopKAuto(embs, 0L, K)),
      score("pq_topk", "l2", l2Truth)(
        graft.ops.PqIndex.pqTopKRefined(embs, k = K + 1)),
      score("ivfpq_topk", "l2", l2Truth)(
        graft.ops.PqIndex.ivfPqTopKRefined(embs, k = K + 1, nprobe = 4,
          kFactor = 20)),
      score("ivfpq_topk_refined", "l2", l2Truth)(
        graft.ops.PqIndex.ivfPqTopKRefined(embs, k = K + 1)),
      // ---- the r15-and-earlier FIXED defaults, kept as @-rows so the
      // r16 default change stays measured against its predecessors
      // (they sat at recall 0.0-0.2 on this fixture — near-uniform
      // 64-dim noise, ANN's degenerate case, see AnnBench.vectors)
      score("emb_lsh_topk@b8t4", "cosine", cosTruth)(
        graft.ops.EmbeddingOps.lshTopK(embs, 0L, K)),
      score("emb_rp_topk@p16o4", "cosine", cosTruth)(
        graft.ops.EmbeddingOps.rpTopK(embs, 0L, K)),
      score("pq_topk@adc", "l2", l2Truth)(
        graft.ops.PqIndex.pqTopK(embs, k = K + 1)),
      score("ivfpq_topk@adc", "l2", l2Truth)(
        graft.ops.PqIndex.ivfPqTopK(embs, k = K + 1)),
      // ---- parameter sweeps around the operating points
      score("emb_lsh_topk@t16b6", "cosine", cosTruth)(
        graft.ops.EmbeddingOps.lshTopK(embs, 0L, K, numBits = 6,
          numTables = 16)),
      score("emb_matryoshka_topk@s200", "cosine", cosTruth)(
        graft.ops.QuantOps.matryoshkaTopK(embs, 0L, K, shortlist = 200)),
      score("ivfpq_topk_refined@kf20np4", "l2", l2Truth)(
        graft.ops.PqIndex.ivfPqTopKRefined(embs, k = K + 1, kFactor = 20,
          nprobe = 4)),
      score("emb_rp_topk@p32o20", "cosine", cosTruth)(
        graft.ops.EmbeddingOps.rpTopK(embs, 0L, K, p = 32, overscan = 20)),
      score("emb_rp_topk@p48o50", "cosine", cosTruth)(
        graft.ops.EmbeddingOps.rpTopK(embs, 0L, K, p = 48, overscan = 50)))
  }

  /** Standalone runner: runMain graft.tools.RecallBench [sfDir] */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.create("RecallBench")
    run(spark, sfDir).foreach { r =>
      println(f"RECALL ${r.name}%-22s metric=${r.metric}%-6s " +
        f"recall@10=${r.recall}%.2f (${r.sec}%.1f s)" +
        r.err.map(e => s" ERR $e").getOrElse(""))
    }
    spark.stop()
  }
}
