package graft.tools

import org.apache.spark.sql.DataFrame

/** Operating-point scout for the r16 recall-targeted ANN defaults
  * (VERDICT r15 item 1): recall@10 of each candidate default vs the
  * exact truth under its own metric, at any sfDir. Not part of the
  * bench artifact — RecallBench owns that — this is the tool that
  * picked the registered operating points.
  *
  * runMain graft.tools.TuneAnn [sfDir] */
object TuneAnn {
  private val K = 10

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.create("TuneAnn")
    val embs = graft.Tables.table(spark, sfDir, "embeddings")
    val n = embs.count()
    println(s"TUNE n=$n autoBits=${graft.ops.EmbeddingOps.autoBits(n)} " +
      s"rpAutoP=${graft.ops.EmbeddingOps.rpAutoP(n)}")
    val (_, cosTruth, l2Truth) = RecallBench.truths(embs)

    def score(name: String, truth: Set[Long])(body: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      try {
        val ids = body.collect().map(_.getLong(0)).filterNot(_ == 0L).take(K)
        val r = ids.count(truth) / K.toDouble
        println(f"TUNE $name%-28s recall@10=$r%.2f " +
          f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")
      } catch {
        case e: Throwable =>
          println(s"TUNE $name ERR ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(160))
      } finally {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
      }
    }

    score("lsh_auto_t16", cosTruth)(
      graft.ops.EmbeddingOps.lshTopKAuto(embs, 0L, K))
    score("lsh_auto_t8", cosTruth)(
      graft.ops.EmbeddingOps.lshTopKAuto(embs, 0L, K, numTables = 8))
    score("rp_auto", cosTruth)(
      graft.ops.EmbeddingOps.rpTopKAuto(embs, 0L, K))
    score("pq_refined_m4kf20", l2Truth)(
      graft.ops.PqIndex.pqTopKRefined(embs, k = K + 1))
    score("pq_refined_m4kf50", l2Truth)(
      graft.ops.PqIndex.pqTopKRefined(embs, k = K + 1, kFactor = 50))
    score("pq_refined_m4n32kf20", l2Truth)(
      graft.ops.PqIndex.pqTopKRefined(embs, nlist = 32, k = K + 1))
    score("pq_refined_m8kf50", l2Truth)(
      graft.ops.PqIndex.pqTopKRefined(embs, m = 8, k = K + 1, kFactor = 50))
    score("ivfpq_refined_kf20np4", l2Truth)(
      graft.ops.PqIndex.ivfPqTopKRefined(embs, k = K + 1, nprobe = 4,
        kFactor = 20))
    spark.stop()
  }
}
