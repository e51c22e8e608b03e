package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Zipf-skew stress for the r11 TopKPerKey consumers + quality_auc
  * (VERDICT r11 item 6): re-run each op on a variant of its sf input
  * where ONE key owns ~20 % of the rows, and record base-vs-skew times
  * in BENCH_DETAIL.json's "skew_stress" object. The dedup family has
  * had this since r8 (DedupBench.skewedCorpus); these four had not.
  *
  * Why these should survive a hot key by construction:
  *  - events_latest / text_keyphrases / emb_knn_classify run through
  *    TopKPerKey, whose per-partition partial top-k heaps bound the
  *    hot key's exchange to k·partitions rows — the skewed key never
  *    shuffles whole;
  *  - quality_auc is a sufficient-statistics aggregate over (score,
  *    label) groups — a hot tied score collapses map-side.
  * A skew/base ratio far above the row-count ratio (~1) would falsify
  * that and route the op through Skew salting.
  */
object SkewStress {

  final case class Res(name: String, baseSec: Double, skewSec: Double,
      err: Option[String])

  /** ~20 % of rows re-keyed onto one hot key value. */
  private def hot(df: DataFrame, key: String, hotVal: Long): DataFrame =
    df.withColumn(key,
      when(pmod(xxhash64(col(key)), lit(5L)) === 0L, lit(hotVal))
        .otherwise(col(key)))

  def run(spark: SparkSession, sfDir: String): Seq[Res] = {
    val events = graft.Tables.events(spark, sfDir)
    val docs = graft.Tables.table(spark, sfDir, "documents")
    val embs = graft.Tables.table(spark, sfDir, "embeddings")

    // one vector owning 20 % of embedding rows: every copy lands in the
    // same LSH bucket in every table — the worst case for the blocked
    // kNN candidate join
    val hotVec = embs.filter(col("vec_id") === 0L)
      .select(col("embedding").as("__hot")).limit(1)
    val embsSkew = embs.crossJoin(broadcast(hotVec))
      .select(col("vec_id"),
        when(pmod(xxhash64(col("vec_id")), lit(5L)) === 0L, col("__hot"))
          .otherwise(col("embedding")).as("embedding"),
        col("label"))

    // best of 2 per side: the first evaluation pays whole-stage codegen
    // for the plan shape, which otherwise biases base (always run
    // first) vs skew by more than the effect under test
    def timedCount(df: => DataFrame): Double =
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        df.count()
        val s = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        s
      }.min

    def stress(name: String)(base: => DataFrame)(skew: => DataFrame): Res =
      try {
        val b = timedCount(base)
        val s = timedCount(skew)
        Res(name, b, s, None)
      } catch {
        case e: Throwable => Res(name, -1.0, -1.0,
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}"))
      }

    Seq(
      stress("events_latest")(
        graft.ops.EventOps.latestState(events))(
        graft.ops.EventOps.latestState(hot(events, "user_id", 0L))),
      stress("text_keyphrases")(
        graft.ops.RetrievalOps.keyphrases(docs))(
        graft.ops.RetrievalOps.keyphrases(hot(docs, "doc_id", 0L))),
      stress("quality_auc")(
        graft.ops.StatsOps.aucExact(docs, col("n_chars"), col("lang") === "en"))(
        graft.ops.StatsOps.aucExact(
          docs.withColumn("n_chars",
            when(pmod(xxhash64(col("doc_id")), lit(5L)) === 0L, lit(1234L))
              .otherwise(col("n_chars"))),
          col("n_chars"), col("lang") === "en")),
      stress("emb_knn_classify")(
        graft.ops.EmbeddingOps.knnClassify(embs))(
        graft.ops.EmbeddingOps.knnClassify(embsSkew)))
  }

  /** Standalone runner: runMain graft.tools.SkewStress [sfDir] */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.create("SkewStress")
    run(spark, sfDir).foreach { r =>
      println(f"SKEW ${r.name}%-20s base=${r.baseSec}%6.2f s " +
        f"skew=${r.skewSec}%6.2f s ratio=${r.skewSec / math.max(r.baseSec, 1e-9)}%5.2f" +
        r.err.map(e => s" ERR $e").getOrElse(""))
    }
    spark.stop()
  }
}
