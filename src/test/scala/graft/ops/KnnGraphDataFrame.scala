package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import EmbeddingOps.{l2Norm, dot, lshBuckets, lshBucketsAuto}

/** The DataFrame implementation of [[EmbeddingOps.knnGraph]] and
  * [[EmbeddingOps.hardNegatives]] (and their auto-width forms), kept as
  * the reference the [[KnnGraph]] kernel must equal (`KnnGraphSpec`):
  * the (vec_id, table, bucket) relation cached, a self-join on (table,
  * bucket) into distinct pairs, two id joins for the embeddings and
  * norms, the `vecDot` cosine, and a per-source TopKPerKey with rank. */
object KnnGraphDataFrame {

  def knnGraph(
      embs: DataFrame, k: Int = 3, dim: Int = 64,
      numBits: Int = 6, numTables: Int = 8, seed: Long = 42L): DataFrame =
    knnGraphFrom(lshBuckets(embs, dim, numBits, numTables, seed), embs, k)

  def knnGraphAuto(
      embs: DataFrame, k: Int = 3, dim: Int = 64,
      numTables: Int = 8, seed: Long = 42L): DataFrame =
    knnGraphFrom(lshBucketsAuto(embs, dim, numTables, seed), embs, k)

  def hardNegatives(
      embs: DataFrame, k: Int = 3, dim: Int = 64,
      numBits: Int = 6, numTables: Int = 8, seed: Long = 42L): DataFrame =
    hardNegativesFrom(lshBuckets(embs, dim, numBits, numTables, seed), embs, k)

  def hardNegativesAuto(
      embs: DataFrame, k: Int = 3, dim: Int = 64,
      numTables: Int = 8, seed: Long = 42L): DataFrame =
    hardNegativesFrom(lshBucketsAuto(embs, dim, numTables, seed), embs, k)

  private def knnGraphFrom(
      rawBuckets: DataFrame, embs: DataFrame, k: Int): DataFrame = {
    val buckets = rawBuckets.cache()
    val pairs = buckets.select(col("vec_id").as("ida"), col("table"), col("bucket"))
      .join(buckets.select(col("vec_id").as("idb"), col("table"), col("bucket")),
        Seq("table", "bucket"))
      .filter(col("ida") =!= col("idb"))
      .select("ida", "idb").distinct()
    val e = embs.select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("nrm"))
    val scored = pairs
      .join(e.select(col("vec_id").as("ida"), col("embedding").as("ea"),
        col("nrm").as("na")), Seq("ida"))
      .join(e.select(col("vec_id").as("idb"), col("embedding").as("eb"),
        col("nrm").as("nb")), Seq("idb"))
      .select(col("ida"), col("idb"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cosine"))
    org.apache.spark.sql.graft.TopKPerKey(
        scored, Seq("ida"), Seq(("cosine", false), ("idb", true)), k,
        rankCol = Some("rank"))
      .select(col("ida").as("vec_id"), col("idb").as("neighbor"),
        col("cosine"), col("rank"))
  }

  private def hardNegativesFrom(
      rawBuckets: DataFrame, embs: DataFrame, k: Int): DataFrame = {
    // labels ride the bucket relation, so the label-mismatch filter
    // lands before the pair distinct (lb is functionally determined by
    // idb: distinct over (ida, idb, lb) has the cardinality of (ida, idb))
    val lab = embs.select(col("vec_id"), col("label"))
    val buckets = rawBuckets.join(lab, Seq("vec_id")).cache()
    val pairs = buckets.select(col("vec_id").as("ida"), col("table"),
        col("bucket"), col("label").as("la"))
      .join(buckets.select(col("vec_id").as("idb"), col("table"),
        col("bucket"), col("label").as("lb")), Seq("table", "bucket"))
      .filter(col("ida") =!= col("idb") && col("la") =!= col("lb"))
      .select("ida", "idb", "lb").distinct()
    val e = embs.select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("nrm"))
    val scored = pairs
      .join(e.select(col("vec_id").as("ida"), col("embedding").as("ea"),
        col("nrm").as("na")), Seq("ida"))
      .join(e.select(col("vec_id").as("idb"), col("embedding").as("eb"),
        col("nrm").as("nb")), Seq("idb"))
      .select(col("ida"), col("idb"), col("lb"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cosine"))
    org.apache.spark.sql.graft.TopKPerKey(
        scored, Seq("ida"), Seq(("cosine", false), ("idb", true)), k,
        rankCol = Some("rank"))
      .select(col("ida").as("vec_id"), col("idb").as("negative"),
        col("lb").as("neg_label"), col("cosine"), col("rank"))
  }
}
