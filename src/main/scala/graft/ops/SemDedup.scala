package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VecFunctions
import graft.kmeans.KMeansND

/** Semantic (embedding-space) deduplication, after the SemDeDup recipe
  * (Abbas et al., 2023, arXiv:2303.09540): coarse-cluster the embedding
  * space with k-means, then within each cluster drop every document
  * whose cosine similarity to a lower-id cluster-mate exceeds `tau`.
  * Near-duplicate SEMANTICS (paraphrases, boilerplate rewrites) that no
  * lexical dedup catches collapse here.
  *
  * The coarse quantizer IS the IVF build ([[IvfIndex.build]] →
  * [[KMeansND]]), so the whole pipeline reuses the oracle-checked
  * k-means machinery; with `convergence = false` the build is
  * fixed-iteration and the ENTIRE pipeline (fit → assign → within-
  * cluster pair join → cosine filter → anti-join) unrolls into a
  * DuckDB twin.
  *
  * 100 TB posture: the pair join is blocked by cluster id — O(Σ|c|²)
  * over cluster sizes, never corpus-n² (that bound is the point of
  * SemDeDup's clustering step; nlist scales with corpus size to keep
  * clusters O(corpus/nlist) small). The join shuffles on list_id, the
  * anti-join broadcasts the (small) loser set. Cosines are codegen'd
  * `vec_dot` folds — no UDFs.
  */
object SemDedup {

  /** Within-cluster near-duplicate pairs: (da, db, list_id, cosine),
    * da < db, cosine >= tau. */
  def semanticNearDups(
      embs: DataFrame, nlist: Int = 16, tau: Double = 0.95,
      maxIter: Int = 5): DataFrame = {
    val idx = IvfIndex.build(embs, nlist, maxIter, convergence = false)
    val v = idx.lists // (id, list_id, vec)
    val a = v.select(col("id").as("da"), col("list_id"), col("vec").as("va"))
    val b = v.select(col("id").as("db"), col("list_id"), col("vec").as("vb"))
    val cos = VecFunctions.vecDot(col("va"), col("vb")) /
      (sqrt(VecFunctions.vecDot(col("va"), col("va"))) *
        sqrt(VecFunctions.vecDot(col("vb"), col("vb"))))
    a.join(b, Seq("list_id"))
      .filter(col("da") < col("db"))
      .withColumn("cosine", cos)
      .filter(col("cosine") >= tau)
      .select("da", "db", "list_id", "cosine")
  }

  /** The semantically deduplicated corpus: every embedding id except
    * those with a lower-id near-duplicate in their cluster. */
  def semanticDedup(
      embs: DataFrame, nlist: Int = 16, tau: Double = 0.95,
      maxIter: Int = 5): DataFrame = {
    val losers = semanticNearDups(embs, nlist, tau, maxIter)
      .select(col("db").as("id")).distinct()
    IvfIndex.vectors(embs).join(losers, Seq("id"), "left_anti")
      .select("id")
  }

  /** DuckDB twin of [[semanticNearDups]]: the fixed-iteration ND Lloyd
    * build unrolled as chained CTEs (same recipe as
    * [[IvfIndex.ivfTopKSql]]), then the identical within-cluster pair
    * join with left-to-right IEEE cosine folds. */
  private def pairsCte(nlist: Int, tau: Double, maxIter: Int): String = {
    val steps = KMeansND.lloydStepsSql(maxIter)
    s""", c0 AS (SELECT cid, cvec FROM centsnd), $steps,
       |lists AS (${KMeansND.assignSql("ptsnd", s"c$maxIter")}),
       |pairs AS (
       |  SELECT a.id AS da, b.id AS db, la.cid AS list_id,
       |    ${KMeansND.dotSql("a.vec", "b.vec")} /
       |      (SQRT(${KMeansND.dotSql("a.vec", "a.vec")}) *
       |       SQRT(${KMeansND.dotSql("b.vec", "b.vec")})) AS cosine
       |  FROM ptsnd a JOIN lists la ON a.id = la.id
       |       JOIN lists lb ON la.cid = lb.cid
       |       JOIN ptsnd b ON b.id = lb.id
       |  WHERE a.id < b.id)""".stripMargin
  }

  def semanticNearDupsSql(
      nlist: Int = 16, tau: Double = 0.95, maxIter: Int = 5): String =
    graft.Tables.withVecsCents(
      s"""${pairsCte(nlist, tau, maxIter)}
         |SELECT da, db, list_id, cosine FROM pairs WHERE cosine >= $tau""".stripMargin,
      nlist)

  def semanticDedupSql(
      nlist: Int = 16, tau: Double = 0.95, maxIter: Int = 5): String =
    graft.Tables.withVecsCents(
      s"""${pairsCte(nlist, tau, maxIter)}
         |SELECT id FROM ptsnd WHERE id NOT IN (
         |  SELECT DISTINCT db FROM pairs WHERE cosine >= $tau)""".stripMargin,
      nlist)
}
