package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kmeans.KMeansND
import graft.kmeans.KMeansND.CentND

/** IVF (inverted-file) approximate nearest neighbor — the k-means-based
  * scale path for similarity search (builder brief: "an IVF or
  * LSH-bucketed variant"). The coarse quantizer IS the n-dim k-means
  * engine ([[graft.kmeans.KMeansND]]):
  *
  *  1. build: fit `nlist` coarse centroids, assign every vector to its
  *     nearest list → an inverted index (list_id → vectors);
  *  2. search: rank the coarse centroids against the query (driver-side,
  *     nlist·dim flops), probe the best `nprobe` lists, exact-rescore
  *     only those candidates.
  *
  * 100 TB posture: the index build is one k-means fit (one
  * scan-parallel, shuffle-free kernel job per superstep); a search touches nprobe/nlist of the
  * data — with partitioning-by-list_id at write time a probe is a
  * partition-pruned scan, never a full pass. Rescoring is brute-force
  * cosine over the (small) probed candidate set.
  */
object IvfIndex {

  case class Index(lists: DataFrame, centroids: Seq[CentND])

  /** Normalize the embeddings table to (id, vec: array<double>). */
  def vectors(embs: DataFrame): DataFrame =
    embs.select(col("vec_id").as("id"),
      KMeansND.vecDouble(col("embedding")).as("vec"))

  /** `convergence = false` runs exactly `maxIter` Lloyd steps (no
    * tol early-exit) — a deterministic, DuckDB-unrollable build; the
    * registered `ivf_topk` query uses it so the full search is
    * oracle-checkable ([[ivfTopKSql]]). Default keeps the early-exit
    * for interactive builds. */
  def build(embs: DataFrame, nlist: Int = 16, maxIter: Int = 5,
      convergence: Boolean = true): Index = {
    val vecs = vectors(embs)
    val init = KMeansND.initFromLowestIds(vecs, nlist)
    val (cents, _) =
      KMeansND.fit(vecs, init, maxIter, tol = 1e-6, convergence = convergence)
    val lists = KMeansND.assignKernel(vecs, cents)
      .select(col("id"), col("cid").as("list_id"))
    Index(lists.join(vecs, "id"), cents)
  }

  /** Persist the inverted index partitioned by list_id — the 100 TB
    * shape: a probe filtering on list_id becomes a partition-pruned scan
    * that reads only nprobe/nlist of the data (verify with .explain:
    * PartitionFilters on list_id, not a post-scan filter). */
  def writeIndex(index: Index, path: String): Unit =
    index.lists.write.mode("overwrite").partitionBy("list_id").parquet(path)

  /** Reopen a persisted index. Centroids (nlist·dim doubles — driver-
    * sized) are re-supplied by the caller, typically stored beside the
    * lists. `search` over the result partition-prunes automatically. */
  def readIndex(spark: SparkSession, path: String, centroids: Seq[CentND]): Index =
    Index(spark.read.parquet(path), centroids)

  /** Top-k by cosine among the vectors in the `nprobe` lists nearest to
    * the query vector. Ties broken by id ascending. */
  def search(
      spark: SparkSession, index: Index, query: Seq[Double],
      k: Int = 10, nprobe: Int = 4,
      excludeId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val q = query.toArray
    val qNorm = math.sqrt(q.map(x => x * x).sum)
    // rank coarse lists driver-side (nlist·dim flops)
    val probed = index.centroids.map { c =>
      var d = 0.0; var i = 0
      while (i < q.length) { val dx = q(i) - c.vec(i); d += dx * dx; i += 1 }
      (c.cid, d)
    }.sortBy { case (cid, d) => (d, cid) }.take(nprobe).map(_._1)
    val qCol = array(q.map(lit).toIndexedSeq: _*)
    // codegen'd vec_dot (same left-to-right fold semantics as the
    // interpreted aggregate/zip_with shape, but whole-stage-codegen'd)
    val vd = graft.functions.VecFunctions.vecDot(col("vec"), qCol)
    val vn = sqrt(graft.functions.VecFunctions.vecDot(col("vec"), col("vec")))
    val base = index.lists.filter(col("list_id").isin(probed: _*))
    excludeId.fold(base)(x => base.filter(col("id") =!= x))
      .withColumn("cosine", vd / (vn * lit(qNorm)))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
      .select("id", "list_id", "cosine")
  }

  /** Recall@k curve of the IVF probe against exact brute-force truth —
    * the eval a pipeline owner runs to pick `nprobe` before trusting
    * the index at scale (the ANN-family analogue of `dedup_eval`'s
    * banding-loss check). One row per probed width: how many of the
    * true top-k the nprobe-list search surfaced, and the recall
    * fraction. The query vector (id 0) is excluded from BOTH sides so
    * the self-match can't pad recall. The index is built ONCE
    * (fixed-iteration, oracle-unrollable) and every width probes the
    * same lists relation; truth is the k-row exact scan the
    * emb_cosine_topk query already gates. All counts are integers;
    * recall is one division. */
  def annRecall(
      spark: SparkSession, embs: DataFrame, nlist: Int = 16,
      maxIter: Int = 5, k: Int = 10,
      nprobes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    val idx = build(embs, nlist, maxIter, convergence = false)
    val q = vectors(embs).filter(col("id") === 0L)
      .collect()(0).getSeq[Double](1)
    val truth = EmbeddingOps.cosineTopK(embs, 0L, k)
      .select(col("vec_id").as("id")).localCheckpoint(true)
    val lists = idx.lists.localCheckpoint(true)
    nprobes.map { np =>
      search(spark, Index(lists, idx.centroids), q, k, np,
          excludeId = Some(0L))
        .select("id")
        .join(truth, Seq("id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(np.toLong).as("nprobe"), col("n_hit"),
          (col("n_hit").cast("double") / lit(k.toDouble)).as("recall"))
    }.reduce(_ unionAll _)
  }

  def annRecallSql(nlist: Int = 16, maxIter: Int = 5, k: Int = 10,
      nprobes: Seq[Int] = Seq(1, 2, 4)): String = {
    val steps = KMeansND.lloydStepsSql(maxIter)
    val fin = s"c$maxIter"
    val cosExpr =
      s"""${KMeansND.dotSql("p.vec", "q.vec")} /
         |    (SQRT(${KMeansND.dotSql("p.vec", "p.vec")}) *
         |     SQRT(${KMeansND.dotSql("q.vec", "q.vec")}))""".stripMargin
    val tCos = EmbeddingOps.dotSql("e.embedding", "qe.q_emb") +
      s" / (SQRT(${EmbeddingOps.dotSql("e.embedding", "e.embedding")})" +
      s" * qe.q_norm)"
    val perNp = nprobes.map { np =>
      s"""probed_$np AS (
         |  SELECT c.cid FROM $fin c CROSS JOIN q
         |  ORDER BY ${KMeansND.sqDistSql("c.cvec", "q.vec")}, c.cid
         |  LIMIT $np),
         |approx_$np AS (
         |  SELECT p.id
         |  FROM ptsnd p JOIN lists l ON p.id = l.id CROSS JOIN q
         |  WHERE l.cid IN (SELECT cid FROM probed_$np) AND p.id <> 0
         |  ORDER BY $cosExpr DESC, p.id LIMIT $k)""".stripMargin
    }.mkString(",\n")
    val rows = nprobes.map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe,
         |  (SELECT COUNT(*) FROM approx_$np a
         |   WHERE a.id IN (SELECT id FROM truth)) AS n_hit,
         |  CAST((SELECT COUNT(*) FROM approx_$np a
         |   WHERE a.id IN (SELECT id FROM truth)) AS DOUBLE)
         |    / ${graft.functions.PortableMath.dlitE(k.toDouble)} AS recall"""
        .stripMargin
    }.mkString("\nUNION ALL ")
    graft.Tables.withVecsCents(
      s""", c0 AS (SELECT cid, cvec FROM centsnd), $steps,
         |q AS (SELECT vec FROM ptsnd WHERE id = 0),
         |lists AS (${KMeansND.assignSql("ptsnd", fin)}),
         |qe AS (SELECT embedding AS q_emb,
         |  SQRT(${EmbeddingOps.dotSql("embedding", "embedding")}) AS q_norm
         |  FROM embeddings WHERE vec_id = 0),
         |truth AS (
         |  SELECT e.vec_id AS id FROM embeddings e CROSS JOIN qe
         |  WHERE e.vec_id <> 0
         |  ORDER BY $tCos DESC, e.vec_id LIMIT $k),
         |$perNp
         |$rows""".stripMargin,
      nlist)
  }

  /** DuckDB twin of the FULL fixed-iteration IVF search over the
    * embeddings table, query vector = the id-0 vector: unrolls the
    * `maxIter` decimal-exact ND Lloyd steps as chained CTEs
    * (c0 = lowest-id init, c_i = step(c_{i-1})) — the same unrolling
    * recipe as the 2-D `kmeans_fit10_obj` twin — then ranks the coarse
    * lists against the query, probes the best `nprobe`, and
    * exact-rescores by cosine with the identical left-to-right IEEE
    * folds the Spark side uses. Requires the Spark side built with
    * `convergence = false` (no data-dependent early exit). */
  def ivfTopKSql(nlist: Int = 16, maxIter: Int = 5, k: Int = 10,
      nprobe: Int = 4): String = {
    val steps = KMeansND.lloydStepsSql(maxIter)
    val fin = s"c$maxIter"
    graft.Tables.withVecsCents(
      s""", c0 AS (SELECT cid, cvec FROM centsnd), $steps,
         |q AS (SELECT vec FROM ptsnd WHERE id = 0),
         |probed AS (
         |  SELECT c.cid FROM $fin c CROSS JOIN q
         |  ORDER BY ${KMeansND.sqDistSql("c.cvec", "q.vec")}, c.cid
         |  LIMIT $nprobe),
         |lists AS (${KMeansND.assignSql("ptsnd", fin)})
         |SELECT p.id, l.cid AS list_id,
         |  ${KMeansND.dotSql("p.vec", "q.vec")} /
         |    (SQRT(${KMeansND.dotSql("p.vec", "p.vec")}) *
         |     SQRT(${KMeansND.dotSql("q.vec", "q.vec")})) AS cosine
         |FROM ptsnd p JOIN lists l ON p.id = l.id CROSS JOIN q
         |WHERE l.cid IN (SELECT cid FROM probed)
         |ORDER BY cosine DESC, p.id LIMIT $k""".stripMargin,
      nlist)
  }
}
