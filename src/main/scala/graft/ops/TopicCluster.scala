package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.kmeans.KMeansND

/** Topic clustering of the documents table — the curation-by-cluster
  * composition a pretraining pipeline runs to stratify or downsample a
  * corpus by topic (cluster-then-balance, cf. DSIR / SemDeDup-style
  * pipelines): hashed tf features → dense vectors → fixed-iteration
  * Lloyd over the doc vectors → per-doc cluster id.
  *
  * Built entirely from verified pieces: `TextOps.hashedFeatures` (one
  * token shuffle, signed feature hashing) and `KMeansND.assign` /
  * `recompute` (packed-argmin broadcast assignment, DECIMAL(28,6)-exact
  * means). Fixed `iters` supersteps with no data-dependent early exit,
  * so the whole pipeline unrolls into one chained-CTE DuckDB twin and
  * is hash-exact end to end (weights are ±1 sums — exact doubles; the
  * argmin packing and decimal mean replay bit-for-bit, proven by the
  * kmeansnd_* oracles).
  *
  * 100 TB posture: the oracle-checkable declarative loop keeps the
  * doc-vector relation distributed — per superstep one broadcast of k
  * dense centroids onto the scan and one groupBy(id) argmin shuffle of
  * the k-exploded relation; the fit supersteps run on `KMeansND.fit`
  * instead, the 2-D fit loop's kernel (one shuffle-free job per
  * superstep over the cached vectors) — same math, same result, pinned
  * equal to the declarative assign → recompute chain in KMeansNDSpec.
  */
object TopicCluster {

  /** (id, vec): dense `array<double>` hashed-tf vector per document.
    * Sparse (doc, idx, weight) rows from hashedFeatures are assembled
    * via map + zero-filled index walk — one extra doc-keyed aggregate,
    * no (docs × dim) grid join. */
  def denseFeatures(docs: DataFrame, dim: Int = 64,
      seed: Int = 42): DataFrame = {
    val feats = TextOps.hashedFeatures(docs, dim, seed)
    val m = col("m")
    feats
      .groupBy(col("doc_id").as("id"))
      .agg(map_from_entries(collect_list(
        struct(col("feature_idx"), col("weight").cast("double")))).as("m"))
      .select(col("id"),
        transform(sequence(lit(0L), lit(dim - 1L)),
          i => coalesce(element_at(m, i), lit(0.0))).as("vec"))
  }

  /** (id, cid, sqdist) after `iters` full Lloyd supersteps (assign →
    * mean recompute) from the k lowest-doc_id seed vectors, plus the
    * final assignment's squared distance (the per-doc "how central is
    * this doc in its topic" score curation ranks on). */
  def cluster(docs: DataFrame, dim: Int = 64, k: Int = 8,
      iters: Int = 3, seed: Int = 42): DataFrame = {
    // materialize the feature pipeline ONCE — the un-checkpointed loop
    // re-ran tokenize→hash→assemble per superstep AND for the final
    // assignment (measured 38 s → ~13 s at sf1 for the 4-query family)
    val vecs = denseFeatures(docs, dim, seed).localCheckpoint(true)
    // k-row driver collect (the one allowed collect class: centroid
    // seeds) — keeps the plan free of a global Window over the vecs
    val init = KMeansND.initFromLowestIds(vecs, k)
    // the supersteps run on the kernel fit loop (one shuffle-free job
    // per superstep) — pinned bit-equal to the declarative
    // assign→recompute chain in KMeansNDSpec, so the oracle hash is
    // unchanged; the returned relation keeps the declarative assign
    // (id, cid, sqdist) shape the oracle checks
    val cents =
      if (iters <= 1) init
      else KMeansND.fit(vecs, init, iters - 1, tol = 0.0,
        convergence = false)._1
    KMeansND.assign(vecs,
      graft.Tables.centsNDDF(docs.sparkSession, cents))
  }

  def denseFeaturesSql(dim: Int = 64, seed: Int = 42): String =
    s"""SELECT doc_id AS id,
       |  list_transform(generate_series(0, ${dim - 1}),
       |    i -> coalesce(list_extract(map_extract(m, i), 1), CAST(0.0 AS DOUBLE))) AS vec
       |FROM (
       |  SELECT doc_id,
       |    map(list(feature_idx ORDER BY feature_idx),
       |        list(CAST(weight AS DOUBLE) ORDER BY feature_idx)) AS m
       |  FROM (${TextOps.hashedFeaturesSql(dim, seed)}) hf
       |  GROUP BY doc_id) g""".stripMargin

  /** Chained-CTE twin of `cluster`: seeds from the k lowest ids, then
    * `iters - 1` Lloyd steps (`KMeansND.lloydStepsSql`) + the final
    * assignment. */
  def clusterSql(dim: Int = 64, k: Int = 8, iters: Int = 3,
      seed: Int = 42): String = {
    val steps =
      if (iters > 1) ", " + KMeansND.lloydStepsSql(iters - 1, "vecs", "a", "cents") else ""
    s"""WITH vecs AS (${denseFeaturesSql(dim, seed)}),
       |cents0 AS (${KMeansND.lowestIdsSql("vecs", k)})$steps
       |${KMeansND.assignSql("vecs", s"cents${math.max(iters - 1, 0)}")}""".stripMargin
  }

  /** Adjusted Rand Index (Hubert & Arabie 1985) between the topic
    * clustering and the gold `lang` labels — the "did the unsupervised
    * topics rediscover real structure?" external-validation number
    * (chance-corrected: 0 for a random partition, 1 for a perfect
    * match, negative for worse-than-chance). Computed entirely on
    * integers: with S_x = Σ n(n−1) over cells / cluster sizes / label
    * sizes / the total, ARI = 2·(S_n·S_ij − S_a·S_b) /
    * (S_n·(S_a+S_b) − 2·S_a·S_b) — one double division at the very
    * end, NULL on the degenerate zero denominator. Products run in
    * DECIMAL(38,0)/HUGEINT (exact to ~3e9 docs; past that the 128-bit
    * headroom, not the algorithm, is the bound). The contingency table
    * is (k × |langs|)-sized — nothing data-sized past the one
    * cluster⋈label count agg. */
  def clusterAri(docs: DataFrame, dim: Int = 64, k: Int = 8,
      iters: Int = 3, seed: Int = 42): DataFrame =
    ariOf(
      cluster(docs, dim, k, iters, seed).select(col("id").as("doc_id"), col("cid")),
      docs.select(col("doc_id"), col("lang")))

  /** The ARI core over explicit (doc_id, cid) vs (doc_id, lang)
    * partitions — unit-testable against hand-computed tables. */
  def ariOf(assign: DataFrame, labels: DataFrame): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def s2(c: Column) = sum(c.cast(Dec) * (c.cast(Dec) - 1))
    val ct = assign
      .join(labels, "doc_id")
      .groupBy("cid", "lang").agg(count(lit(1)).as("nij"))
      .localCheckpoint(true)
    val sij = ct.agg(s2(col("nij")).as("sij"))
    val sa = ct.groupBy("cid").agg(sum("nij").as("a"))
      .agg(s2(col("a")).as("sa"), count(lit(1)).as("n_clusters"))
    val sb = ct.groupBy("lang").agg(sum("nij").as("b"))
      .agg(s2(col("b")).as("sb"), count(lit(1)).as("n_labels"))
    val nt = ct.agg(sum("nij").as("n"))
    nt.crossJoin(sij).crossJoin(sa).crossJoin(sb)
      .select(col("n").as("n_docs"), col("n_clusters"), col("n_labels"),
        {
          val sn = col("n").cast(Dec) * (col("n").cast(Dec) - 1)
          val num = lit(2).cast(Dec) * (sn * col("sij") - col("sa") * col("sb"))
          val den = sn * (col("sa") + col("sb")) -
            lit(2).cast(Dec) * col("sa") * col("sb")
          when(den === 0, lit(null).cast("double"))
            .otherwise(num.cast("double") / den.cast("double")).as("ari")
        })
  }

  /** Normalized Mutual Information companion to [[clusterAri]] —
    * NMI = 2·I(C;L)/(H(C)+H(L)), the information-theoretic agreement
    * score (1 = partitions determine each other, 0 = independent; NOT
    * chance-corrected, which is why it is read WITH the ARI, never
    * instead of it). Exactness: n·I = Σ n_ij·(ln n + ln n_ij − ln a_i
    * − ln b_j) and n·H = Σ a·(ln n − ln a) decompose into portable
    * logs of SINGLE integers; each cell term snaps to the 1e-12 grid
    * and sums as exact integers, one double division at the end.
    * NULL when H(C)+H(L) = 0 (both partitions degenerate). */
  def clusterNmi(docs: DataFrame, dim: Int = 64, k: Int = 8,
      iters: Int = 3, seed: Int = 42): DataFrame =
    nmiOf(
      cluster(docs, dim, k, iters, seed).select(col("id").as("doc_id"), col("cid")),
      docs.select(col("doc_id"), col("lang")))

  def nmiOf(assign: DataFrame, labels: DataFrame): DataFrame = {
    import graft.functions.PortableMath.plog
    val Grid = 1.0e12
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val ct = assign.join(labels, "doc_id")
      .groupBy("cid", "lang").agg(count(lit(1)).as("nij"))
      .localCheckpoint(true)
    val arow = ct.groupBy("cid").agg(sum("nij").as("a"))
    val brow = ct.groupBy("lang").agg(sum("nij").as("b"))
    val nt = ct.agg(sum("nij").as("n"))
    def hTerm(c: Column, n: Column) =
      sum(round(c.cast("double") * (plog(n.cast("double"))
        - plog(c.cast("double"))) * Grid).cast(Dec))
    val ha = arow.crossJoin(broadcast(nt)).agg(hTerm(col("a"), col("n")).as("ha"))
    val hb = brow.crossJoin(broadcast(nt)).agg(hTerm(col("b"), col("n")).as("hb"))
    val mi = ct
      .join(broadcast(arow), "cid").join(broadcast(brow), "lang")
      .crossJoin(broadcast(nt))
      .agg(sum(round(col("nij").cast("double")
        * (plog(col("n").cast("double")) + plog(col("nij").cast("double"))
          - plog(col("a").cast("double")) - plog(col("b").cast("double")))
        * Grid).cast(Dec)).as("mi"))
    nt.crossJoin(mi).crossJoin(ha).crossJoin(hb)
      .select(col("n").as("n_docs"),
        when(col("ha") + col("hb") === 0, lit(null).cast("double"))
          .otherwise((lit(2).cast(Dec) * col("mi")).cast("double")
            / (col("ha") + col("hb")).cast("double")).as("nmi"))
  }

  def clusterNmiSql(dim: Int = 64, k: Int = 8, iters: Int = 3,
      seed: Int = 42): String = {
    import graft.functions.PortableMath.plogSql
    def pl(x: String) = s"(${plogSql(s"CAST($x AS DOUBLE)")})"
    s"""WITH asg AS (
       |  SELECT id, cid
       |  FROM (${OracleCtes.materialize(clusterSql(dim, k, iters, seed))}) c),
       |ct AS (
       |  SELECT a.cid, d.lang, COUNT(*) AS nij
       |  FROM asg a JOIN documents d ON a.id = d.doc_id
       |  GROUP BY a.cid, d.lang),
       |arow AS (SELECT cid, SUM(nij) AS a FROM ct GROUP BY cid),
       |brow AS (SELECT lang, SUM(nij) AS b FROM ct GROUP BY lang),
       |nt AS (SELECT CAST(SUM(nij) AS BIGINT) AS n FROM ct),
       |ha AS (SELECT SUM(CAST(ROUND(CAST(a AS DOUBLE)
       |    * (${pl("n")} - ${pl("a")}) * 1000000000000.0) AS BIGINT)) AS ha
       |  FROM arow, nt),
       |hb AS (SELECT SUM(CAST(ROUND(CAST(b AS DOUBLE)
       |    * (${pl("n")} - ${pl("b")}) * 1000000000000.0) AS BIGINT)) AS hb
       |  FROM brow, nt),
       |mi AS (SELECT SUM(CAST(ROUND(CAST(nij AS DOUBLE)
       |    * (${pl("n")} + ${pl("nij")} - ${pl("a")} - ${pl("b")})
       |    * 1000000000000.0) AS BIGINT)) AS mi
       |  FROM ct JOIN arow USING (cid) JOIN brow USING (lang), nt)
       |SELECT n AS n_docs,
       |  CASE WHEN ha + hb = 0 THEN NULL
       |    ELSE CAST(2 * CAST(mi AS HUGEINT) AS DOUBLE)
       |      / CAST(ha + hb AS DOUBLE)
       |  END AS nmi
       |FROM nt, mi, ha, hb""".stripMargin
  }

  /** c-TF-IDF cluster keywords (Grootendorst 2022, "BERTopic", §2.3 —
    * the class-based TF-IDF that names a topic cluster): treat each
    * cluster as ONE concatenated document, score term t in cluster c as
    *
    *   tf(t,c) · ln(1 + A / f(t)),   A = total tokens / #clusters,
    *
    * and keep the top-`topK` terms per cluster — the human-readable
    * label for every topic the curation pipeline stratifies on (read
    * next to `docs_cluster_ari`/`_nmi`: those say the clusters are
    * real, this says what they ARE).
    *
    * Exactness: tf, f(t) and the token total are exact integers;
    * A/f(t) → 1+ → portable ln → ·tf is the identical IEEE op sequence
    * in both engines (PortableMath.plog, arg ≥ 1 by construction).
    * Ranking ties break on the term string, so order is total.
    *
    * Shape: the (cid, term) count is ONE token-keyed aggregate over the
    * exploded tokens (map-side partials collapse repeats), the term
    * totals reuse that same relation, and the per-cluster top-k is the
    * bounded-heap TopKPerKey operator — never a global sort. At 100 TB
    * the (cid, term) space is k·vocab-sized, already far below the
    * corpus. */
  def clusterTerms(docs: DataFrame, dim: Int = 64, k: Int = 8,
      iters: Int = 3, seed: Int = 42, topK: Int = 10): DataFrame = {
    import graft.functions.PortableMath.plog
    val asg = cluster(docs, dim, k, iters, seed)
      .select(col("id").as("doc_id"), col("cid"))
    val ct = TextOps.explodedTokens(docs, "term", col("doc_id"))
      .join(asg, "doc_id")
      .groupBy("cid", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true) // read 3× below: per-term totals, the token
                             // total, and the scored relation itself
    val ft = ct.groupBy("term").agg(sum("tf").as("ft"))
    val tot = ct.agg(sum("tf").as("total"),
      countDistinct("cid").as("ncls"))
    val scored = ct.join(ft, "term").crossJoin(broadcast(tot))
      .select(col("cid"), col("term"), col("tf"),
        (col("tf").cast("double") *
          plog(lit(1.0) + col("total").cast("double") / col("ncls")
            / col("ft"))).as("score"))
    org.apache.spark.sql.graft.TopKPerKey(
        scored, Seq("cid"), Seq(("score", false), ("term", true)), topK,
        rankCol = Some("rank"))
      .select(col("cid"), col("rank"), col("term"), col("tf"), col("score"))
  }

  def clusterTermsSql(dim: Int = 64, k: Int = 8, iters: Int = 3,
      seed: Int = 42, topK: Int = 10): String = {
    import graft.functions.PortableMath.plogSql
    s"""WITH asg AS (
       |  SELECT id AS doc_id, cid
       |  FROM (${OracleCtes.materialize(clusterSql(dim, k, iters, seed))}) c),
       |toks AS (
       |  SELECT doc_id, unnest(${TextOps.tokensSql}) AS term
       |  FROM documents),
       |ct AS (
       |  SELECT a.cid, t.term, COUNT(*) AS tf
       |  FROM toks t JOIN asg a ON t.doc_id = a.doc_id
       |  GROUP BY a.cid, t.term),
       |ft AS (SELECT term, SUM(tf) AS ft FROM ct GROUP BY term),
       |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS total,
       |  CAST(COUNT(DISTINCT cid) AS BIGINT) AS ncls FROM ct),
       |scored AS (
       |  SELECT ct.cid, ct.term, CAST(ct.tf AS BIGINT) AS tf,
       |    CAST(ct.tf AS DOUBLE) * (${plogSql(
              "1.0e0 + CAST(total AS DOUBLE) / ncls / ft")}) AS score
       |  FROM ct JOIN ft ON ct.term = ft.term, tot)
       |SELECT cid, rank, term, tf, score FROM (
       |  SELECT cid, term, tf, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY cid
       |      ORDER BY score DESC, term ASC) AS BIGINT) AS rank
       |  FROM scored) r
       |WHERE rank <= $topK""".stripMargin
  }

  def clusterAriSql(dim: Int = 64, k: Int = 8, iters: Int = 3,
      seed: Int = 42): String =
    s"""WITH asg AS (
       |  SELECT id, cid
       |  FROM (${OracleCtes.materialize(clusterSql(dim, k, iters, seed))}) c),
       |ct AS (
       |  SELECT a.cid, d.lang, COUNT(*) AS nij
       |  FROM asg a JOIN documents d ON a.id = d.doc_id
       |  GROUP BY a.cid, d.lang),
       |sij AS (SELECT SUM(CAST(nij AS HUGEINT) * (nij - 1)) AS sij FROM ct),
       |sa AS (SELECT SUM(CAST(a AS HUGEINT) * (a - 1)) AS sa,
       |    COUNT(*) AS n_clusters
       |  FROM (SELECT cid, SUM(nij) AS a FROM ct GROUP BY cid) t),
       |sb AS (SELECT SUM(CAST(b AS HUGEINT) * (b - 1)) AS sb,
       |    COUNT(*) AS n_labels
       |  FROM (SELECT lang, SUM(nij) AS b FROM ct GROUP BY lang) t),
       |nt AS (SELECT CAST(SUM(nij) AS BIGINT) AS n FROM ct)
       |SELECT n AS n_docs, n_clusters, n_labels,
       |  CASE WHEN CAST(n AS HUGEINT) * (n - 1) * (sa + sb)
       |      - 2 * sa * sb = 0 THEN NULL
       |    ELSE CAST(2 * (CAST(n AS HUGEINT) * (n - 1) * sij - sa * sb)
       |        AS DOUBLE)
       |      / CAST(CAST(n AS HUGEINT) * (n - 1) * (sa + sb)
       |        - 2 * sa * sb AS DOUBLE)
       |  END AS ari
       |FROM nt, sij, sa, sb""".stripMargin
}
