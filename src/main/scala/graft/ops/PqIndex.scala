package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kmeans.KMeansND
import graft.kmeans.KMeansND.CentND

/** Product quantization (Jégou et al. 2011) — the compressed-domain ANN
  * companion to [[IvfIndex]]: split the d-dim vector into `m` subspaces,
  * k-means each subspace into `nlist` codewords, store each vector as m
  * small codes (d·4 bytes → m bytes at nlist ≤ 256), and answer queries
  * by asymmetric distance (ADC): the query stays exact, each database
  * vector is approximated by its per-subspace codewords, and the
  * approximate squared distance is the fixed-order sum of per-subspace
  * codeword distances.
  *
  * 100 TB posture: the codebooks are m·nlist·(d/m) doubles — driver
  * sized at any corpus scale; encoding is m broadcast-argmin aggregates
  * sharing the id partitioning; a query rescore touches only the m-byte
  * codes (the raw vectors never reload), and the final top-k is
  * TakeOrderedAndProject. The registered `pq_topk` uses fixed-iteration
  * codebook training (`convergence = false`), which makes the ENTIRE
  * train→encode→ADC→top-k pipeline DuckDB-unrollable — the same recipe
  * that put `ivf_topk` under the hash-exact oracle gate.
  */
object PqIndex {

  case class Codebooks(m: Int, subDim: Int, books: Seq[Seq[CentND]])

  private def subVec(s: Int, subDim: Int) =
    slice(col("vec"), s * subDim + 1, subDim)

  /** Train per-subspace codebooks with exactly `maxIter` Lloyd steps
    * from the `nlist` lowest-id sub-vectors (deterministic, unrollable).
    *
    * The m subspace fits are independent (each its own init, argmins
    * and decimal-exact means), so they run in lockstep as one fit of m
    * centroid sets ([[KMeansND.fitSets]]): one init query for the
    * lowest-id full vectors, sliced into the m initial codebooks, then
    * one job per iteration over the vectors, cached once, that fills
    * the m·nlist slots. The codebooks are those of m separate fits over
    * the sliced vectors. */
  def train(vecs: DataFrame, m: Int, nlist: Int, maxIter: Int): Codebooks = {
    val init = KMeansND.initFromLowestIds(vecs, nlist)
    // a null vector stays null, for the fit to reject by its cid
    val dim = init.headOption.flatMap(c => Option(c.vec)).fold(0)(_.length)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val books = KMeansND.fitSets(vecs, (0 until m).map(s => init.map(c =>
        c.copy(vec = Option(c.vec).map(_.slice(s * subDim, (s + 1) * subDim)).orNull))),
      maxIter, tol = 0.0, convergence = false)._1
    Codebooks(m, subDim, books)
  }

  /** Encode: per subspace, nearest-codeword id — m broadcast argmin
    * assignments joined back on id → (id, code0 … code{m-1}). */
  def encode(vecs: DataFrame, cb: Codebooks): DataFrame = {
    val spark = vecs.sparkSession
    (0 until cb.m).foldLeft(vecs.select("id")) { (acc, s) =>
      val sub = vecs.select(col("id"), subVec(s, cb.subDim).as("vec"))
      val codes = KMeansND.assign(sub, graft.Tables.centsNDDF(spark, cb.books(s)))
        .select(col("id"), col("cid").as(s"code$s"))
      acc.join(codes, "id")
    }
  }

  /** ADC top-k: query = the `queryId` vector (kept exact, in-plan); the
    * per-subspace codeword distances come from broadcast codebook joins
    * and the total folds in a fixed left-to-right order (bit-stable). */
  def pqTopK(embs: DataFrame, m: Int = 4, nlist: Int = 16, maxIter: Int = 3,
      queryId: Long = 0L, k: Int = 10): DataFrame = {
    val spark = embs.sparkSession
    val vecs = IvfIndex.vectors(embs)
    val cb = train(vecs, m, nlist, maxIter)
    val codes = encode(vecs, cb)
    val q = vecs.filter(col("id") === queryId).select(col("vec").as("qvec"))
    val scored = (0 until cb.m).foldLeft(codes.crossJoin(broadcast(q))) {
      (acc, s) =>
        val book = graft.Tables.centsNDDF(spark, cb.books(s))
          .select(col("cid").as(s"code$s"), col("cvec").as(s"cvec$s"))
        acc.join(broadcast(book), s"code$s")
          .withColumn(s"adc$s", KMeansND.sqDistND(
            slice(col("qvec"), s * cb.subDim + 1, cb.subDim), col(s"cvec$s")))
    }
    val total = (0 until cb.m).map(s => col(s"adc$s")).reduceLeft(_ + _)
    scored.select(col("id"), total.as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("id").asc)
      .limit(k)
  }

  /** PQ + REFINE (r16, VERDICT r15 item 1 — the registered `pq_topk`
    * was pure ADC at m=4/nlist=16 and retrieved 0/10 of the true L2
    * top-10 at sf0.1): the ADC shortlist of k·kFactor candidates is
    * exact-rescored against the RAW vectors before the final top-k —
    * the same FAISS IndexRefineFlat pattern that took the IVFADC twin
    * from 0.2 to 1.0 recall. The refine reads only the shortlist's raw
    * vectors (a k·kFactor-id pushed-filter lookup, not a corpus pass),
    * so the at-scale cost story is unchanged: ADC over m-byte codes +
    * a constant-size exact rescore. */
  def pqTopKRefined(embs: DataFrame, m: Int = 4, nlist: Int = 16,
      maxIter: Int = 3, queryId: Long = 0L, k: Int = 10,
      kFactor: Int = 50): DataFrame = {
    val vecs = IvfIndex.vectors(embs)
    val short = pqTopK(embs, m, nlist, maxIter, queryId, k * kFactor)
      .select("id")
    val q = vecs.filter(col("id") === queryId).select(col("vec").as("qvec"))
    vecs.join(short, "id").crossJoin(broadcast(q))
      .select(col("id"), KMeansND.sqDistND(col("vec"), col("qvec")).as("dist"))
      .orderBy(col("dist").asc, col("id").asc)
      .limit(k)
  }

  /** DuckDB twin of [[pqTopKRefined]]: the full [[pqTopKSql]] train→
    * encode→ADC pipeline at k·kFactor as the shortlist CTE, then the
    * identical exact-L2 rescore + (dist, id) top-k tail as
    * [[ivfPqTopKRefinedSql]]. */
  def pqTopKRefinedSql(m: Int = 4, nlist: Int = 16, maxIter: Int = 3,
      queryId: Long = 0L, k: Int = 10, kFactor: Int = 50,
      dim: Int = 64): String = {
    val short = pqTopKSql(m, nlist, maxIter, queryId, k * kFactor, dim)
    s"""WITH short AS MATERIALIZED ($short)
       |SELECT p.id,
       |  ${KMeansND.sqDistSql("p.vec", "q.vec")} AS dist
       |FROM (WITH ptsnd AS (SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |    FROM embeddings) SELECT * FROM ptsnd) p
       |JOIN short s ON p.id = s.id
       |CROSS JOIN (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings WHERE vec_id = $queryId) q
       |ORDER BY dist ASC, p.id ASC LIMIT $k""".stripMargin
  }

  /** Persist the PQ index: the m-byte-per-vector codes table (the only
    * thing a query rescore ever reads — the raw vectors stay cold) and
    * the driver-sized codebooks beside it. At 100 TB the codes table is
    * ~m/(4·d) of the vector data (1/64 here) — the whole point of PQ. */
  def writeIndex(vecs: DataFrame, cb: Codebooks, path: String): Unit = {
    encode(vecs, cb).write.mode("overwrite").parquet(s"$path/codes")
    val spark = vecs.sparkSession
    import spark.implicits._
    cb.books.zipWithIndex
      .flatMap { case (book, s) => book.map(c => (s, c.cid, c.vec)) }
      .toDF("subspace", "cid", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/books")
  }

  def readCodebooks(spark: SparkSession, path: String): Codebooks = {
    val rows = spark.read.parquet(s"$path/books").collect()
    val books = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map {
      case (_, rs) =>
        rs.sortBy(_.getInt(1)).map(r => CentND(r.getInt(1), r.getSeq[Double](2))).toSeq
    }
    Codebooks(books.length, books.head.head.vec.length, books)
  }

  /** ADC top-k over a persisted index: reads ONLY the codes table.
    * Same arithmetic as [[pqTopK]]'s tail, so a fixed-iteration build's
    * probe shares pqTopKSql as its oracle (the parquet round-trip is
    * exact for ints and doubles). */
  def searchIndex(spark: SparkSession, path: String, query: Seq[Double],
      k: Int = 10): DataFrame = {
    val cb = readCodebooks(spark, path)
    val codes = spark.read.parquet(s"$path/codes")
    val qvec = array(query.map(lit): _*)
    val scored = (0 until cb.m).foldLeft(codes) { (acc, s) =>
      val book = graft.Tables.centsNDDF(spark, cb.books(s))
        .select(col("cid").as(s"code$s"), col("cvec").as(s"cvec$s"))
      acc.join(broadcast(book), s"code$s")
        .withColumn(s"adc$s", KMeansND.sqDistND(
          slice(qvec, s * cb.subDim + 1, cb.subDim), col(s"cvec$s")))
    }
    val total = (0 until cb.m).map(s => col(s"adc$s")).reduceLeft(_ + _)
    scored.select(col("id"), total.as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("id").asc)
      .limit(k)
  }

  // -------------------------------------------------------------------
  // IVFADC — the composed production ANN (Jégou et al. 2011 §IV):
  // coarse inverted lists prune the corpus to nprobe/nlistC, and PQ
  // codes trained on RESIDUALS (vec − coarse centroid) answer the
  // asymmetric distance inside the probed lists. Residual encoding is
  // what makes the composition better than either part alone: the
  // codebooks only have to cover the within-list displacement, not the
  // whole space.
  //
  // 100 TB posture: a query touches nprobe/nlistC of the CODES table
  // (m bytes/vector, list_id-partition-pruned when persisted) — the
  // raw vectors are read exactly once, at build. Every arithmetic step
  // is the fixed-iteration deterministic machinery already under the
  // oracle gate, so the full build→encode→probe→ADC pipeline unrolls
  // into DuckDB CTEs ([[ivfPqTopKSql]]).
  // -------------------------------------------------------------------

  private def residuals(vecs: DataFrame, lists: DataFrame,
      coarseDF: DataFrame): DataFrame =
    vecs.join(lists, "id")
      .join(broadcast(coarseDF), "list_id")
      .select(col("id"), col("list_id"),
        zip_with(col("vec"), col("cvec"), (a, b) => a - b).as("vec"))

  /** Rank coarse lists against the query driver-side (nlistC·dim flops,
    * same left-to-right fold + (dist, cid) tie-break as the SQL twin). */
  private def probeLists(coarse: Seq[CentND], q: Seq[Double],
      nprobe: Int): Seq[Int] = {
    val qa = q.toArray
    coarse.map { c =>
      var d = 0.0; var i = 0
      while (i < qa.length) { val dx = qa(i) - c.vec(i); d += dx * dx; i += 1 }
      (c.cid, d)
    }.sortBy { case (cid, d) => (d, cid) }.take(nprobe).map(_._1)
  }

  /** ADC over the probed candidates: each candidate's residual is
    * approximated by its per-subspace codewords; the query side is the
    * exact per-list residual q − c_list (broadcast, one row per probed
    * list). Fixed left-to-right subspace fold, (dist, id) tie-break. */
  private def adcScore(spark: SparkSession, cand: DataFrame, cb: Codebooks,
      k: Int): DataFrame = {
    val scored = (0 until cb.m).foldLeft(cand) { (acc, s) =>
      val book = graft.Tables.centsNDDF(spark, cb.books(s))
        .select(col("cid").as(s"code$s"), col("cvec").as(s"cvec$s"))
      acc.join(broadcast(book), s"code$s")
        .withColumn(s"adc$s", KMeansND.sqDistND(
          slice(col("qres"), s * cb.subDim + 1, cb.subDim), col(s"cvec$s")))
    }
    val total = (0 until cb.m).map(s => col(s"adc$s")).reduceLeft(_ + _)
    scored.select(col("id"), col("list_id"), total.as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("id").asc)
      .limit(k)
  }

  /** Full IVFADC search in one plan: fixed-iteration coarse quantizer,
    * residual PQ codebooks, probe the `nprobe` nearest lists, ADC
    * top-k. Deterministic end to end → oracle-checked by
    * [[ivfPqTopKSql]]. */
  def ivfPqTopK(embs: DataFrame, nlistC: Int = 8, maxIterC: Int = 3,
      m: Int = 4, nlist: Int = 16, maxIter: Int = 3,
      queryId: Long = 0L, k: Int = 10, nprobe: Int = 2): DataFrame = {
    val spark = embs.sparkSession
    val vecs = IvfIndex.vectors(embs)
    val coarse = KMeansND.fit(vecs,
      KMeansND.initFromLowestIds(vecs, nlistC), maxIterC, tol = 0.0,
      convergence = false)._1
    val lists = KMeansND.assignKernel(vecs, coarse)
      .select(col("id"), col("cid").as("list_id"))
    val coarseDF = graft.Tables.centsNDDF(spark, coarse)
      .select(col("cid").as("list_id"), col("cvec"))
    // one eager materialization: the codebook fit, the encode branches
    // and the list join all read the SAME residual relation — without
    // this each consumer re-runs the scan+join
    val resid = residuals(vecs, lists, coarseDF).localCheckpoint(true)
    val cb = train(resid.select("id", "vec"), m, nlist, maxIter)
    val codes = encode(resid.select("id", "vec"), cb)
      .join(resid.select("id", "list_id"), "id")
    val q = vecs.filter(col("id") === queryId).head().getSeq[Double](1)
    val probed = probeLists(coarse, q, nprobe)
    val qCol = array(q.map(lit): _*)
    val qres = coarseDF.filter(col("list_id").isin(probed: _*))
      .select(col("list_id"),
        zip_with(qCol, col("cvec"), (a, b) => a - b).as("qres"))
    val cand = codes.filter(col("list_id").isin(probed: _*))
      .join(broadcast(qres), "list_id")
    adcScore(spark, cand, cb, k)
  }

  /** Persist the IVFADC index: codes partitioned by list_id (a probe is
    * a partition-pruned scan of nprobe/nlistC of the m-byte codes),
    * plus the driver-sized coarse centroids and codebooks beside it. */
  def writeIvfPqIndex(embs: DataFrame, nlistC: Int, maxIterC: Int,
      m: Int, nlist: Int, maxIter: Int, path: String): Unit = {
    val spark = embs.sparkSession
    import spark.implicits._
    val vecs = IvfIndex.vectors(embs)
    val coarse = KMeansND.fit(vecs,
      KMeansND.initFromLowestIds(vecs, nlistC), maxIterC, tol = 0.0,
      convergence = false)._1
    val lists = KMeansND.assignKernel(vecs, coarse)
      .select(col("id"), col("cid").as("list_id"))
    val coarseDF = graft.Tables.centsNDDF(spark, coarse)
      .select(col("cid").as("list_id"), col("cvec"))
    val resid = residuals(vecs, lists, coarseDF).localCheckpoint(true)
    val cb = train(resid.select("id", "vec"), m, nlist, maxIter)
    encode(resid.select("id", "vec"), cb)
      .join(resid.select("id", "list_id"), "id")
      .write.mode("overwrite").partitionBy("list_id").parquet(s"$path/codes")
    coarse.map(c => (c.cid, c.vec)).toDF("cid", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/coarse")
    cb.books.zipWithIndex
      .flatMap { case (book, s) => book.map(c => (s, c.cid, c.vec)) }
      .toDF("subspace", "cid", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/books")
  }

  /** Probe a persisted IVFADC index: reads ONLY the probed list_id
    * partitions of the codes table (the raw vectors stay cold). Parquet
    * round-trips doubles exactly, so [[ivfPqTopKSql]] is its oracle
    * too. */
  def searchIvfPqIndex(spark: SparkSession, path: String,
      query: Seq[Double], k: Int = 10, nprobe: Int = 2): DataFrame = {
    val coarse = spark.read.parquet(s"$path/coarse").collect()
      .map(r => CentND(r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_.cid)
    adcProbe(spark, path, coarse, query, k, nprobe)
  }

  private def adcProbe(spark: SparkSession, path: String,
      coarse: Seq[CentND], query: Seq[Double], k: Int,
      nprobe: Int): DataFrame = {
    val cb = {
      val rows = spark.read.parquet(s"$path/books").collect()
      val books = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map {
        case (_, rs) => rs.sortBy(_.getInt(1))
          .map(r => CentND(r.getInt(1), r.getSeq[Double](2))).toSeq
      }
      Codebooks(books.length, books.head.head.vec.length, books)
    }
    val probed = probeLists(coarse, query, nprobe)
    val qCol = array(query.map(lit): _*)
    import spark.implicits._
    val coarseDF = coarse.map(c => (c.cid, c.vec)).toDF("list_id", "cvec")
    val qres = coarseDF.filter(col("list_id").isin(probed: _*))
      .select(col("list_id"),
        zip_with(qCol, col("cvec"), (a, b) => a - b).as("qres"))
    val cand = spark.read.parquet(s"$path/codes")
      .filter(col("list_id").isin(probed: _*))
      .join(broadcast(qres), "list_id")
    adcScore(spark, cand, cb, k)
  }

  /** IVFADC + REFINE (the FAISS IndexRefineFlat pattern): the ADC
    * shortlist of k·kFactor candidates is exact-rescored against the
    * RAW vectors before the final top-k. ADC ranks within a tight
    * cluster are quantization noise once codeword error ~ neighbor
    * spacing — measured recall@10 vs exact L2 went 0.2 (pure ADC) →
    * 1.0 (refined, kFactor=4) on the AnnBench clustered fixture. The
    * refine reads only the shortlist's raw vectors: a k·kFactor-id
    * pushed-filter lookup, not a corpus pass. */
  def searchIvfPqRefined(spark: SparkSession, path: String,
      embs: DataFrame, query: Seq[Double], k: Int = 10,
      kFactor: Int = 4, nprobe: Int = 2): DataFrame = {
    val short = searchIvfPqIndex(spark, path, query, k * kFactor, nprobe)
      .collect().map(_.getLong(0))
    val qCol = array(query.map(lit): _*)
    IvfIndex.vectors(embs)
      .filter(col("id").isin(short.map(Long.box).toIndexedSeq: _*))
      .select(col("id"),
        KMeansND.sqDistND(col("vec"), qCol).as("dist"))
      .orderBy(col("dist").asc, col("id").asc)
      .limit(k)
  }

  /** In-plan refined variant for the oracle gate: same fixed-iteration
    * build as [[ivfPqTopK]], ADC shortlist of k·kFactor, exact-rescore
    * join back to the raw vectors, final (dist, id) top-k. */
  def ivfPqTopKRefined(embs: DataFrame, nlistC: Int = 8, maxIterC: Int = 3,
      m: Int = 4, nlist: Int = 16, maxIter: Int = 3, queryId: Long = 0L,
      k: Int = 10, nprobe: Int = 2, kFactor: Int = 4): DataFrame = {
    val vecs = IvfIndex.vectors(embs)
    val short = ivfPqTopK(embs, nlistC, maxIterC, m, nlist, maxIter,
      queryId, k * kFactor, nprobe).select("id")
    val q = vecs.filter(col("id") === queryId).select(col("vec").as("qvec"))
    vecs.join(short, "id").crossJoin(broadcast(q))
      .select(col("id"), KMeansND.sqDistND(col("vec"), col("qvec")).as("dist"))
      .orderBy(col("dist").asc, col("id").asc)
      .limit(k)
  }

  def ivfPqTopKRefinedSql(nlistC: Int = 8, maxIterC: Int = 3, m: Int = 4,
      nlist: Int = 16, maxIter: Int = 3, queryId: Long = 0L, k: Int = 10,
      nprobe: Int = 2, kFactor: Int = 4, dim: Int = 64): String = {
    val short = ivfPqTopKSql(nlistC, maxIterC, m, nlist, maxIter,
      queryId, k * kFactor, nprobe, dim)
    s"""WITH short AS MATERIALIZED ($short)
       |SELECT p.id,
       |  ${KMeansND.sqDistSql("p.vec", "q.vec")} AS dist
       |FROM (WITH ptsnd AS (SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |    FROM embeddings) SELECT * FROM ptsnd) p
       |JOIN short s ON p.id = s.id
       |CROSS JOIN (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings WHERE vec_id = $queryId) q
       |ORDER BY dist ASC, p.id ASC LIMIT $k""".stripMargin
  }

  /** DuckDB twin of the FULL IVFADC pipeline: coarse Lloyd chain →
    * lists → residuals (`list_transform` element subtraction — exact
    * IEEE, same as the Spark `zip_with`) → per-subspace residual
    * codebook chains → codes → probed lists → per-list query residual →
    * ADC fold. Requires the Spark side's fixed-iteration builds. */
  def ivfPqTopKSql(nlistC: Int = 8, maxIterC: Int = 3, m: Int = 4,
      nlist: Int = 16, maxIter: Int = 3, queryId: Long = 0L, k: Int = 10,
      nprobe: Int = 2, dim: Int = 64): String = {
    require(dim % m == 0)
    val subDim = dim / m
    val coarseSteps = KMeansND.lloydStepsSql(maxIterC, a = "cca", c = "cc")
    val ccFin = s"cc$maxIterC"
    val Adc(perSub, codeJoin, bookJoin, adc) = adcSql(m, subDim, "resid", nlist, maxIter, "r.qres")
    // lists/resid are AS MATERIALIZED: the four subspace chains each
    // reference resid, and default inlining would re-run the whole
    // coarse Lloyd chain once per subspace (measured 116 s → ~10 s at
    // sf0.01 in the driver's DuckDB)
    graft.Tables.withVecsCents(
      s""", cc0 AS (SELECT cid, cvec FROM centsnd), $coarseSteps,
         |lists AS MATERIALIZED (${KMeansND.assignSql("ptsnd", ccFin)}),
         |resid AS MATERIALIZED (SELECT p.id, l.cid AS list_id,
         |  list_transform(generate_series(1, len(p.vec)),
         |    i -> p.vec[i] - c.cvec[i]) AS vec
         |  FROM ptsnd p JOIN lists l ON p.id = l.id
         |  JOIN $ccFin c ON l.cid = c.cid),
         |$perSub,
         |q AS (SELECT vec FROM ptsnd WHERE id = $queryId),
         |probed AS (
         |  SELECT c.cid FROM $ccFin c CROSS JOIN q
         |  ORDER BY ${KMeansND.sqDistSql("c.cvec", "q.vec")}, c.cid
         |  LIMIT $nprobe),
         |qres AS (SELECT c.cid AS list_id,
         |  list_transform(generate_series(1, len(c.cvec)),
         |    i -> q.vec[i] - c.cvec[i]) AS qres
         |  FROM $ccFin c CROSS JOIN q
         |  WHERE c.cid IN (SELECT cid FROM probed))
         |SELECT codes0.id, l.cid AS list_id, $adc AS adc_dist
         |FROM codes0 $codeJoin
         |JOIN lists l ON codes0.id = l.id
         |JOIN qres r ON l.cid = r.list_id
         |$bookJoin
         |ORDER BY adc_dist ASC, codes0.id ASC LIMIT $k""".stripMargin,
      nlistC)
  }

  /** The pieces of an ADC query over `m` subspace codebooks, as
    * [[adcSql]] emits them. */
  private final case class Adc(ctes: String, codeJoin: String, bookJoin: String, dist: String)

  /** The ADC pieces over `from`'s vectors: per subspace s its
    * [[subspaceSql]] chain and `codes<s>` (each vector's code), the
    * joins from `codes0` to the other codes and of each code to its
    * codeword `b<s>`, and the distance: the left-to-right sum over the
    * subspaces of the squared distance from the s-th slice of `vec` (a
    * SQL list expression) to codeword `b<s>`. */
  private def adcSql(m: Int, subDim: Int, from: String, nlist: Int, maxIter: Int,
      vec: String): Adc = {
    val ctes = (0 until m).map { s =>
      s"${subspaceSql(s, subDim, from, nlist, maxIter)}, codes$s AS (SELECT id, cid AS code$s " +
        s"FROM (${KMeansND.assignSql(s"sub$s", s"s${s}c$maxIter")}) a)"
    }.mkString(", ")
    val codeJoin = (1 until m)
      .map(s => s"JOIN codes$s ON codes0.id = codes$s.id").mkString(" ")
    val bookJoin = (0 until m)
      .map(s => s"JOIN s${s}c$maxIter b$s ON codes$s.code$s = b$s.cid").mkString(" ")
    val dist = (0 until m)
      .map(s => KMeansND.sqDistSql(s"list_slice($vec, ${s * subDim + 1}, ${s * subDim + subDim})", s"b$s.cvec"))
      .reduceLeft((a, b) => s"($a + $b)")
    Adc(ctes, codeJoin, bookJoin, dist)
  }

  /** Subspace `s`'s CTEs over `from`'s vectors: `sub<s>`, their s-th
    * `subDim`-wide slice; `s<s>c0`, its `nlist` lowest-id slices (the
    * `train` init); and `maxIter` unrolled decimal-exact Lloyd steps up
    * to the codebook `s<s>c<maxIter>`. */
  private def subspaceSql(s: Int, subDim: Int, from: String, nlist: Int,
      maxIter: Int): String = {
    val sub = s"sub$s"
    s"$sub AS (SELECT id, list_slice(vec, ${s * subDim + 1}, ${s * subDim + subDim}) AS vec " +
      s"FROM $from), s${s}c0 AS (${KMeansND.lowestIdsSql(sub, nlist)}), " +
      KMeansND.lloydStepsSql(maxIter, sub, s"s${s}a", s"s${s}c")
  }

  /** Quantization-distortion report — the PQ fidelity dial read
    * together with `emb_ann_recall` before flipping a vector store to
    * codes: per subspace, the mean squared error between sub-vectors
    * and their assigned codewords, plus the `-1` total row (a vector's
    * full reconstruction error is the SUM of its per-subspace errors,
    * so the total MSE is Σ over the same exact grid sums). A hot
    * subspace (MSE ≫ its peers) tells you where the codebook budget —
    * more centroids, or an OPQ-style rotation — should go. Grid-exact:
    * per-row d² snaps to the 1e-12 grid, DECIMAL(38,0)/HUGEINT sums,
    * one double conversion per output row. */
  def pqDistortion(embs: DataFrame, m: Int = 4, nlist: Int = 16,
      maxIter: Int = 3): DataFrame = {
    val spark = embs.sparkSession
    val Grid = 1.0e12
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val vecs = IvfIndex.vectors(embs)
    val cb = train(vecs, m, nlist, maxIter)
    val rows = (0 until cb.m).map { s =>
      val sub = vecs.select(col("id"), subVec(s, cb.subDim).as("vec"))
      val book = graft.Tables.centsNDDF(spark, cb.books(s))
      // assign already carries the winning d² (packed-argmin recovery)
      KMeansND.assign(sub, book)
        .select(lit(s.toLong).as("subspace"),
          round(col("sqdist") * Grid).cast("long").as("g"))
    }.reduce(_ unionAll _)
    val per = rows.groupBy("subspace").agg(
      count(lit(1)).as("n"), sum(col("g").cast(Dec)).as("sg"))
    val total = per.agg(
        min("n").as("n"), sum("sg").as("sg"))
      .select(lit(-1L).as("subspace"), col("n"), col("sg"))
    per.select(col("subspace"), col("n"), col("sg"))
      .unionAll(total)
      .select(col("subspace"), col("n"),
        (col("sg").cast("double") / (col("n").cast("double") * Grid))
          .as("mse"))
  }

  def pqDistortionSql(m: Int = 4, nlist: Int = 16, maxIter: Int = 3,
      dim: Int = 64): String = {
    require(dim % m == 0)
    val subDim = dim / m
    val perSub = (0 until m).map { s =>
      s"""${subspaceSql(s, subDim, "ptsnd", nlist, maxIter)}, dist$s AS (
         |  SELECT CAST($s AS BIGINT) AS subspace,
         |    CAST(ROUND(sqdist * 1000000000000.0) AS BIGINT) AS g
         |  FROM (${KMeansND.assignSql(s"sub$s", s"s${s}c$maxIter")}) a)""".stripMargin
    }.mkString(", ")
    val unionAllDist = (0 until m)
      .map(s => s"SELECT subspace, g FROM dist$s")
      .mkString("\n  UNION ALL ")
    graft.Tables.withVecsCents(
      s""", $perSub,
         |rows AS (
         |  $unionAllDist),
         |per AS (SELECT subspace, COUNT(*) AS n, SUM(g) AS sg
         |  FROM rows GROUP BY subspace),
         |tot AS (SELECT CAST(-1 AS BIGINT) AS subspace,
         |  MIN(n) AS n, SUM(sg) AS sg FROM per)
         |SELECT subspace, CAST(n AS BIGINT) AS n,
         |  CAST(sg AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000000.0) AS mse
         |FROM (SELECT * FROM per UNION ALL SELECT * FROM tot) u"""
        .stripMargin,
      nlist)
  }

  /** DuckDB twin of [[pqTopK]]: per subspace, the sliced relation,
    * `maxIter` unrolled decimal-exact Lloyd steps, final code assignment;
    * then the ADC join with the identical left-to-right subspace fold. */
  def pqTopKSql(m: Int = 4, nlist: Int = 16, maxIter: Int = 3,
      queryId: Long = 0L, k: Int = 10, dim: Int = 64): String = {
    require(dim % m == 0)
    val subDim = dim / m
    val Adc(perSub, codeJoin, bookJoin, adc) = adcSql(m, subDim, "ptsnd", nlist, maxIter, "q.vec")
    graft.Tables.withVecsCents(
      s""", $perSub,
         |q AS (SELECT vec FROM ptsnd WHERE id = $queryId)
         |SELECT codes0.id, $adc AS adc_dist
         |FROM codes0 $codeJoin $bookJoin CROSS JOIN q
         |ORDER BY adc_dist ASC, codes0.id ASC LIMIT $k""".stripMargin,
      nlist)
  }
}
