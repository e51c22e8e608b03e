package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Similarity-search operators over the `embeddings` table
  * (vec_id: long, embedding: array<float>, label: int) — builder brief /
  * SURVEY.md §2.2.
  *
  * Determinism for the oracle-checked ops: every dot product / norm is a
  * LEFT-TO-RIGHT fold over the array (Spark `aggregate` with init 0.0;
  * DuckDB `list_reduce` over a 0.0-prepended list), so both engines
  * perform the identical IEEE addition sequence — bit-exact matches,
  * no decimal detour needed.
  *
  * 100 TB posture: brute-force top-k is the correctness baseline (one
  * scan, per-partition top-k, k rows to the driver); the scale path is
  * the seeded random-hyperplane LSH bucketing — candidates come from one
  * bucket join (O(n·tables) shuffle rows), never an all-pairs compare.
  */
object EmbeddingOps {

  /** Per-invocation job-group token for [[topkRecallReport]]'s
    * concurrent branches: two concurrent reports get distinct groups,
    * so one's failure cancels only its own jobs. */
  private val RecallSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Dot product of two array<double|float> columns via the native
    * codegen expression (graft.functions.VecDot) — same left-to-right
    * accumulation as the fold/list_reduce formulation, so bit-identical
    * results, but whole-stage-codegen'd instead of interpreted. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VecFunctions.vecDot(
      a.cast("array<double>"), b.cast("array<double>"))

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** DuckDB twin of `dot` for a column vs an inline SQL array expr. */
  private[ops] def dotSql(aExpr: String, bExpr: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  list_transform(generate_series(1, len($aExpr)),
       |    i -> CAST($aExpr[i] AS DOUBLE) * CAST($bExpr[i] AS DOUBLE))),
       |  (a, b) -> a + b)""".stripMargin

  /** Statically-unrolled twin of [[dotSql]] for a KNOWN dim: the exact
    * same left-to-right IEEE fold `((0.0 + a1·b1) + a2·b2) + …` written
    * as a plain expression tree instead of list_reduce lambdas. DuckDB
    * interprets the lambda per element (~1 ms per 64-dim dot measured
    * at sf0.1 — the r13 sf1 replay burned 460-880 s PER heavy oracle,
    * mostly in the 48-plane LSH bucket CTE); the unrolled form runs
    * vectorized, >40× faster, and produces bit-identical values. Only
    * sound when the array length is statically `dim` (the embeddings
    * fixture is fixed-width; callers pass their own dim parameter). */
  private[ops] def dotSqlN(aExpr: String, bExpr: String, dim: Int): String =
    (1 to dim).foldLeft("CAST(0.0 AS DOUBLE)") { (acc, i) =>
      s"($acc + CAST($aExpr[$i] AS DOUBLE) * CAST($bExpr[$i] AS DOUBLE))"
    }

  // -------------------------------------------------------------------
  // Per-vector L2 norms — pure projection, zero shuffle.
  // -------------------------------------------------------------------
  def norms(embs: DataFrame): DataFrame =
    embs.select(col("vec_id"), l2Norm(col("embedding")).as("l2_norm"))

  val normsSql: String =
    s"SELECT vec_id, SQRT(${dotSql("embedding", "embedding")}) AS l2_norm FROM embeddings"

  // -------------------------------------------------------------------
  // Brute-force cosine top-k to a fixed query vector (the vector of
  // `queryId`). Exact-baseline ANN: one scan computing cosine as a
  // projection, then orderBy(...).limit(k) — Catalyst compiles that to
  // TakeOrderedAndProject (per-partition top-k, k rows to the driver,
  // NO global sort / single-partition Window). Same rows and tie-break
  // as the SQL twin's ROW_NUMBER window, so the oracle hash matches.
  // -------------------------------------------------------------------
  def cosineTopK(embs: DataFrame, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val q = embs.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), l2Norm(col("embedding")).as("q_norm"))
    val scored = embs.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        (dot(col("embedding"), col("q_emb"))
          / (l2Norm(col("embedding")) * col("q_norm"))).as("cosine"))
    scored.orderBy(col("cosine").desc, col("vec_id").asc).limit(k)
  }

  def cosineTopKSql(queryId: Long = 0L, k: Int = 10): String =
    s"""WITH q AS (SELECT embedding AS q_emb,
       |  SQRT(${dotSql("embedding", "embedding")}) AS q_norm
       |  FROM embeddings WHERE vec_id = $queryId),
       |scored AS (
       |  SELECT e.vec_id,
       |    ${dotSql("e.embedding", "q.q_emb")}
       |      / (SQRT(${dotSql("e.embedding", "e.embedding")}) * q.q_norm) AS cosine
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> $queryId)
       |SELECT vec_id, cosine FROM (
       |  SELECT vec_id, cosine,
       |    ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS rn
       |  FROM scored) s WHERE rn <= $k""".stripMargin

  // -------------------------------------------------------------------
  // Seeded random-hyperplane LSH: `numBits` hyperplanes per table,
  // `numTables` independent tables. sign-bit signature = bucket id.
  // Hyperplanes are driver-generated (seeded Gaussian), shipped as
  // literal arrays inside the plan (k·d doubles — tiny), so bucketing
  // is a pure zero-shuffle projection.
  // -------------------------------------------------------------------
  def hyperplanes(dim: Int, numBits: Int, numTables: Int, seed: Long): Seq[Seq[Array[Double]]] = {
    val rnd = new Random(seed)
    Seq.fill(numTables)(Seq.fill(numBits)(Array.fill(dim)(rnd.nextGaussian())))
  }

  // -------------------------------------------------------------------
  // Data-dependent LSH width. A fixed numBits makes the bucket count a
  // CONSTANT, so expected candidate pairs grow QUADRATICALLY in corpus
  // size (SF10_SPOT: 2.84e9 candidate pairs at sf10 with 6 bits vs
  // 1.4e8 at 12). The production setting derives bits from one cheap
  // count so expected bucket occupancy stays ~AutoTargetBucket and
  // candidates grow LINEARLY (~n·bucket·tables):
  //
  //   bits(n) = minBits + |{ i ∈ [minBits, maxBits) : n > target·2^i }|
  //           = clamp(ceil(log2(n / target)), minBits, maxBits)
  //
  // computed as a pure-integer staircase (no FP log2 — exact at every
  // n, including powers of two, in both engines). Planes are ALWAYS
  // generated at AutoMaxBits width and prefix-sliced, so one fixed
  // plane-constant set serves every corpus size and the DuckDB twin can
  // inline it once and mask bits ≥ nb.bits dynamically from COUNT(*).
  // -------------------------------------------------------------------
  val AutoMinBits = 6
  val AutoMaxBits = 16
  val AutoTargetBucket = 16L

  def autoBits(n: Long): Int =
    AutoMinBits +
      (AutoMinBits until AutoMaxBits).count(i => n > (AutoTargetBucket << i))

  /** ceil(log2 n) for n ≥ 1 as a pure-integer staircase (no FP log —
    * exact at every n including powers of two, in both engines):
    * 1 + |{ i ∈ [1, 62) : n > 2^i }|. */
  def ceilLog2(n: Long): Int =
    1 + (1 until 62).count(i => n > (1L << i))

  private[ops] def ceilLog2Sql(countExpr: String): String = {
    val steps = (1 until 62).map(i =>
      s"(CASE WHEN $countExpr > ${1L << i} THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"(1 + $steps)"
  }

  /** `nb` CTE — the same integer staircase as [[autoBits]], evaluated
    * by the oracle from its own COUNT(*) so both engines derive the
    * width from the data, not from a baked-in constant. */
  private[ops] def autoBitsCteSql(table: String = "embeddings"): String = {
    val steps = (AutoMinBits until AutoMaxBits).map(i =>
      s"(CASE WHEN COUNT(*) > ${AutoTargetBucket << i} THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"nb AS (SELECT CAST($AutoMinBits + $steps AS INT) AS bits FROM $table)"
  }

  /** The data-dependent width's planes for `n` vectors: per table the
    * first autoBits(n) of the AutoMaxBits-wide seeded planes. */
  private[ops] def autoPlanes(
      n: Long, dim: Int, numTables: Int, seed: Long): Seq[Seq[Array[Double]]] =
    hyperplanes(dim, AutoMaxBits, numTables, seed).map(_.take(autoBits(n)))

  /** [[lshBuckets]] at the data-dependent width: one count, then the
    * [[autoPlanes]]. */
  def lshBucketsAuto(
      embs: DataFrame, dim: Int = 64, numTables: Int = 8,
      seed: Long = 42L): DataFrame =
    embs.select(
        col("vec_id"),
        posexplode(array(autoPlanes(embs.count(), dim, numTables, seed).map(planes =>
          bucketExpr(col("embedding"), planes)): _*)))
      .toDF("vec_id", "table", "bucket")

  private def bucketExpr(emb: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val lits = array(p.toIndexedSeq.map(lit): _*)
      when(dot(emb, lits) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** (vec_id, table, bucket) — the LSH index relation. All tables'
    * buckets are computed in ONE pass over the data (a single projection
    * + posexplode), not one scan per table. */
  def lshBuckets(
      embs: DataFrame, dim: Int = 64, numBits: Int = 8,
      numTables: Int = 4, seed: Long = 42L): DataFrame = {
    val tables = hyperplanes(dim, numBits, numTables, seed)
    embs.select(
        col("vec_id"),
        posexplode(array(tables.map(planes =>
          bucketExpr(col("embedding"), planes)): _*)))
      .toDF("vec_id", "table", "bucket")
  }

  /** Persist the LSH bucket index partitioned by (table, bucket) — the
    * staging-write alternative to the per-query `cache()`: build once,
    * probe many times, each probe a partition-pruned scan of the
    * numTables matching buckets. */
  /** Persist the LSH index partitioned by (table, bucket), CARRYING the
    * embedding: numTables copies of every vector — the classic LSH
    * space-for-time trade (IVF stores 1 copy; LSH multi-table recall
    * needs the redundancy anyway) — so a probe rescans NOTHING but its
    * own bucket directories; the base table is touched only for the
    * query vector's point lookup.
    *
    * The pre-write repartition co-locates each (table, bucket) into one
    * task: without it every input task writes a fragment into every
    * bucket directory — numTables·2^numBits·tasks small files (measured
    * 62 s for a 100k-vector build, flat in n because file creation
    * dominated; 1 file/bucket builds in ~6-12 s and makes the probe's
    * directory listing proportionally cheaper). */
  def writeLshIndex(
      embs: DataFrame, path: String, dim: Int = 64, numBits: Int = 8,
      numTables: Int = 4, seed: Long = 42L): Unit =
    lshBuckets(embs, dim, numBits, numTables, seed)
      .join(embs.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .repartition(col("table"), col("bucket"))
      .write.mode("overwrite").partitionBy("table", "bucket").parquet(path)

  /** ANN top-k over a persisted LSH index. The query's own buckets are
    * recomputed from its embedding (a numTables-row projection over a
    * pushed-down point lookup), then pushed as STATIC partition filters
    * into the index scan — only numTables directories are read, never
    * the full index, and candidates rescore from the index's own
    * embedding copies (no join back to the base table). */
  def lshTopKIndexed(
      indexPath: String, embs: DataFrame, queryId: Long = 0L, k: Int = 10,
      dim: Int = 64, numBits: Int = 8, numTables: Int = 4,
      seed: Long = 42L): DataFrame = {
    val spark = embs.sparkSession
    val qRow = embs.filter(col("vec_id") === queryId)
      .select(col("embedding").cast("array<double>")).collect()
    require(qRow.nonEmpty, s"lshTopKIndexed: query vector $queryId not found")
    val q = qRow(0).getSeq[Double](0)
    val qNorm = math.sqrt(q.map(x => x * x).sum)
    val qCol = array(q.map(lit).toIndexedSeq: _*)
    val tables = hyperplanes(dim, numBits, numTables, seed)
    // same bit layout as bucketExpr: plane i contributes bit (1L << i)
    // when dot(emb, plane) >= 0; dot accumulates left-to-right over
    // min(len) like VecDot, so the driver-side bucket equals the one
    // the index was written with, bit-exactly
    val qb = tables.zipWithIndex.map { case (planes, t) =>
      var b = 0L
      planes.zipWithIndex.foreach { case (p, i) =>
        var d = 0.0; var j = 0
        val n = math.min(p.length, q.length)
        while (j < n) { d += q(j) * p(j); j += 1 }
        if (d >= 0) b |= (1L << i)
      }
      (t, b)
    }
    val index = spark.read.parquet(indexPath)
    val cond = qb.map { case (t, b) =>
      (col("table") === lit(t)) && (col("bucket") === lit(b))
    }.reduce(_ || _)
    index.filter(cond)
      .filter(col("vec_id") =!= queryId)
      // a vector colliding in several tables appears once per table
      .groupBy("vec_id").agg(first(col("embedding")).as("embedding"))
      .select(col("vec_id"),
        (dot(col("embedding"), qCol)
          / (l2Norm(col("embedding")) * lit(qNorm))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc).limit(k)
  }

  // -------------------------------------------------------------------
  // Recall-targeted single-query LSH top-k (r16, VERDICT r15 item 1):
  // the fixed numBits=8 / numTables=4 default retrieved 0/10 of the
  // true top-10 at sf0.1 (bench recall panel) — the query's true
  // neighbors simply never co-bucket at that width. Two data-dependent
  // dials make the registered default both scalable AND useful:
  //  - bits = [[autoBits]](n): bucket occupancy pinned at
  //    ~AutoTargetBucket, so per-probe candidate cost is a constant at
  //    any corpus size (the same staircase the knn family uses).
  //  - query-side MULTIPROBE (Lv et al., "Multi-Probe LSH", VLDB
  //    2007): besides its own bucket, the query probes the `bits`
  //    buckets at Hamming distance 1 (one sign bit flipped) in every
  //    table — the standard recall recovery that costs PROBES
  //    (driver-side bucket ids), not extra index copies. Only the
  //    query side fans out; every database vector still lands in
  //    exactly numTables buckets.
  // Candidates ≈ numTables·(bits+1)·AutoTargetBucket — O(log n) per
  // query — then exact cosine + top-k over that set. Recall at the
  // bench fixture (near-uniform 64-dim noise, ANN's hard case) is
  // pinned per SF by the registered `emb_topk_recall` gate.
  // -------------------------------------------------------------------
  def lshTopKAuto(
      embs: DataFrame, queryId: Long = 0L, k: Int = 10, dim: Int = 64,
      numTables: Int = 16, seed: Long = 42L): DataFrame = {
    val bits = autoBits(embs.count())
    val tables = hyperplanes(dim, AutoMaxBits, numTables, seed)
      .map(_.take(bits))
    val buckets = embs.select(
        col("vec_id"),
        posexplode(array(tables.map(planes =>
          bucketExpr(col("embedding"), planes)): _*)))
      .toDF("vec_id", "table", "bucket").cache()
    val qb = buckets.filter(col("vec_id") === queryId)
    // probe set per table: the query's bucket + its `bits` one-bit
    // flips (all distinct by construction — no dedup needed)
    val probes = qb.select(col("table"), explode(array(
        (col("bucket") +: (0 until bits).map(i =>
          col("bucket").bitwiseXOR(lit(1L << i)))): _*)).as("bucket"))
    val candIds = buckets.join(broadcast(probes), Seq("table", "bucket"))
      .filter(col("vec_id") =!= queryId)
      .select("vec_id").distinct()
    cosineTopK(embs.join(candIds.unionAll(
        embs.filter(col("vec_id") === queryId).select("vec_id")),
      Seq("vec_id"), "left_semi"), queryId, k)
  }

  /** ANN top-k via LSH: score only same-bucket candidates, then exact
    * cosine + top-k over that (usually tiny) candidate set. */
  def lshTopK(
      embs: DataFrame, queryId: Long = 0L, k: Int = 10, dim: Int = 64,
      numBits: Int = 8, numTables: Int = 4, seed: Long = 42L): DataFrame = {
    val buckets = lshBuckets(embs, dim, numBits, numTables, seed).cache()
    val qb = buckets.filter(col("vec_id") === queryId)
      .select(col("table"), col("bucket"))
    val candIds = buckets.join(broadcast(qb), Seq("table", "bucket"))
      .filter(col("vec_id") =!= queryId)
      .select("vec_id").distinct()
    cosineTopK(embs.join(candIds.unionAll(
        embs.filter(col("vec_id") === queryId).select("vec_id")),
      Seq("vec_id"), "left_semi"), queryId, k)
  }

  /** DuckDB twin of `lshTopK`: the seeded hyperplanes are deterministic
    * driver-side constants, so the SAME planes are inlined as SQL array
    * literals (Double.toString round-trips exactly), the bucket
    * signatures use the same left-to-right fold → bit-identical buckets,
    * candidates, and top-k on both engines. */
  /** SQL for the (vec_id, tbl, bucket) LSH index relation — the seeded
    * hyperplanes inlined as array literals, one UNION ALL branch per
    * table, same sign-bit fold as `bucketExpr`. */
  private def planeLit(p: Array[Double]): String =
    p.map(_.toString).mkString("[", ", ", "]")

  // r14: the sign-bit dots are statically unrolled ([[dotSqlN]]
  // semantics) against plane lists hoisted once into a 1-row
  // relation. The previous list_reduce-lambda form cost ~1 ms per
  // 64-dim dot in DuckDB, and with numBits·numTables = 48 dots per
  // embedding row this CTE dominated the r13 sf1 oracle replays
  // (460-880 s per heavy query). Identical value tree: the same
  // list literals, the same per-element CAST AS DOUBLE, the same
  // left-to-right fold from 0.0 — only lambda interpretation is
  // replaced by a vectorized expression.
  private def dotPlaneSql(q: String, dim: Int): String =
    (1 to dim).foldLeft("CAST(0.0 AS DOUBLE)") { (acc, i) =>
      s"($acc + CAST(embedding[$i] AS DOUBLE) * CAST($q[$i] AS DOUBLE))"
    }

  private def bucketsUnionSql(
      dim: Int, numBits: Int, numTables: Int, seed: Long): String = {
    val tables = hyperplanes(dim, numBits, numTables, seed)
    def bucketSql(planes: Seq[Array[Double]]): String =
      planes.zipWithIndex.map { case (_, i) =>
        s"(CASE WHEN ${dotPlaneSql(s"pl.q$i", dim)} >= 0 " +
          s"THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")
    tables.zipWithIndex.map { case (planes, t) =>
      val hoist = planes.zipWithIndex
        .map { case (p, i) => s"${planeLit(p)} AS q$i" }.mkString(", ")
      s"SELECT vec_id, $t AS tbl, ${bucketSql(planes)} AS bucket " +
        s"FROM embeddings, (SELECT $hoist) pl"
    }.mkString(" UNION ALL ")
  }

  /** Auto-width twin of [[bucketsUnionSql]]: all AutoMaxBits planes are
    * inlined as constants; a plane at index i ≥ AutoMinBits contributes
    * its bit only when `i < nb.bits` (the first AutoMinBits planes are
    * unconditional — bits ≥ AutoMinBits always). Value-identical to the
    * Spark side's prefix slice: a masked-out plane's dot is discarded,
    * never summed, so the bucket ids agree bit-for-bit at any n. */
  private def bucketsUnionAutoSql(
      dim: Int, numTables: Int, seed: Long): String = {
    val tables = hyperplanes(dim, AutoMaxBits, numTables, seed)
    def bucketSql(planes: Seq[Array[Double]]): String =
      planes.indices.map { i =>
        val guard = if (i < AutoMinBits) "" else s"$i < nb.bits AND "
        s"(CASE WHEN $guard${dotPlaneSql(s"pl.q$i", dim)} >= 0 " +
          s"THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")
    tables.zipWithIndex.map { case (planes, t) =>
      val hoist = planes.zipWithIndex
        .map { case (p, i) => s"${planeLit(p)} AS q$i" }.mkString(", ")
      s"SELECT vec_id, $t AS tbl, ${bucketSql(planes)} AS bucket " +
        s"FROM embeddings, (SELECT $hoist) pl, nb"
    }.mkString(" UNION ALL ")
  }

  /** Shared candidate→scored CTE chain for the LSH-blocked neighbor
    * oracles ([[knnGraphSql]] / [[oodScoresSql]] / [[marginMineSql]] /
    * [[intrinsicDimSql]]): buckets → distinct candidate pairs → norms →
    * each pair's exact cosine computed ONCE in `scored`. The previous
    * shape repeated the 64-term dot inside the window ORDER BY (DuckDB
    * does not CSE across SELECT and ORDER BY), so every candidate pair
    * paid the dot product twice — on top of the lambda overhead. Rank
    * over the precomputed cosine is value-identical. */
  private def knnScoredChainSql(
      dim: Int, numBits: Int, numTables: Int, seed: Long): String =
    scoredChainFromBuckets(bucketsUnionSql(dim, numBits, numTables, seed), dim)

  /** [[knnScoredChainSql]] at the data-dependent width: the `nb` CTE
    * leads the chain and the bucket union masks planes ≥ nb.bits. */
  private def knnScoredChainAutoSql(
      dim: Int = 64, numTables: Int = 8, seed: Long = 42L): String =
    s"${autoBitsCteSql()},\n" +
      scoredChainFromBuckets(bucketsUnionAutoSql(dim, numTables, seed), dim)

  private def scoredChainFromBuckets(bucketsUnion: String, dim: Int): String = {
    // The `e` CTE hoists every vector component into its own DOUBLE
    // column: at sf1 the scored CTE evaluates ~50M candidate pairs,
    // and per-element LIST extraction (64 per row per side) dominated
    // even the unrolled dot (~250 s/oracle); against materialized
    // plain columns the same fold runs vectorized. Values unchanged —
    // c_i IS `CAST(embedding[i] AS DOUBLE)` and the sum tree is the
    // identical left-to-right `((0.0 + c1·c1') + c2·c2') + …`.
    val comps = (1 to dim)
      .map(i => s"CAST(embedding[$i] AS DOUBLE) AS c$i").mkString(", ")
    def colDot(a: String, b: String): String =
      (1 to dim).foldLeft("CAST(0.0 AS DOUBLE)") { (acc, i) =>
        s"($acc + $a.c$i * $b.c$i)"
      }
    val selfDot = (1 to dim).foldLeft("CAST(0.0 AS DOUBLE)") { (acc, i) =>
      s"($acc + c$i * c$i)"
    }
    s"""buckets AS ($bucketsUnion),
       |cpairs AS (
       |  SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
       |  FROM buckets a JOIN buckets b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |e AS MATERIALIZED (
       |  SELECT vec_id, ${(1 to dim).map("c" + _).mkString(", ")},
       |    SQRT($selfDot) AS nrm
       |  FROM (SELECT vec_id, $comps FROM embeddings) e0),
       |scored AS (
       |  SELECT p.ida, p.idb,
       |    ${colDot("ea", "eb")} / (ea.nrm * eb.nrm) AS cosine
       |  FROM cpairs p
       |  JOIN e ea ON p.ida = ea.vec_id
       |  JOIN e eb ON p.idb = eb.vec_id)""".stripMargin
  }

  /** DuckDB twin of [[lshTopKAuto]]: the auto-masked bucket union (same
    * `nb` staircase from COUNT(*)), the query's probe set = its bucket
    * per table UNION ALL one flip per plane index `i < nb.bits`
    * (integer XOR — bit-exact in both engines), then the identical
    * candidate semi-join + exact-cosine rerank tail. */
  def lshTopKAutoSql(
      queryId: Long = 0L, k: Int = 10, dim: Int = 64,
      numTables: Int = 16, seed: Long = 42L): String = {
    val bucketsUnion = bucketsUnionAutoSql(dim, numTables, seed)
    val flips = (0 until AutoMaxBits).map(i =>
      s"SELECT tbl, xor(bucket, CAST(${1L << i} AS BIGINT)) AS bucket " +
        s"FROM qb, nb WHERE $i < nb.bits").mkString("\n  UNION ALL ")
    s"""WITH ${autoBitsCteSql()},
       |buckets AS ($bucketsUnion),
       |qb AS (SELECT tbl, bucket FROM buckets WHERE vec_id = $queryId),
       |probes AS (
       |  SELECT tbl, bucket FROM qb
       |  UNION ALL $flips),
       |cand AS (
       |  SELECT DISTINCT b.vec_id FROM buckets b
       |  JOIN probes p ON b.tbl = p.tbl AND b.bucket = p.bucket
       |  WHERE b.vec_id <> $queryId),
       |${rerankSql(queryId, k, dim)}""".stripMargin
  }

  /** The exact-cosine top-k rerank of a CTE `cand(vec_id)` against
    * vector `queryId`, closing the LSH and RP auto twins: CTEs `q`,
    * `scored`, then the ranked SELECT. */
  private def rerankSql(queryId: Long, k: Int, dim: Int): String =
    s"""q AS (SELECT embedding AS q_emb,
       |  SQRT(${dotSqlN("embedding", "embedding", dim)}) AS q_norm
       |  FROM embeddings WHERE vec_id = $queryId),
       |scored AS (
       |  SELECT e.vec_id,
       |    ${dotSqlN("e.embedding", "q.q_emb", dim)}
       |      / (SQRT(${dotSqlN("e.embedding", "e.embedding", dim)}) * q.q_norm) AS cosine
       |  FROM embeddings e CROSS JOIN q
       |  WHERE e.vec_id IN (SELECT vec_id FROM cand))
       |SELECT vec_id, cosine FROM (
       |  SELECT vec_id, cosine,
       |    ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS rn
       |  FROM scored) s WHERE rn <= $k""".stripMargin

  // -------------------------------------------------------------------
  // Johnson–Lindenstrauss random-projection ANN: project every vector
  // to p ≪ d seeded Gaussian directions (distances are preserved within
  // 1±ε by the JL lemma), shortlist the k·overscan nearest in the
  // CHEAP projected space (p mults/row instead of d), then exact-cosine
  // rerank the shortlist. The dimensionality-reduction member of the
  // ANN family: LSH quantizes projections to sign bits and pays recall;
  // this keeps the real values and pays p/d of the scan arithmetic —
  // at 100 TB the projected relation is p/d of the vector bytes and is
  // the thing you'd persist (like the SQ8/PQ codes).
  //
  // Determinism: the seeded projection matrix is a driver-side constant
  // inlined into both engines (Double.toString round-trips exactly);
  // projections, the left-assoc squared-distance chain, and the rerank
  // are identical IEEE trees → bit-identical shortlist and top-k.
  // -------------------------------------------------------------------
  def rpTopK(
      embs: DataFrame, queryId: Long = 0L, k: Int = 10, dim: Int = 64,
      p: Int = 16, overscan: Int = 4, seed: Long = 77L): DataFrame = {
    val planes = hyperplanes(dim, p, 1, seed).head
    def projArr(emb: Column): Column =
      array(planes.map { pl =>
        dot(emb, array(pl.toIndexedSeq.map(lit): _*)) }: _*)
    val proj = embs.select(col("vec_id"), projArr(col("embedding")).as("pv"))
      .cache()
    val qp = proj.filter(col("vec_id") === queryId).select(col("pv").as("qv"))
    val d2 = (0 until p).map { j =>
      val d = col("pv").getItem(j) - col("qv").getItem(j); d * d
    }.reduce(_ + _)
    val cand = proj.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qp))
      .select(col("vec_id"), d2.as("pd2"))
      .orderBy(col("pd2").asc, col("vec_id").asc)
      .limit(k * overscan)
      .select("vec_id")
    cosineTopK(embs.join(cand.unionAll(
        embs.filter(col("vec_id") === queryId).select("vec_id")),
      Seq("vec_id"), "left_semi"), queryId, k)
  }

  // -------------------------------------------------------------------
  // Data-dependent RP defaults (r16, VERDICT r15 item 1): the fixed
  // p=16/overscan=4 default retrieved 0/10 of the true top-10 at sf0.1
  // while the p=48/overscan=50 sweep point retrieved 10/10 (bench
  // recall panel). The JL lemma prices the projection width at
  // O(log n / ε²), so the registered default derives
  //   p = clamp(4·ceil(log2 n), 16, RpMaxP)
  // from one cheap count via the same pure-integer staircase recipe as
  // [[autoBits]] — and the planes are ALWAYS generated at RpMaxP width
  // and prefix-sliced, so one fixed plane-constant set serves every
  // corpus size and the twin can mask components ≥ np.p dynamically
  // from COUNT(*). Overscan is fixed at RpOverscan: the shortlist the
  // exact rerank pays is k·RpOverscan rows regardless of corpus size
  // (TakeOrderedAndProject — never a global sort).
  // -------------------------------------------------------------------
  val RpMaxP = 48
  val RpOverscan = 50

  def rpAutoP(n: Long): Int =
    math.min(RpMaxP, math.max(16, 4 * ceilLog2(math.max(n, 1L))))

  /** [[rpTopK]] at the data-dependent projection width — the registered
    * default since r16. Prefix property: `hyperplanes(dim, p, 1, seed)`
    * equals the first p planes of the RpMaxP-wide generation (the
    * seeded stream is consumed plane-by-plane), so delegating to
    * [[rpTopK]] with the derived p IS the masked-twin semantics. */
  def rpTopKAuto(
      embs: DataFrame, queryId: Long = 0L, k: Int = 10, dim: Int = 64,
      seed: Long = 77L): DataFrame =
    rpTopK(embs, queryId, k, dim, rpAutoP(embs.count()), RpOverscan, seed)

  /** DuckDB twin of [[rpTopKAuto]]: all RpMaxP projections are computed
    * against the inlined plane constants; the squared-distance chain
    * guards each component with `j < np.p` (masked terms add +0.0 to a
    * non-negative partial sum — IEEE-identical to the Spark side's
    * prefix slice), with np.p derived from COUNT(*) by the same
    * staircase. */
  def rpTopKAutoSql(
      queryId: Long = 0L, k: Int = 10, dim: Int = 64,
      seed: Long = 77L): String = {
    val planes = hyperplanes(dim, RpMaxP, 1, seed).head
    val projCols = planes.zipWithIndex.map { case (pl, j) =>
      s"${dotSqlN("embedding", planeLit(pl), dim)} AS p$j" }
      .mkString(",\n    ")
    val distChain = (0 until RpMaxP).map(j =>
      s"(CASE WHEN $j < np.p THEN (pr.p$j - qp.p$j) * (pr.p$j - qp.p$j) " +
        s"ELSE 0e0 END)").mkString(" + ")
    s"""WITH np AS (SELECT LEAST($RpMaxP, GREATEST(16,
       |    4 * ${ceilLog2Sql("COUNT(*)")})) AS p FROM embeddings),
       |pr AS MATERIALIZED (SELECT vec_id,
       |    $projCols
       |  FROM embeddings),
       |qp AS (SELECT * FROM pr WHERE vec_id = $queryId),
       |cand AS (SELECT vec_id FROM (
       |  SELECT pr.vec_id, $distChain AS pd2
       |  FROM pr, qp, np WHERE pr.vec_id <> $queryId
       |  ORDER BY pd2 ASC, pr.vec_id ASC LIMIT ${k * RpOverscan}) c),
       |${rerankSql(queryId, k, dim)}""".stripMargin
  }

  // -------------------------------------------------------------------
  // k-NN graph: every vector's top-k neighbors among its LSH-bucket
  // candidates — the structure semantic-dedup clustering, curriculum
  // ordering, and graph-based corpus analysis consume. Same blocked
  // candidate generation as cosineNearDups (never all-pairs: only
  // co-bucketed vectors meet), run as one kernel pass over primitive
  // vectors ([[KnnGraph]]): one scan buckets each vector in every table
  // and shuffles one copy per table under its (table, bucket); each
  // reduce task scores its co-bucketed pairs once into bounded per-id
  // heaps; one id-keyed shuffle merges the heaps and emits the rank.
  // No query is planned per stage and nothing is cached: the
  // consumer's action runs the whole graph as one job. Directed
  // output: (vec_id, neighbor, cosine, rank), ordered (cosine DESC,
  // neighbor ASC) exactly as the twins' ROW_NUMBER.
  // -------------------------------------------------------------------
  /** Each vector's top-`k` neighbors by exact cosine among the vectors
    * it shares a bucket with in one of `numTables` seeded
    * `numBits`-plane LSH tables, as (vec_id, neighbor, cosine, rank).
    * `vec_id` is a key; a null `vec_id` or `embedding`, a vector whose
    * length is not `dim`, or a null, NaN or infinite component raises
    * an `IllegalArgumentException` in the consumer's job. */
  def knnGraph(
      embs: DataFrame, k: Int = 3, dim: Int = 64,
      numBits: Int = 6, numTables: Int = 8, seed: Long = 42L): DataFrame =
    KnnGraph(embs, Some(numBits), numTables, seed, dim, k, labelled = false)

  /** [[knnGraph]] at the data-dependent LSH width — the registered
    * default since r15: bits = autoBits(count), so the candidate pairs
    * stay linear in corpus size instead of quadratic (fixed bits =
    * fixed bucket count). One count job, then the kernel over the
    * AutoMaxBits planes' prefix slice. [[autoRecall]] pins its
    * accuracy per SF. */
  def knnGraphAuto(
      embs: DataFrame, k: Int = 3, dim: Int = 64,
      numTables: Int = 8, seed: Long = 42L): DataFrame =
    KnnGraph(embs, None, numTables, seed, dim, k, labelled = false)

  /** Exact vector dedup: one row per distinct embedding, keeping the
    * lowest vec_id — the pass a real corpus runs BEFORE any
    * neighbor-graph work (identical vectors co-bucket under ANY hash,
    * so exact replicas inflate LSH candidate counts quadratically; the
    * sf10 fixture's ×100 replication is the measured case). One
    * embedding-keyed agg; only (embedding, vec_id) shuffles. */
  def dedupedVectors(embs: DataFrame): DataFrame =
    embs.groupBy("embedding").agg(min("vec_id").as("vec_id"))
      .select("vec_id", "embedding")

  /** [[knnGraphAuto]] over [[dedupedVectors]] — the registered
    * composition that turns the r15 "real corpora dedup first" scale
    * attribution into a measurement (VERDICT r15 item 5): the auto
    * width derives from the DEDUPED count, so the graph over a
    * replica-inflated corpus prices like the distinct corpus it
    * really is. On a replica-free corpus this is exactly
    * [[knnGraphAuto]]. */
  def knnGraphDeduped(
      embs: DataFrame, k: Int = 3, dim: Int = 64,
      numTables: Int = 8, seed: Long = 42L): DataFrame =
    knnGraphAuto(dedupedVectors(embs), k, dim, numTables, seed)

  /** Twin of [[knnGraphDeduped]]: a shadowing `embeddings` CTE holds
    * the deduped relation (list-typed GROUP BY + MIN — both engines
    * group float arrays by exact value; the fixtures carry no ±0.0 or
    * NaN components), then the auto-width graph SQL is reused
    * verbatim — its `nb` staircase reads the DEDUPED count. */
  def knnGraphDedupedSql(
      k: Int = 3, dim: Int = 64, numTables: Int = 8,
      seed: Long = 42L): String = {
    val inner = knnGraphAutoSql(k, dim, numTables, seed)
    require(inner.startsWith("WITH "))
    s"""WITH embeddings AS (
       |  SELECT MIN(vec_id) AS vec_id, embedding
       |  FROM main.embeddings GROUP BY embedding),
       |""".stripMargin + inner.stripPrefix("WITH ")
  }

  private def knnGraphTailSql(k: Int): String =
    s"""SELECT ida AS vec_id, idb AS neighbor, cosine, rank FROM (
       |  SELECT ida, idb, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY ida
       |      ORDER BY cosine DESC, idb ASC) AS BIGINT) AS rank
       |  FROM scored) s
       |WHERE rank <= $k""".stripMargin

  def knnGraphSql(
      k: Int = 3, dim: Int = 64, numBits: Int = 6,
      numTables: Int = 8, seed: Long = 42L): String =
    s"WITH ${knnScoredChainSql(dim, numBits, numTables, seed)}\n" +
      knnGraphTailSql(k)

  def knnGraphAutoSql(
      k: Int = 3, dim: Int = 64, numTables: Int = 8,
      seed: Long = 42L): String =
    s"WITH ${knnScoredChainAutoSql(dim, numTables, seed)}\n" +
      knnGraphTailSql(k)

  /** Hard-negative mining for contrastive training: per anchor, the
    * top-k most-similar vectors with a DIFFERENT label — the pairs a
    * reranker/embedding trainer needs most (near the anchor yet
    * wrong), as (vec_id, negative, neg_label, cosine, rank). The
    * [[knnGraph]] kernel with the label-mismatch test applied to each
    * co-bucketed pair BEFORE the exact rescore, so same-label pairs
    * (and any pair with a null label) never pay the dot product. Same
    * input errors as [[knnGraph]]. */
  def hardNegatives(
      embs: DataFrame, k: Int = 3, dim: Int = 64,
      numBits: Int = 6, numTables: Int = 8, seed: Long = 42L): DataFrame =
    KnnGraph(embs, Some(numBits), numTables, seed, dim, k, labelled = true)

  /** [[hardNegatives]] at the data-dependent LSH width (see
    * [[knnGraphAuto]]) — the registered default since r15. */
  def hardNegativesAuto(
      embs: DataFrame, k: Int = 3, dim: Int = 64,
      numTables: Int = 8, seed: Long = 42L): DataFrame =
    KnnGraph(embs, None, numTables, seed, dim, k, labelled = true)

  def hardNegativesAutoSql(
      k: Int = 3, dim: Int = 64, numTables: Int = 8,
      seed: Long = 42L): String = {
    s"""WITH ${autoBitsCteSql()},
       |buckets AS (${bucketsUnionAutoSql(dim, numTables, seed)}),
       |cpairs AS (
       |  SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
       |  FROM buckets a JOIN buckets b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |lpairs AS (
       |  SELECT p.ida, p.idb, lb.label AS lb
       |  FROM cpairs p
       |  JOIN embeddings la ON p.ida = la.vec_id
       |  JOIN embeddings lb ON p.idb = lb.vec_id
       |  WHERE la.label <> lb.label),
       |e AS (SELECT vec_id, embedding,
       |  SQRT(${dotSqlN("embedding", "embedding", dim)}) AS nrm FROM embeddings),
       |lscored AS (
       |  SELECT p.ida, p.idb, p.lb,
       |    ${dotSqlN("ea.embedding", "eb.embedding", dim)} / (ea.nrm * eb.nrm) AS cosine
       |  FROM lpairs p
       |  JOIN e ea ON p.ida = ea.vec_id
       |  JOIN e eb ON p.idb = eb.vec_id)
       |SELECT ida AS vec_id, idb AS negative, lb AS neg_label, cosine, rank
       |FROM (
       |  SELECT ida, idb, lb, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY ida
       |      ORDER BY cosine DESC, idb ASC) AS BIGINT) AS rank
       |  FROM lscored) s
       |WHERE rank <= $k""".stripMargin
  }

  /** kNN majority-vote classification over the embedding space — the
    * label-transfer primitive (propagate a small labeled seed set onto
    * unlabeled vectors, audit embedding quality via self-consistency).
    * Composes [[knnGraph]] (the LSH-blocked kernel: exact rescore,
    * per-source top-k heaps) with a (vec_id, label) vote count and a
    * TopKPerKey at k=1 for the argmax — no Window, no per-group sort
    * anywhere in the plan.
    * Tie-break: most votes, then smallest label (total order → both
    * engines agree). Output: (vec_id, pred_label, votes, label,
    * correct).
    *
    * Scale: everything data-sized is the knnGraph candidate machinery
    * (bucketed, never all-pairs); the vote relation is ≤ k rows per
    * vector and the argmax bounds shuffle bytes by partitions·keys. */
  def knnClassify(
      embs: DataFrame, k: Int = 5, dim: Int = 64,
      numBits: Int = 6, numTables: Int = 8, seed: Long = 42L): DataFrame =
    knnClassifyFrom(knnGraph(embs, k, dim, numBits, numTables, seed), embs)

  /** [[knnClassify]] at the data-dependent LSH width (see
    * [[knnGraphAuto]]) — the registered default since r15. */
  def knnClassifyAuto(
      embs: DataFrame, k: Int = 5, dim: Int = 64,
      numTables: Int = 8, seed: Long = 42L): DataFrame =
    knnClassifyFrom(knnGraphAuto(embs, k, dim, numTables, seed), embs)

  private def knnClassifyFrom(g: DataFrame, embs: DataFrame): DataFrame = {
    val lab = embs.select(col("vec_id"), col("label"))
    val votes = g
      .join(lab.select(col("vec_id").as("neighbor"),
        col("label").as("nlbl")), Seq("neighbor"))
      .groupBy("vec_id", "nlbl").agg(count(lit(1)).as("votes"))
    org.apache.spark.sql.graft.TopKPerKey(
        votes, Seq("vec_id"), Seq(("votes", false), ("nlbl", true)), 1)
      .join(lab, Seq("vec_id"))
      .select(col("vec_id"), col("nlbl").as("pred_label"), col("votes"),
        col("label"), (col("nlbl") === col("label")).as("correct"))
  }

  def knnClassifyAutoSql(
      k: Int = 5, dim: Int = 64, numTables: Int = 8,
      seed: Long = 42L): String = {
    s"""WITH ${knnScoredChainAutoSql(dim, numTables, seed)},
       |knn AS (
       |  SELECT ida AS vec_id, idb AS neighbor FROM (
       |    SELECT ida, idb,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY ida
       |        ORDER BY cosine DESC, idb ASC) AS BIGINT) AS rank
       |    FROM scored) s
       |  WHERE rank <= $k),
       |votes AS (
       |  SELECT g.vec_id, l.label AS nlbl, COUNT(*) AS votes
       |  FROM knn g JOIN embeddings l ON g.neighbor = l.vec_id
       |  GROUP BY g.vec_id, l.label),
       |pred AS (
       |  SELECT vec_id, nlbl, votes,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY votes DESC, nlbl ASC) AS rn
       |  FROM votes)
       |SELECT p.vec_id, p.nlbl AS pred_label, p.votes, a.label,
       |  p.nlbl = a.label AS correct
       |FROM pred p JOIN embeddings a ON p.vec_id = a.vec_id
       |WHERE p.rn = 1""".stripMargin
  }

  /** kNN-distance OOD scoring (Sun et al., "Out-of-Distribution
    * Detection with Deep Nearest Neighbors", ICML 2022): a vector's
    * outlier score is its (dis)similarity to its k-th nearest
    * neighbor — isolated vectors sit far even from their closest
    * cohort and surface for curation review (mislabeled shards,
    * encoder drift, junk modalities). Because [[knnGraph]] emits
    * neighbors in rank order, the k-th-NN cosine is simply
    * MIN(cosine) over a vector's ≤ k graph edges and the realized
    * neighbor count is MAX(rank) — one map-side-combinable agg over
    * the graph, nothing new crosses the wire. Vectors whose LSH
    * buckets yielded fewer than k candidates score against their
    * farthest REALIZED neighbor (n_neighbors tells the consumer how
    * trustworthy the score is); vectors with zero candidates are
    * themselves extreme-OOD and surface by absence.
    * Output: (vec_id, n_neighbors, kth_cos, ood_dist = 1 − kth_cos). */
  def oodScores(
      embs: DataFrame, k: Int = 3, dim: Int = 64,
      numBits: Int = 6, numTables: Int = 8, seed: Long = 42L): DataFrame =
    oodScoresFrom(knnGraph(embs, k, dim, numBits, numTables, seed))

  /** [[oodScores]] at the data-dependent LSH width (see
    * [[knnGraphAuto]]) — the registered default since r15. */
  def oodScoresAuto(
      embs: DataFrame, k: Int = 3, dim: Int = 64,
      numTables: Int = 8, seed: Long = 42L): DataFrame =
    oodScoresFrom(knnGraphAuto(embs, k, dim, numTables, seed))

  private def oodScoresFrom(g: DataFrame): DataFrame =
    g.groupBy("vec_id").agg(
        max("rank").as("n_neighbors"),
        min("cosine").as("kth_cos"))
      .select(col("vec_id"), col("n_neighbors"), col("kth_cos"),
        (lit(1.0) - col("kth_cos")).as("ood_dist"))

  def oodScoresSql(
      k: Int = 3, dim: Int = 64, numBits: Int = 6,
      numTables: Int = 8, seed: Long = 42L): String =
    oodScoresBodySql(knnScoredChainSql(dim, numBits, numTables, seed), k)

  def oodScoresAutoSql(
      k: Int = 3, dim: Int = 64, numTables: Int = 8,
      seed: Long = 42L): String =
    oodScoresBodySql(knnScoredChainAutoSql(dim, numTables, seed), k)

  private def oodScoresBodySql(chain: String, k: Int): String = {
    s"""WITH $chain,
       |knn AS (
       |  SELECT ida AS vec_id, cosine, rank FROM (
       |    SELECT ida, cosine,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY ida
       |        ORDER BY cosine DESC, idb ASC) AS BIGINT) AS rank
       |    FROM scored) s
       |  WHERE rank <= $k)
       |SELECT vec_id, MAX(rank) AS n_neighbors, MIN(cosine) AS kth_cos,
       |  1.0e0 - MIN(cosine) AS ood_dist
       |FROM knn GROUP BY vec_id""".stripMargin
  }

  /** Margin-based pair mining (Artetxe & Schwenk, "Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings",
    * ACL 2019 — the LASER/CCMatrix bitext-mining criterion, "ratio"
    * variant): score a candidate pair not by raw cosine but by how
    * much it EXCEEDS both endpoints' typical neighborhood similarity,
    * margin(x,y) = cos(x,y) / ((avgK(x) + avgK(y)) / 2). A hub vector
    * that is close to everything earns no margin; a pair that is each
    * other's stand-out match does — the fix for hubness that makes
    * mined-pair precision usable at corpus scale. Candidates and
    * per-node neighborhood means both come from the LSH-blocked
    * [[knnGraph]] (never all-pairs); the mean is exact cross-engine
    * via the 1e-12 integer grid (long sums are order-independent, one
    * division at the end). Cosine is bitwise symmetric (per-element
    * products commute; the VecDot fold order is positional), so the
    * undirected collapse is a plain DISTINCT on (least, greatest,
    * cosine). Output: mined pairs with margin > threshold. */
  def marginMine(
      embs: DataFrame, k: Int = 3, dim: Int = 64, numBits: Int = 6,
      numTables: Int = 8, seed: Long = 42L,
      threshold: Double = 1.0): DataFrame =
    marginMineFrom(knnGraph(embs, k, dim, numBits, numTables, seed),
      threshold)

  /** [[marginMine]] at the data-dependent LSH width (see
    * [[knnGraphAuto]]) — the registered default since r15. */
  def marginMineAuto(
      embs: DataFrame, k: Int = 3, dim: Int = 64, numTables: Int = 8,
      seed: Long = 42L, threshold: Double = 1.0): DataFrame =
    marginMineFrom(knnGraphAuto(embs, k, dim, numTables, seed), threshold)

  private def marginMineFrom(
      graph: DataFrame, threshold: Double): DataFrame = {
    val Grid = 1.0e12
    val g = graph.cache()
    val avgk = g.groupBy("vec_id").agg(
        sum(round(col("cosine") * Grid).cast("long")).as("sg"),
        count(lit(1)).as("nk"))
      .select(col("vec_id"),
        (col("sg").cast("double") / (col("nk").cast("double") * Grid))
          .as("avgk"))
    val upairs = g.select(
        least(col("vec_id"), col("neighbor")).as("ida"),
        greatest(col("vec_id"), col("neighbor")).as("idb"),
        col("cosine"))
      .distinct()
    upairs
      .join(avgk.select(col("vec_id").as("ida"), col("avgk").as("avga")),
        Seq("ida"))
      .join(avgk.select(col("vec_id").as("idb"), col("avgk").as("avgb")),
        Seq("idb"))
      .select(col("ida"), col("idb"), col("cosine"),
        (col("cosine") / ((col("avga") + col("avgb")) / lit(2.0)))
          .as("margin"))
      .filter(col("margin") > threshold)
  }

  def marginMineSql(
      k: Int = 3, dim: Int = 64, numBits: Int = 6, numTables: Int = 8,
      seed: Long = 42L, threshold: Double = 1.0): String =
    marginMineBodySql(knnScoredChainSql(dim, numBits, numTables, seed),
      k, threshold)

  def marginMineAutoSql(
      k: Int = 3, dim: Int = 64, numTables: Int = 8,
      seed: Long = 42L, threshold: Double = 1.0): String =
    marginMineBodySql(knnScoredChainAutoSql(dim, numTables, seed),
      k, threshold)

  private def marginMineBodySql(
      chain: String, k: Int, threshold: Double): String = {
    val thr = graft.functions.PortableMath.dlitE(threshold)
    s"""WITH $chain,
       |knn AS (
       |  SELECT ida AS vec_id, idb AS neighbor, cosine, rank FROM (
       |    SELECT ida, idb, cosine,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY ida
       |        ORDER BY cosine DESC, idb ASC) AS BIGINT) AS rank
       |    FROM scored) s
       |  WHERE rank <= $k),
       |avgk AS (
       |  SELECT vec_id,
       |    CAST(SUM(CAST(ROUND(cosine * 1000000000000.0) AS BIGINT))
       |        AS DOUBLE)
       |      / (CAST(COUNT(*) AS DOUBLE) * 1000000000000.0) AS avgk
       |  FROM knn GROUP BY vec_id),
       |upairs AS (
       |  SELECT DISTINCT LEAST(vec_id, neighbor) AS ida,
       |    GREATEST(vec_id, neighbor) AS idb, cosine
       |  FROM knn)
       |SELECT u.ida, u.idb, u.cosine,
       |  u.cosine / ((a.avgk + b.avgk) / 2e0) AS margin
       |FROM upairs u
       |JOIN avgk a ON u.ida = a.vec_id
       |JOIN avgk b ON u.idb = b.vec_id
       |WHERE u.cosine / ((a.avgk + b.avgk) / 2e0) > $thr""".stripMargin
  }

  /** Nearest-centroid (Rocchio) classification: per-label mean
    * embedding, then assign every vector to the closest centroid —
    * the embedding-space audit twin of [[knnClassify]] (k-NN votes
    * locally; the centroid view asks whether the classes are globally
    * linearly separated). Exactness recipe: components are snapped to
    * the 1e-6 integer grid BEFORE the mean (long sums are
    * order-independent; the float32→double cast and round are exact),
    * so each centroid component is one correctly-rounded IEEE
    * division; distances then use the same left-to-right VecDot fold
    * as every other embedding op via d² = x·x − 2·x·c + c·c; argmin
    * tie-breaks on the smaller label. Exact while |Σ grid values| per
    * (label, dim) < 2^53 — ~9e9 unit-scale vectors per label.
    *
    * Scale: one (label, pos) grid-sum agg (map-side combinable, ≤
    * |labels|·dim rows out), k centroid rows broadcast, scoring is a
    * zero-shuffle scan projection + one vec_id-keyed argmin agg. */
  def centroidClassify(embs: DataFrame): DataFrame = {
    val cents = labelCentroids(embs)
    embs.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("clabel"),
        centroidD2.as("d2"))
      .groupBy("vec_id", "label")
      .agg(min(struct(col("d2"), col("clabel"))).as("m"))
      .select(col("vec_id"), col("m.clabel").as("pred_label"),
        col("m.d2").as("d2"), col("label"),
        (col("m.clabel") === col("label")).as("correct"))
  }

  /** (clabel, cvec): each label's mean embedding, its components
    * summed on the 1e-6 integer grid so the mean is one correctly
    * rounded division per component. */
  private def labelCentroids(embs: DataFrame): DataFrame = {
    val Grid = 1.0e6
    val flat = embs.select(col("label").as("clabel"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .select(col("clabel"), col("pos"),
        round(col("v") * Grid).cast("long").as("g"))
    val comp = flat.groupBy("clabel", "pos")
      .agg(sum("g").as("s"), count(lit(1)).as("n"))
      .select(col("clabel"), col("pos"),
        (col("s").cast("double") /
          (col("n").cast("double") * Grid)).as("c"))
    comp.groupBy("clabel").agg(
      transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cvec"))
  }

  /** Squared distance of `embedding` to the centroid `cvec`, as
    * x·x − 2·x·c + c·c over the shared VecDot fold. */
  private val centroidD2: Column =
    dot(col("embedding"), col("embedding")) -
      lit(2.0) * dot(col("embedding"), col("cvec")) +
      dot(col("cvec"), col("cvec"))

  /** SQL twin of [[labelCentroids]]: CTEs `flat`, `comp`, `cents`. */
  private val centroidsSql: String =
    """flat AS (
      |  SELECT label AS clabel, i AS pos,
      |    CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT) AS g
      |  FROM embeddings,
      |    unnest(generate_series(1, len(embedding))) u(i)),
      |comp AS (
      |  SELECT clabel, pos,
      |    CAST(SUM(g) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e6) AS c
      |  FROM flat GROUP BY clabel, pos),
      |cents AS (
      |  SELECT clabel, list(c ORDER BY pos) AS cvec
      |  FROM comp GROUP BY clabel)""".stripMargin

  def centroidClassifySql: String =
    s"""WITH $centroidsSql,
       |scored AS (
       |  SELECT e.vec_id, e.label, c.clabel,
       |    ${dotSql("e.embedding", "e.embedding")}
       |      - 2.0 * ${dotSql("e.embedding", "c.cvec")}
       |      + ${dotSql("c.cvec", "c.cvec")} AS d2
       |  FROM embeddings e CROSS JOIN cents c),
       |r AS (SELECT vec_id, label, clabel, d2,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY d2 ASC, clabel ASC) AS rn
       |  FROM scored)
       |SELECT vec_id, clabel AS pred_label, d2, label,
       |  clabel = label AS correct
       |FROM r WHERE rn = 1""".stripMargin

  /** TwoNN intrinsic-dimension estimate (Facco, D'Errico, Rodriguez &
    * Laio, "Estimating the intrinsic dimension of datasets by a
    * minimal neighborhood information", Sci. Rep. 2017): d̂ =
    * n / Σ ln(r₂/r₁) over each point's two nearest neighbors — the
    * embedding-collapse / anisotropy alarm (a 64-dim table whose
    * vectors live on a 3-dim manifold scores ≈ 3; a collapsing encoder
    * drives d̂ toward 1). Distances here are angular (r = 1 − cos), a
    * metric on the unit sphere — the estimator only consumes the
    * ratio, and both engines build r₁, r₂ from the identical cosine
    * trees the knnGraph oracle already pins. Exact-duplicate pairs
    * (r₁ = 0) carry no dimensional signal and are excluded, as the
    * paper prescribes discarding zero-distance pairs. Per-point terms
    * snap to the 1e-12 grid (plog(r₂/r₁) ≥ 0, domain safe since
    * r₂ ≥ r₁ > 0) and sum exactly; one division at the end.
    * Candidates come from the LSH-blocked [[knnGraph]] — never
    * all-pairs; points with fewer than 2 realized neighbors drop out
    * (n counts the points actually estimated). */
  def intrinsicDim(
      embs: DataFrame, dim: Int = 64, numBits: Int = 6,
      numTables: Int = 8, seed: Long = 42L): DataFrame =
    intrinsicDimFrom(knnGraph(embs, 2, dim, numBits, numTables, seed))

  /** [[intrinsicDim]] at the data-dependent LSH width (see
    * [[knnGraphAuto]]) — the registered default since r15. */
  def intrinsicDimAuto(
      embs: DataFrame, dim: Int = 64, numTables: Int = 8,
      seed: Long = 42L): DataFrame =
    intrinsicDimFrom(knnGraphAuto(embs, 2, dim, numTables, seed))

  private def intrinsicDimFrom(g: DataFrame): DataFrame = {
    import graft.functions.PortableMath.plog
    val Grid = 1.0e12
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val two = g.groupBy("vec_id").agg(
        max(when(col("rank") === 1, col("cosine"))).as("cos1"),
        max(when(col("rank") === 2, col("cosine"))).as("cos2"),
        max("rank").as("nr"))
      .filter(col("nr") === 2)
      .select(col("vec_id"),
        (lit(1.0) - col("cos1")).as("r1"), (lit(1.0) - col("cos2")).as("r2"))
      .filter(col("r1") > 0.0)
    two.agg(
        count(lit(1)).as("n"),
        sum(round(plog(col("r2") / col("r1")) * Grid).cast(Dec)).as("slg"))
      .select(col("n"),
        when(col("slg") === 0, lit(null).cast("double"))
          .otherwise(col("n").cast("double") * lit(Grid)
            / col("slg").cast("string").cast("double")).as("id_2nn"))
  }

  def intrinsicDimSql(
      dim: Int = 64, numBits: Int = 6, numTables: Int = 8,
      seed: Long = 42L): String =
    intrinsicDimBodySql(knnScoredChainSql(dim, numBits, numTables, seed))

  def intrinsicDimAutoSql(
      dim: Int = 64, numTables: Int = 8, seed: Long = 42L): String =
    intrinsicDimBodySql(knnScoredChainAutoSql(dim, numTables, seed))

  private def intrinsicDimBodySql(chain: String): String = {
    import graft.functions.PortableMath.plogSql
    s"""WITH $chain,
       |knn AS (
       |  SELECT ida AS vec_id, cosine, rank FROM (
       |    SELECT ida, cosine,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY ida
       |        ORDER BY cosine DESC, idb ASC) AS BIGINT) AS rank
       |    FROM scored) s
       |  WHERE rank <= 2),
       |two AS (
       |  SELECT vec_id,
       |    1e0 - MAX(CASE WHEN rank = 1 THEN cosine END) AS r1,
       |    1e0 - MAX(CASE WHEN rank = 2 THEN cosine END) AS r2
       |  FROM knn GROUP BY vec_id HAVING MAX(rank) = 2),
       |ok AS (SELECT r1, r2 FROM two WHERE r1 > 0e0),
       |st AS (SELECT COUNT(*) AS n,
       |    SUM(CAST(ROUND((${plogSql("r2 / r1")}) * 1000000000000.0)
       |      AS BIGINT)) AS slg
       |  FROM ok)
       |SELECT n,
       |  CASE WHEN slg = 0 THEN NULL
       |    ELSE CAST(n AS DOUBLE) * 1000000000000.0
       |      / CAST(CAST(slg AS VARCHAR) AS DOUBLE)
       |  END AS id_2nn
       |FROM st""".stripMargin
  }

  /** Per-label embedding drift check — the encoder-regression /
    * ingest-shift alarm for a vector lake: split the corpus into two
    * deterministic halves (vec_id parity — in production, yesterday's
    * shard vs today's), compute each label's mean embedding per half
    * with the SAME grid-exact recipe as [[centroidClassify]], and
    * report how far the two half-centroids moved (cosine and squared
    * L2). A healthy stationary corpus scores cosine ≈ 1 on every
    * label; a label whose halves diverge names exactly where the
    * encoder or the upstream data changed. Labels present in only one
    * half drop out (inner join) — they are a missing-class alarm the
    * count columns already surface. Scale: two |labels|·dim-sized
    * aggs + a |labels|-keyed join; nothing data-sized after the scan. */
  def centroidDrift(embs: DataFrame): DataFrame = {
    val Grid = 1.0e6
    val flat = embs.select(col("label").as("clabel"),
        (col("vec_id") % 2 === 0).as("half_a"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .select(col("clabel"), col("half_a"), col("pos"),
        round(col("v") * Grid).cast("long").as("g"))
    val comp = flat.groupBy("clabel", "half_a", "pos")
      .agg(sum("g").as("s"), count(lit(1)).as("n"))
      .select(col("clabel"), col("half_a"), col("pos"),
        (col("s").cast("double") /
          (col("n").cast("double") * Grid)).as("c"))
    val cents = comp.groupBy("clabel", "half_a").agg(
      transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cvec"))
    val cnt = embs.groupBy(col("label").as("clabel"),
        (col("vec_id") % 2 === 0).as("half_a"))
      .agg(count(lit(1)).as("n"))
    val a = cents.filter(col("half_a")).select(col("clabel"), col("cvec").as("va"))
      .join(cnt.filter(col("half_a")).select(col("clabel"), col("n").as("n_a")),
        Seq("clabel"))
    val b = cents.filter(!col("half_a")).select(col("clabel"), col("cvec").as("vb"))
      .join(cnt.filter(!col("half_a")).select(col("clabel"), col("n").as("n_b")),
        Seq("clabel"))
    a.join(b, Seq("clabel"))
      .select(col("clabel").as("label"), col("n_a"), col("n_b"),
        (dot(col("va"), col("vb")) /
          (sqrt(dot(col("va"), col("va"))) * sqrt(dot(col("vb"), col("vb")))))
          .as("cosine"),
        (dot(col("va"), col("va")) - lit(2.0) * dot(col("va"), col("vb"))
          + dot(col("vb"), col("vb"))).as("d2"))
  }

  def centroidDriftSql: String =
    s"""WITH flat AS (
       |  SELECT label AS clabel, vec_id % 2 = 0 AS half_a, i AS pos,
       |    CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT) AS g
       |  FROM embeddings,
       |    unnest(generate_series(1, len(embedding))) u(i)),
       |comp AS (
       |  SELECT clabel, half_a, pos,
       |    CAST(SUM(g) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e6) AS c
       |  FROM flat GROUP BY clabel, half_a, pos),
       |cents AS (
       |  SELECT clabel, half_a, list(c ORDER BY pos) AS cvec
       |  FROM comp GROUP BY clabel, half_a),
       |cnt AS (
       |  SELECT label AS clabel, vec_id % 2 = 0 AS half_a, COUNT(*) AS n
       |  FROM embeddings GROUP BY 1, 2)
       |SELECT a.clabel AS label, ca.n AS n_a, cb.n AS n_b,
       |  ${dotSql("a.cvec", "b.cvec")}
       |    / (SQRT(${dotSql("a.cvec", "a.cvec")})
       |       * SQRT(${dotSql("b.cvec", "b.cvec")})) AS cosine,
       |  ${dotSql("a.cvec", "a.cvec")}
       |    - 2.0 * ${dotSql("a.cvec", "b.cvec")}
       |    + ${dotSql("b.cvec", "b.cvec")} AS d2
       |FROM cents a
       |JOIN cents b ON a.clabel = b.clabel AND a.half_a AND NOT b.half_a
       |JOIN cnt ca ON ca.clabel = a.clabel AND ca.half_a
       |JOIN cnt cb ON cb.clabel = a.clabel AND NOT cb.half_a""".stripMargin

  /** Recall@k across the LSH bit ladder — the ACCURACY side of the
    * numBits scale knob this round gates (SF10_SPOT quantifies the
    * candidate-count side): for a deterministic ~1% anchor sample
    * (vec_id ≡ 0 mod `anchorMod`), exact top-k truth over the whole
    * corpus vs the LSH-blocked top-k at each `bitsLadder` setting.
    * Output (num_bits, n_anchors, n_hit, recall) is the curve an
    * operator reads to pick bits for a target recall at a target
    * candidate budget.
    *
    * Determinism: top-k sets are tie-broken (cosine desc, idb asc) in
    * both engines; recall is one IEEE division of exact integers.
    * Scale: truth is |anchors|·n dots (anchors broadcast, sample-rate
    * bounded — cap the sample absolutely at real scale); each ladder
    * step reuses the knnGraph candidate machinery with the anchor
    * filter applied BEFORE the bucket join. */
  def lshRecallCurve(
      embs: DataFrame, bitsLadder: Seq[Int] = Seq(6, 8, 10), k: Int = 3,
      dim: Int = 64, numTables: Int = 8, seed: Long = 42L,
      anchorMod: Long = 97L): DataFrame = {
    val (e, anchors, truth0) = anchorTruth(embs, k, anchorMod)
    val truth = truth0.localCheckpoint(true)
    val nA = anchors.count()
    bitsLadder.map { bits =>
      recallRow(lshBuckets(embs, dim, bits, numTables, seed), e, truth,
        bits, nA, k, anchorMod)
    }.reduce(_ unionAll _)
  }

  def lshRecallCurveSql(
      bitsLadder: Seq[Int] = Seq(6, 8, 10), k: Int = 3, dim: Int = 64,
      numTables: Int = 8, seed: Long = 42L, anchorMod: Long = 97L): String = {
    val perBits = bitsLadder.map { bits =>
      hitSql(bits.toString, bucketsUnionSql(dim, bits, numTables, seed), k,
        dim, anchorMod)
    }.mkString(",\n")
    val union = bitsLadder.map { bits =>
      s"""SELECT CAST($bits AS BIGINT) AS num_bits, na.n_anchors,
         |  h.n_hit, CAST(h.n_hit AS DOUBLE)
         |    / CAST($k * na.n_anchors AS DOUBLE) AS recall
         |FROM hit$bits h CROSS JOIN na""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${anchorTruthSql(k, dim, anchorMod)},
       |$perBits
       |$union""".stripMargin
  }

  /** The auto-width census: (n_vectors, num_bits) — a 1-row gate that
    * pins the [[autoBits]] integer staircase against the oracle's own
    * COUNT(*)-derived staircase, so a formula drift between the engines
    * surfaces as a hash mismatch at EVERY SF, not just where the knn
    * results happen to differ. */
  def autoBitsReport(embs: DataFrame): DataFrame = {
    val n = embs.count()
    embs.sparkSession.range(1).select(
      lit(n).as("n_vectors"), lit(autoBits(n).toLong).as("num_bits"))
  }

  def autoBitsReportSql: String = {
    val steps = (AutoMinBits until AutoMaxBits).map(i =>
      s"(CASE WHEN COUNT(*) > ${AutoTargetBucket << i} THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors, " +
      s"CAST($AutoMinBits + $steps AS BIGINT) AS num_bits FROM embeddings"
  }

  /** Recall@k of the AUTO-width knn graph vs exact truth on the ~1%
    * anchor sample — the accuracy pin for the registered default
    * ([[knnGraphAuto]] and family): as corpus size moves the derived
    * bits, this row shows what the narrower buckets cost in recall.
    * Truth and row come from [[anchorTruth]] and [[recallRow]], as in
    * [[lshRecallCurve]] (tie-broken top-k sets, integer hit count, one
    * final IEEE division). */
  def autoRecall(
      embs: DataFrame, k: Int = 3, dim: Int = 64, numTables: Int = 8,
      seed: Long = 42L, anchorMod: Long = 97L): DataFrame = {
    val bits = autoBits(embs.count())
    val (e, anchors, truth) = anchorTruth(embs, k, anchorMod)
    val nA = anchors.count()
    recallRow(lshBucketsAuto(embs, dim, numTables, seed), e, truth,
      bits, nA, k, anchorMod)
  }

  /** The anchor sample's exact top-k: `e` (vec_id, embedding, nrm),
    * cached; the anchors, vec_id ≡ 0 mod `anchorMod`; and `truth`
    * (ida, idb), each anchor's k nearest by cosine over the whole
    * corpus, tie-broken (cosine desc, idb asc). */
  private def anchorTruth(embs: DataFrame, k: Int, anchorMod: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    val e = embs.select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("nrm")).cache()
    val anchors = e.filter(col("vec_id") % anchorMod === 0)
    val truthScored = e.select(col("vec_id").as("idb"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      .crossJoin(broadcast(anchors.select(col("vec_id").as("ida"),
        col("embedding").as("ea"), col("nrm").as("na"))))
      .filter(col("ida") =!= col("idb"))
      .select(col("ida"), col("idb"), pairCosine)
    val truth = org.apache.spark.sql.graft.TopKPerKey(
        truthScored, Seq("ida"), Seq(("cosine", false), ("idb", true)), k)
      .select("ida", "idb")
    (e, anchors, truth)
  }

  private def pairCosine: Column =
    (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cosine")

  /** One recall row (num_bits = `bits`, n_anchors, n_hit, recall): the
    * anchors' top-k among their co-bucketed candidates in `buckets`
    * (vec_id, table, bucket), scored over [[anchorTruth]]'s `e`,
    * matched against its `truth`. */
  private def recallRow(
      buckets: DataFrame, e: DataFrame, truth: DataFrame, bits: Int,
      nA: Long, k: Int, anchorMod: Long): DataFrame = {
    val cand = buckets.select(col("vec_id").as("ida"), col("table"),
        col("bucket"))
      .filter(col("ida") % anchorMod === 0)
      .join(buckets.select(col("vec_id").as("idb"), col("table"),
        col("bucket")), Seq("table", "bucket"))
      .filter(col("ida") =!= col("idb"))
      .select("ida", "idb").distinct()
    val scored = cand
      .join(e.select(col("vec_id").as("ida"), col("embedding").as("ea"),
        col("nrm").as("na")), Seq("ida"))
      .join(e.select(col("vec_id").as("idb"), col("embedding").as("eb"),
        col("nrm").as("nb")), Seq("idb"))
      .select(col("ida"), col("idb"), pairCosine)
    val approx = org.apache.spark.sql.graft.TopKPerKey(
        scored, Seq("ida"), Seq(("cosine", false), ("idb", true)), k)
      .select("ida", "idb")
    approx.join(truth, Seq("ida", "idb"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
      .select(lit(bits.toLong).as("num_bits"), lit(nA).as("n_anchors"),
        col("n_hit"),
        (col("n_hit").cast("double") / lit((k * nA).toDouble)).as("recall"))
  }

  /** SQL twin of [[anchorTruth]]: CTEs `e`, `anch`, `na` (n_anchors),
    * `tscored` and `truth`. */
  private def anchorTruthSql(k: Int, dim: Int, anchorMod: Long): String =
    s"""e AS (SELECT vec_id, embedding,
       |    SQRT(${dotSqlN("embedding", "embedding", dim)}) AS nrm
       |  FROM embeddings),
       |anch AS (SELECT * FROM e WHERE vec_id % $anchorMod = 0),
       |na AS (SELECT COUNT(*) AS n_anchors FROM anch),
       |tscored AS (
       |  SELECT a.vec_id AS ida, b.vec_id AS idb,
       |    ${dotSqlN("a.embedding", "b.embedding", dim)}
       |      / (a.nrm * b.nrm) AS cosine
       |  FROM anch a JOIN e b ON a.vec_id <> b.vec_id),
       |truth AS (
       |  SELECT ida, idb FROM (
       |    SELECT ida, idb, ROW_NUMBER() OVER (PARTITION BY ida
       |      ORDER BY cosine DESC, idb ASC) AS rn
       |    FROM tscored) s WHERE rn <= $k)""".stripMargin

  /** SQL twin of [[recallRow]] up to its hit count, over the bucket
    * union `bu`: CTEs `buckets`, `cand`, `scored`, `approx` and `hit`
    * (n_hit), each name suffixed by `sfx`. */
  private def hitSql(
      sfx: String, bu: String, k: Int, dim: Int, anchorMod: Long): String =
    s"""buckets$sfx AS ($bu),
       |cand$sfx AS (
       |  SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
       |  FROM buckets$sfx a JOIN buckets$sfx b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id % $anchorMod = 0),
       |scored$sfx AS (
       |  SELECT p.ida, p.idb,
       |    ${dotSqlN("ea.embedding", "eb.embedding", dim)}
       |      / (ea.nrm * eb.nrm) AS cosine
       |  FROM cand$sfx p
       |  JOIN e ea ON p.ida = ea.vec_id
       |  JOIN e eb ON p.idb = eb.vec_id),
       |approx$sfx AS (
       |  SELECT ida, idb FROM (
       |    SELECT ida, idb, ROW_NUMBER() OVER (PARTITION BY ida
       |      ORDER BY cosine DESC, idb ASC) AS rn
       |    FROM scored$sfx) s WHERE rn <= $k),
       |hit$sfx AS (
       |  SELECT COUNT(*) AS n_hit
       |  FROM approx$sfx a JOIN truth t ON a.ida = t.ida AND a.idb = t.idb)""".stripMargin

  def autoRecallSql(
      k: Int = 3, dim: Int = 64, numTables: Int = 8, seed: Long = 42L,
      anchorMod: Long = 97L): String = {
    val bu = bucketsUnionAutoSql(dim, numTables, seed)
    s"""WITH ${autoBitsCteSql()},
       |${anchorTruthSql(k, dim, anchorMod)},
       |${hitSql("", bu, k, dim, anchorMod)}
       |SELECT CAST(nb.bits AS BIGINT) AS num_bits, na.n_anchors, h.n_hit,
       |  CAST(h.n_hit AS DOUBLE)
       |    / CAST($k * na.n_anchors AS DOUBLE) AS recall
       |FROM hit h CROSS JOIN na CROSS JOIN nb""".stripMargin
  }

  /** Recall@k of the four REGISTERED single-query ANN defaults vs exact
    * truth under each family's own metric — the accuracy gate for the
    * r16 recall-targeted defaults (VERDICT r15 item 1: the previous
    * fixed-parameter defaults sat at recall 0.0–0.2 while their tuned
    * variants hit 0.7–1.0; hash-exact agreement alone measures
    * determinism, not usefulness). One row per family:
    * (family, k, n_hit, recall), truth excluding the query vector —
    * the LSH/RP families never return the query (their candidate
    * streams drop it), the PQ families always rank it first (dist 0),
    * so those fetch k+1 and drop it, leaving exactly the top-k
    * non-self candidates. Pinned per SF: as corpus size moves the
    * derived widths, a recall regression surfaces as a hash mismatch. */
  def topkRecallReport(embs: DataFrame, k: Int = 10): DataFrame = {
    import graft.kmeans.KMeansND
    val kd = k.toDouble
    val cosTruth = cosineTopK(embs, 0L, k).select("vec_id")
    val vecs = IvfIndex.vectors(embs)
    val qv = vecs.filter(col("id") === 0L).select(col("vec").as("qvec"))
    val l2Truth = vecs.filter(col("id") =!= 0L).crossJoin(broadcast(qv))
      .select(col("id").as("vec_id"),
        KMeansND.sqDistND(col("vec"), col("qvec")).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc).limit(k)
      .select("vec_id")
    def row(name: String, approx: DataFrame, truth: DataFrame): DataFrame =
      approx.join(truth, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(name).as("family"), lit(k.toLong).as("k"), col("n_hit"),
          (col("n_hit").cast("double") / lit(kd)).as("recall"))
    // The four family pipelines run driver-side work at CONSTRUCTION
    // time (the PQ/IVFADC codebook-training collects, the auto-width
    // count jobs) and are fully independent until the final union, so
    // they are constructed CONCURRENTLY from four driver threads. Each
    // branch's arithmetic is untouched, so the report is bit-identical
    // to the sequential construction; only the scheduler interleaving
    // changes.
    // Measured r16 (isolated fresh-JVM bench, sf0.1): 12.4 s → see
    // OPTIMIZATION_r16.md — the two training stacks alone serialize
    // ~8.5 s of small underutilizing jobs otherwise.
    val branches = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      // One per-invocation job group over all four branches (r16
      // advice): if a branch future fails, Await rethrows but the
      // other three keep running their
      // construction-time Spark jobs (training collects, count jobs)
      // behind the exception — cancel the group and interrupt the pool
      // instead of letting them burn slots to completion.
      val sc = embs.sparkSession.sparkContext
      val group = s"topk-recall-${RecallSeq.incrementAndGet()}"
      def branch(mk: => (String, DataFrame, DataFrame)): Future[DataFrame] =
        Future {
          sc.setJobGroup(group, "topk recall branches",
            interruptOnCancel = true)
          try { val (n, rel, truth) = mk; row(n, rel, truth) }
          finally sc.clearJobGroup()
        }
      try Await.result(Future.sequence(Seq(
        branch(("lsh_auto",
          lshTopKAuto(embs, 0L, k).select("vec_id"), cosTruth)),
        branch(("rp_auto",
          rpTopKAuto(embs, 0L, k).select("vec_id"), cosTruth)),
        branch(("pq_refined",
          PqIndex.pqTopKRefined(embs, k = k + 1)
            .filter(col("id") =!= 0L).select(col("id").as("vec_id")),
          l2Truth)),
        branch(("ivfpq_refined",
          PqIndex.ivfPqTopKRefined(embs, k = k + 1, nprobe = 4,
              kFactor = 20)
            .filter(col("id") =!= 0L).select(col("id").as("vec_id")),
          l2Truth)))), Duration.Inf)
      catch { case e: Throwable =>
        sc.cancelJobGroup(group)
        pool.shutdownNow()
        throw e
      }
      finally pool.shutdown()
    }
    branches.reduceLeft(_ unionAll _)
  }

  /** DuckDB twin of [[topkRecallReport]]: each family's full twin SQL
    * nested as a self-contained subquery, the same two truth relations,
    * integer hit counts, one IEEE division per row. Each nested family
    * SQL is pre-materialized (its own depth-0 CTEs marked) — the
    * registration-time materialize only rewrites THIS query's depth-0
    * names, and un-hinted inner chains re-evaluate per reference
    * (lshTopKAuto's qb feeds 16 flip branches: the un-hinted form
    * re-ran the whole bucket union 17×, 114 s → ~15 s at sf0.01). */
  def topkRecallSql(k: Int = 10, dim: Int = 64): String = {
    import graft.kmeans.KMeansND
    def mat(sql: String): String = OracleCtes.materialize(sql)
    def hit(rel: String, truth: String): String =
      s"(SELECT COUNT(*) FROM $rel r JOIN $truth t ON r.vec_id = t.vec_id)"
    def outRow(name: String, rel: String, truth: String): String =
      s"SELECT '$name' AS family, CAST($k AS BIGINT) AS k, " +
        s"CAST(${hit(rel, truth)} AS BIGINT) AS n_hit, " +
        s"CAST(${hit(rel, truth)} AS DOUBLE) / CAST($k AS DOUBLE) AS recall"
    s"""WITH cos_truth AS (SELECT vec_id FROM (${cosineTopKSql(0L, k)}) x),
       |l2q AS (SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS qvec
       |  FROM embeddings WHERE vec_id = 0),
       |l2_truth AS (
       |  SELECT vec_id FROM (
       |    SELECT e.vec_id,
       |      ${KMeansND.sqDistSql("list_transform(e.embedding, v -> CAST(v AS DOUBLE))", "q.qvec")} AS d
       |    FROM embeddings e CROSS JOIN l2q q WHERE e.vec_id <> 0
       |    ORDER BY d ASC, e.vec_id ASC LIMIT $k) t),
       |lsh AS (SELECT vec_id FROM (${mat(lshTopKAutoSql(0L, k, dim))}) x),
       |rp AS (SELECT vec_id FROM (${mat(rpTopKAutoSql(0L, k, dim))}) x),
       |pq AS (SELECT id AS vec_id FROM
       |  (${mat(PqIndex.pqTopKRefinedSql(k = k + 1, dim = dim))}) x
       |  WHERE id <> 0),
       |ivfpq AS (SELECT id AS vec_id FROM
       |  (${mat(PqIndex.ivfPqTopKRefinedSql(k = k + 1, nprobe = 4,
            kFactor = 20, dim = dim))}) x WHERE id <> 0)
       |${outRow("lsh_auto", "lsh", "cos_truth")}
       |UNION ALL ${outRow("rp_auto", "rp", "cos_truth")}
       |UNION ALL ${outRow("pq_refined", "pq", "l2_truth")}
       |UNION ALL ${outRow("ivfpq_refined", "ivfpq", "l2_truth")}""".stripMargin
  }

  /** Diversity-preserving density prune (the SemDeDup/DataComp-style
    * redundancy cut): rank each vector within its label by distance to
    * the label centroid (the grid-exact mean of [[labelCentroids]],
    * as in [[centroidClassify]]) and keep alternating ranks — a deterministic
    * 2× downsample that preserves the full radial distribution (both
    * the diverse rim and the dense core stay represented, unlike a
    * plain nearest-half cut which deletes the mode). Emits the census
    * (every vector with rank and kept flag), so the prune is
    * observable, not a silent drop.
    *
    * Scale: the centroid is a |labels|·dim sufficient statistic
    * (broadcast); d2 is a zero-shuffle scan projection; the only
    * data-sized shuffle is the per-label rank window (keyed on label —
    * salt or pre-bucket by label at extreme skew). */
  def diversityPrune(embs: DataFrame): DataFrame = {
    val cents = labelCentroids(embs)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy(col("d2").desc, col("vec_id").asc)
    embs.join(broadcast(cents), col("label") === col("clabel"))
      .select(col("vec_id"), col("label"),
        centroidD2.as("d2"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("kept", col("rank") % 2 === 1)
  }

  def diversityPruneSql(dim: Int = 64): String =
    s"""WITH $centroidsSql,
       |scored AS (
       |  SELECT e.vec_id, e.label,
       |    ${dotSqlN("e.embedding", "e.embedding", dim)}
       |      - 2.0 * ${dotSqlN("e.embedding", "c.cvec", dim)}
       |      + ${dotSqlN("c.cvec", "c.cvec", dim)} AS d2
       |  FROM embeddings e JOIN cents c ON e.label = c.clabel),
       |r AS (SELECT vec_id, label, d2,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY label
       |      ORDER BY d2 DESC, vec_id ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT vec_id, label, d2, rank, (rank % 2) = 1 AS kept FROM r""".stripMargin

  def cosineNearDupsSql(
      threshold: Double = 0.4, dim: Int = 64, numBits: Int = 6,
      numTables: Int = 8, seed: Long = 42L): String = {
    val bucketsUnion = bucketsUnionSql(dim, numBits, numTables, seed)
    s"""WITH buckets AS ($bucketsUnion),
       |cpairs AS (
       |  SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
       |  FROM buckets a JOIN buckets b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |e AS (SELECT vec_id, embedding,
       |  SQRT(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings)
       |SELECT ida, idb, cosine FROM (
       |  SELECT p.ida, p.idb,
       |    ${dotSql("ea.embedding", "eb.embedding")} / (ea.nrm * eb.nrm) AS cosine
       |  FROM cpairs p
       |  JOIN e ea ON p.ida = ea.vec_id
       |  JOIN e eb ON p.idb = eb.vec_id) s
       |WHERE cosine >= $threshold""".stripMargin
  }

  // -------------------------------------------------------------------
  // Embedding-cosine near-dup pairs: bucket with LSH, exact-cosine
  // verify within buckets only.
  // -------------------------------------------------------------------
  def cosineNearDups(
      embs: DataFrame, threshold: Double = 0.4, dim: Int = 64,
      numBits: Int = 6, numTables: Int = 8, seed: Long = 42L): DataFrame = {
    // cached: the bucket projection feeds both sides of the self-join
    val buckets = lshBuckets(embs, dim, numBits, numTables, seed).cache()
    val pairs = buckets.select(col("vec_id").as("ida"), col("table"), col("bucket"))
      .join(buckets.select(col("vec_id").as("idb"), col("table"), col("bucket")),
        Seq("table", "bucket"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
    val e = embs.select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("nrm"))
    pairs
      .join(e.select(col("vec_id").as("ida"), col("embedding").as("ea"),
        col("nrm").as("na")), Seq("ida"))
      .join(e.select(col("vec_id").as("idb"), col("embedding").as("eb"),
        col("nrm").as("nb")), Seq("idb"))
      .select(col("ida"), col("idb"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  // -------------------------------------------------------------------
  // Incremental SEMANTIC dedup — the embedding-space member of the
  // batch-vs-history family (dedup_incr: exact digests,
  // dedup_incr_near: lexical minhash). Batch vectors are dropped when
  // any history vector clears the cosine threshold. Candidates are
  // CROSS-SIDE LSH bucket collisions only (history×history and
  // batch×batch pairs never join), so the exact-cosine verify is
  // batch-proportional; in production the history buckets are the
  // persisted `writeIndex` relation and each batch probes it.
  // -------------------------------------------------------------------
  def dedupAgainstCosine(
      history: DataFrame, batch: DataFrame, threshold: Double = 0.4,
      dim: Int = 64, numBits: Int = 6, numTables: Int = 8,
      seed: Long = 42L): DataFrame = {
    val all = history.select("vec_id", "embedding")
      .unionByName(batch.select("vec_id", "embedding"))
    val buckets = lshBuckets(all, dim, numBits, numTables, seed).cache()
    val h = buckets.join(history.select("vec_id"), Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("ida"), col("table"), col("bucket"))
    val b = buckets.join(batch.select("vec_id"), Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("idb"), col("table"), col("bucket"))
    val pairs = h.join(b, Seq("table", "bucket"))
      .select("ida", "idb").distinct()
    val e = all.select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("nrm"))
    val dropped = pairs
      .join(e.select(col("vec_id").as("ida"), col("embedding").as("ea"),
        col("nrm").as("na")), Seq("ida"))
      .join(e.select(col("vec_id").as("idb"), col("embedding").as("eb"),
        col("nrm").as("nb")), Seq("idb"))
      .filter(dot(col("ea"), col("eb")) / (col("na") * col("nb")) >= threshold)
      .select(col("idb").as("vec_id")).distinct()
    batch.join(dropped, Seq("vec_id"), "left_anti").select("vec_id")
  }

  /** DuckDB twin for an embeddings-table split (side predicates over
    * vec_id, same seeded hyperplanes inlined). */
  def dedupAgainstCosineSql(
      histCond: String => String, batchCond: String => String,
      threshold: Double = 0.4, dim: Int = 64, numBits: Int = 6,
      numTables: Int = 8, seed: Long = 42L): String = {
    val bucketsUnion = bucketsUnionSql(dim, numBits, numTables, seed)
    s"""WITH buckets AS ($bucketsUnion),
       |cpairs AS (
       |  SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
       |  FROM buckets a JOIN buckets b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket
       |  WHERE ${histCond("a.vec_id")} AND ${batchCond("b.vec_id")}),
       |e AS (SELECT vec_id, embedding,
       |  SQRT(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
       |dropped AS (
       |  SELECT DISTINCT p.idb FROM cpairs p
       |  JOIN e ea ON p.ida = ea.vec_id
       |  JOIN e eb ON p.idb = eb.vec_id
       |  WHERE ${dotSql("ea.embedding", "eb.embedding")} / (ea.nrm * eb.nrm)
       |        >= $threshold)
       |SELECT vec_id FROM embeddings
       |WHERE ${batchCond("vec_id")}
       |  AND vec_id NOT IN (SELECT idb FROM dropped)""".stripMargin
  }

  // -------------------------------------------------------------------
  // Maximal Marginal Relevance (Carbonell & Goldstein 1998): re-rank a
  // relevance-ranked candidate pool so the final top-k balances
  // relevance against redundancy — score(i) = λ·rel(i) −
  // (1−λ)·max_{j∈selected} sim(i,j), greedily. The retrieval-diversity
  // pass a RAG pipeline runs after ANN.
  //
  // Scale shape: the DISTRIBUTED work is scoring the whole corpus and
  // keeping the top-`pool` (TakeOrderedAndProject, no global sort);
  // the greedy loop is inherently sequential but runs over the
  // CONSTANT-sized pool (pool·dim doubles collected — same class as a
  // centroid pull), never the corpus. All arithmetic uses the same
  // left-to-right IEEE folds as the SQL twin, so the full
  // pool→pairwise-sims→k greedy picks is hash-exact.
  // -------------------------------------------------------------------
  def mmrTopK(embs: DataFrame, queryId: Long = 0L, pool: Int = 40,
      k: Int = 10, lambda: Double = 0.7): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val cand = cosineTopK(embs, queryId, pool).collect()
    val ids = cand.map(_.getLong(0))
    val relOf = cand.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val vecOf = embs
      .filter(col("vec_id").isin(ids.map(Long.box).toIndexedSeq: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val normOf = ids.map(id => id -> math.sqrt(dotD(vecOf(id), vecOf(id)))).toMap
    def sim(a: Long, b: Long): Double =
      dotD(vecOf(a), vecOf(b)) / (normOf(a) * normOf(b))
    val oneMinus = 1.0 - lambda
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    val remaining = scala.collection.mutable.ArrayBuffer(ids: _*)
    for (t <- 1 to math.min(k, ids.length)) {
      val scoredRem = remaining.map { i =>
        val redundancy =
          if (selected.isEmpty) 0.0
          else selected.map { case (_, j, _) => sim(i, j) }.max
        (lambda * relOf(i) - oneMinus * redundancy, i)
      }
      val (score, pick) = scoredRem.minBy { case (s, i) => (-s, i) }
      selected += ((t, pick, score))
      remaining -= pick
    }
    selected.toSeq.toDF("rank", "vec_id", "score")
  }

  /** DuckDB twin: candidate pool + pairwise sims as CTEs, then the k
    * greedy picks unrolled (each step excludes the union of prior
    * picks and takes the argmax with the (score DESC, id) tie-break).
    * λ and 1−λ are emitted as shortest-roundtrip double literals so
    * both engines multiply by the identical doubles. The reused CTEs
    * are AS MATERIALIZED: the sel chain references each predecessor
    * twice, and default inlining would duplicate the embeddings scan
    * 2^k times (observed as fd exhaustion, not just slowness). */
  def mmrTopKSql(queryId: Long = 0L, pool: Int = 40, k: Int = 10,
      lambda: Double = 0.7): String = {
    val lam = s"CAST(${lambda} AS DOUBLE)"
    val om = s"CAST(${1.0 - lambda} AS DOUBLE)"
    val steps = (1 to k).map { t =>
      if (t == 1)
        s"""s1 AS MATERIALIZED (SELECT CAST(1 AS INTEGER) AS rank, vec_id,
           |  $lam * rel AS score
           |  FROM cand ORDER BY $lam * rel DESC, vec_id LIMIT 1),
           |sel1 AS MATERIALIZED (SELECT vec_id FROM s1)""".stripMargin
      else
        s"""s$t AS MATERIALIZED (SELECT CAST($t AS INTEGER) AS rank, c.vec_id,
           |  $lam * c.rel - $om * (
           |    SELECT MAX(s.sim) FROM sims s
           |    WHERE s.ia = c.vec_id
           |      AND s.ib IN (SELECT vec_id FROM sel${t - 1})) AS score
           |  FROM cand c
           |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})
           |  ORDER BY score DESC, c.vec_id LIMIT 1),
           |sel$t AS MATERIALIZED (SELECT vec_id FROM sel${t - 1}
           |  UNION ALL SELECT vec_id FROM s$t)""".stripMargin
    }.mkString(", ")
    val unions = (1 to k).map(t => s"SELECT * FROM s$t").mkString(" UNION ALL ")
    s"""WITH q AS (SELECT embedding AS q_emb,
       |  SQRT(${dotSql("embedding", "embedding")}) AS q_norm
       |  FROM embeddings WHERE vec_id = $queryId),
       |cand AS MATERIALIZED (SELECT vec_id, rel FROM (
       |  SELECT e.vec_id,
       |    ${dotSql("e.embedding", "q.q_emb")}
       |      / (SQRT(${dotSql("e.embedding", "e.embedding")}) * q.q_norm) AS rel,
       |    ROW_NUMBER() OVER (ORDER BY
       |      ${dotSql("e.embedding", "q.q_emb")}
       |        / (SQRT(${dotSql("e.embedding", "e.embedding")}) * q.q_norm)
       |      DESC, e.vec_id ASC) AS rn
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> $queryId) t
       |  WHERE rn <= $pool),
       |cvec AS MATERIALIZED (SELECT c.vec_id, e.embedding,
       |  SQRT(${dotSql("e.embedding", "e.embedding")}) AS nrm
       |  FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id),
       |sims AS MATERIALIZED (SELECT a.vec_id AS ia, b.vec_id AS ib,
       |  ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS sim
       |  FROM cvec a JOIN cvec b ON a.vec_id <> b.vec_id),
       |$steps
       |$unions""".stripMargin
  }

  // -------------------------------------------------------------------
  // PCA by power iteration: the dominant principal component of the
  // embedding cloud + each vector's centered projection onto it — the
  // standard dimensionality-reduction / decorrelation step of an
  // embedding pipeline (whitening before ANN, drift monitoring, ABTT
  // "all-but-the-top" postprocessing).
  //
  // Shape at 100 TB: ONE aggregation pass collapses the corpus to a
  // constant-size sufficient statistic (d means + d² second moments,
  // d=64 → 4 160 cells; partial aggs combine map-side so the wire
  // carries ≤ cells/partition). The O(d²)-per-row explode happens
  // INSIDE the scan stage before the combine — no shuffled blowup. The
  // power iteration itself is O(T·d²) driver work on the collected
  // matrix (like the k-sized centroid collects of the fit loop), and
  // the projection is a zero-shuffle codegen scan with the PC vector
  // broadcast as a literal.
  //
  // Cross-engine exactness: second moments and means go through the
  // integer-grid recipe (ROUND(x·1e12) summed as DECIMAL(38,0), one
  // VARCHAR→DOUBLE conversion); covariance cells, every matvec fold,
  // norm, division, and the final Rayleigh quotient are the identical
  // left-to-right IEEE sequences on both engines (Scala while-loops
  // here, 0.0-prepended list_reduce folds in the DuckDB twin), so the
  // eigenvector matches BIT-EXACT with no tolerance — convergence of
  // the iteration is irrelevant to the compare, both engines stop at
  // the same T.
  // -------------------------------------------------------------------
  final case class PcaResult(
      mean: Array[Double], pc: Array[Double], lambda: Double)

  private val PcaDim = 64
  private val PcaGrid = 1e12
  private val pcaMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), PcaResult]()

  /** Fit the dominant PC of `embs` (memoized per (dir, iters): the two
    * registered queries and the bench share one fit, as the kmeans
    * surface shares its init-centroid scan). */
  def pcaFit(embs: DataFrame, cacheKey: String, iters: Int = 8): PcaResult =
    pcaMemo.computeIfAbsent((cacheKey, iters), { _ =>
      val D = PcaDim
      val vecs = embs.select(col("embedding").cast("array<double>").as("v"))
      val n = vecs.count().toDouble
      val ng = n * PcaGrid
      // d-cell first moments (exact decimal sums → one correctly
      // rounded double conversion, mirroring CAST(VARCHAR AS DOUBLE))
      val meanRows = vecs
        .select(posexplode(col("v")).as(Seq("i", "xi")))
        .groupBy("i")
        .agg(sum(round(col("xi") * PcaGrid).cast(DecimalType38))
          .cast("string").cast("double").as("s"))
        .collect()
      val mean = Array.ofDim[Double](D)
      meanRows.foreach(r => mean(r.getInt(0)) = r.getDouble(1) / ng)
      // d²-cell second moments: the pair explode stays inside the scan
      // stage; the partial agg collapses it to ≤ cells per partition.
      // Only the UPPER TRIANGLE (j ≥ i) is computed — the gram matrix
      // is exactly symmetric even on the grid (ROUND(xi·xj·G) ≡
      // ROUND(xj·xi·G), IEEE multiplication commutes), so the lower
      // triangle is mirrored driver-side: same cov values bit-for-bit
      // (the DuckDB twin keeps its full-square form — it compares the
      // derived PC, not these cells), at 2080 instead of 4096 exploded
      // rows per vector (measured 109 s → ~55 s at sf1; this pass IS
      // the pca fit cost, shared by both registered pca queries).
      val gramRows = vecs
        .select(col("v"), posexplode(col("v")).as(Seq("i", "xi")))
        .select(col("i"), col("xi"),
          posexplode(slice(col("v"), col("i") + 1, lit(D) - col("i")))
            .as(Seq("jj", "xj")))
        .groupBy("i", "jj")
        .agg(sum(round(col("xi") * col("xj") * PcaGrid).cast(DecimalType38))
          .cast("string").cast("double").as("s"))
        .collect()
      val cov = Array.ofDim[Double](D, D)
      gramRows.foreach { r =>
        val i = r.getInt(0); val j = i + r.getInt(1)
        val c = r.getDouble(2) / ng - mean(i) * mean(j)
        cov(i)(j) = c
        cov(j)(i) = c
      }
      // power iteration from the uniform unit vector (1/√64 = 0.125, an
      // exact binary literal — a basis-vector start lands in C's null
      // space whenever one coordinate has zero variance); left-to-right
      // folds throughout. A zero matvec (degenerate all-constant data)
      // divides by 1 instead of 0 so the result is a deterministic zero
      // vector, not NaN — the twin applies the identical guard.
      var v = Array.fill(D)(0.125)
      var t = 0
      while (t < iters) {
        val w = Array.tabulate(D) { i =>
          var acc = 0.0; var j = 0
          while (j < D) { acc += cov(i)(j) * v(j); j += 1 }
          acc
        }
        var nrm2 = 0.0; var i = 0
        while (i < D) { nrm2 += w(i) * w(i); i += 1 }
        val nrm0 = math.sqrt(nrm2)
        val nrm = if (nrm0 == 0.0) 1.0 else nrm0
        v = w.map(_ / nrm)
        t += 1
      }
      val cv = Array.tabulate(D) { i =>
        var acc = 0.0; var j = 0
        while (j < D) { acc += cov(i)(j) * v(j); j += 1 }
        acc
      }
      var lambda = 0.0
      locally { var i = 0; while (i < D) { lambda += v(i) * cv(i); i += 1 } }
      PcaResult(mean, v, lambda)
    })

  private val DecimalType38 = org.apache.spark.sql.types.DecimalType(38, 0)

  /** The fitted PC1 as a relation: (pos, loading, eigenvalue). */
  def pcaPc1(embs: DataFrame, cacheKey: String, iters: Int = 8): DataFrame = {
    val r = pcaFit(embs, cacheKey, iters)
    val spark = embs.sparkSession
    import spark.implicits._
    r.pc.zipWithIndex
      .map { case (l, p) => (p, l, r.lambda) }.toSeq
      .toDF("pos", "loading", "eigenvalue")
  }

  /** Centered projection of every vector onto PC1: score =
    * dot(x, pc) − dot(μ, pc), both dots the shared left-to-right fold
    * (the μ·pc term is a driver constant, so the scan is one codegen
    * VecDot projection — zero shuffle, no per-row centering pass). */
  def pcaProject(embs: DataFrame, cacheKey: String, iters: Int = 8): DataFrame = {
    val r = pcaFit(embs, cacheKey, iters)
    var mdot = 0.0
    locally { var i = 0; while (i < PcaDim) { mdot += r.mean(i) * r.pc(i); i += 1 } }
    val pcLit = array(r.pc.map(lit): _*)
    embs.select(col("vec_id"),
      (dot(col("embedding"), pcLit) - lit(mdot)).as("pc1_score"))
  }

  /** Shared CTE chain of the DuckDB twin: moments → covariance →
    * `iters` unrolled, MATERIALIZED power steps (inlining would expand
    * the iteration pyramid exponentially — each step references its
    * predecessor twice through the norm). Ends with CTEs `pT` (the PC
    * list), `lam` (Rayleigh eigenvalue), `mlist` (mean list). */
  private def pcaCtes(iters: Int): String = {
    val D = PcaDim
    def fold(body: String, series: String = s"generate_series(1, $D)") =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform($series, $body)), (a, b) -> a + b)""".stripMargin
    val steps = (1 to iters).map { t =>
      s"""w$t AS MATERIALIZED (SELECT list_transform(generate_series(1, $D), i ->
         |  ${fold(s"j -> mat[i][j] * pv[j]")}) AS w FROM cm, p${t - 1}),
         |p$t AS MATERIALIZED (SELECT list_transform(w, z -> z /
         |  (CASE WHEN SQRT(${fold("z -> z * z", "w")}) = 0.0 THEN 1.0
         |        ELSE SQRT(${fold("z -> z * z", "w")}) END)) AS pv
         |  FROM w$t)""".stripMargin
    }.mkString(", ")
    s"""vz AS MATERIALIZED (SELECT
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) * 1e12 AS ng FROM vz),
       |ms AS MATERIALIZED (SELECT i,
       |  CAST(CAST(SUM(CAST(ROUND(v[i] * 1e12) AS DECIMAL(38,0)))
       |    AS VARCHAR) AS DOUBLE) / (SELECT ng FROM nn) AS m
       |  FROM vz, unnest(generate_series(1, $D)) u(i) GROUP BY i),
       |gs AS MATERIALIZED (SELECT i, j,
       |  CAST(CAST(SUM(CAST(ROUND(v[i] * v[j] * 1e12) AS DECIMAL(38,0)))
       |    AS VARCHAR) AS DOUBLE) / (SELECT ng FROM nn) AS s
       |  FROM vz, unnest(generate_series(1, $D)) ui(i),
       |    unnest(generate_series(1, $D)) uj(j) GROUP BY i, j),
       |mlist AS (SELECT list(m ORDER BY i) AS mu FROM ms),
       |cm AS MATERIALIZED (SELECT list(r ORDER BY i) AS mat FROM (
       |  SELECT g.i, list(g.s - a.m * b.m ORDER BY g.j) AS r
       |  FROM gs g JOIN ms a ON a.i = g.i JOIN ms b ON b.i = g.j
       |  GROUP BY g.i) t),
       |p0 AS (SELECT list_transform(generate_series(1, $D), i ->
       |  CAST(0.125 AS DOUBLE)) AS pv),
       |$steps,
       |lam AS (SELECT ${fold(s"i -> pv[i] * cv[i]")} AS lambda FROM p$iters,
       |  (SELECT list_transform(generate_series(1, $D), i ->
       |    ${fold(s"j -> mat[i][j] * pv[j]")}) AS cv FROM cm, p$iters) t)"""
      .stripMargin
  }

  def pcaPc1Sql(iters: Int = 8): String =
    s"""WITH ${pcaCtes(iters)}
       |SELECT CAST(i - 1 AS INT) AS pos, pv[i] AS loading,
       |  (SELECT lambda FROM lam) AS eigenvalue
       |FROM p$iters, unnest(generate_series(1, $PcaDim)) u(i)""".stripMargin

  def pcaProjectSql(iters: Int = 8): String =
    s"""WITH ${pcaCtes(iters)},
       |md AS (SELECT ${
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(generate_series(1, $PcaDim), i -> mu[i] * pv[i])),
         |  (a, b) -> a + b)""".stripMargin} AS mdot
       |  FROM mlist, p$iters)
       |SELECT e.vec_id,
       |  ${dotSql("e.embedding", "p.pv")} - m.mdot AS pc1_score
       |FROM embeddings e, p$iters p, md m""".stripMargin
}
