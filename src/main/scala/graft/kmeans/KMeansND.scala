package graft.kmeans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

/** N-dimensional K-Means — the generalization SURVEY.md §1.2 calls for
  * (the reference hardcodes 2-D `Point.x/y`; here a point is an
  * `array<double>` feature vector and the 2-D engine is the special
  * case). Two assignment paths, mirroring the 2-D design:
  *
  *  - `assign` — declarative (broadcast crossJoin + fold sqdist +
  *    min-struct argmin), DuckDB-checkable, used by the verified query
  *    surface;
  *  - `assignKernel` — MLlib-style mapPartitions over primitive arrays
  *    with a broadcast centroid matrix: no boxing, no fold
  *    interpretation, the production path for the fit loop at scale.
  *
  * 100 TB posture matches the 2-D engine: assignment is scan-parallel
  * (broadcast centroids, zero shuffle in the kernel path), recompute is
  * one partial/final aggregate whose shuffle carries k·dim doubles per
  * partition, the driver holds k centroids only.
  */
object KMeansND {

  case class CentND(cid: Int, vec: Seq[Double])

  private val Dec = DecimalType(28, 6)

  /** Column: squared L2 distance between two array<double> columns —
    * native codegen expression, left-to-right accumulation,
    * bit-identical to the DuckDB list_reduce twin. */
  def sqDistND(a: Column, b: Column): Column =
    graft.functions.VecFunctions.vecSqDist(a, b)

  /** Cast any numeric-array column (e.g. float embeddings) to
    * array<double>. An ARRAY cast stays codegen-capable; the
    * `transform(c, _.cast(...))` formulation would be a CodegenFallback
    * breaking the enclosing whole-stage-codegen span. */
  def vecDouble(c: Column): Column = c.cast("array<double>")

  // -------------------------------------------------------------------
  // Declarative assignment (oracle path): points (id, vec) × broadcast
  // cents (cid, cvec) → (id, cid, sqdist), first-wins tie-break on
  // (sqdist, cid) like the 2-D engine.
  // -------------------------------------------------------------------
  def assign(points: DataFrame, cents: DataFrame): DataFrame = {
    // packed argmin, not min(struct): a struct aggregation buffer is not
    // UnsafeRow-mutable, which disqualifies HashAggregateExec and
    // silently plans SortAggregates with full sorts of the k-times-
    // exploded relation (the bug measured at 4x on the 2-D assignJoin).
    // sq >= 0 so its raw IEEE bits order like its value; bits*2^31+cid
    // in DECIMAL(38,0) is exact and hash-aggregatable.
    import graft.functions.VecFunctions.{bitsDouble, doubleBits}
    val M = 2147483648L
    val Dec38 = DecimalType(38, 0)
    val packed =
      doubleBits(col("sq")).cast(Dec38) * lit(M) + col("cid").cast(Dec38)
    val bk = col("bk")
    val cidDec = bk % lit(M)
    points.crossJoin(broadcast(cents))
      .withColumn("sq", sqDistND(col("vec"), col("cvec")))
      .groupBy("id")
      .agg(min(packed).as("bk"))
      .select(col("id"), cidDec.cast("int").as("cid"),
        bitsDouble(floor((bk - cidDec) / lit(M)).cast("long")).as("sqdist"))
  }

  /** DuckDB text of the left-to-right dot-product fold — bit-identical
    * to `VecFunctions.vecDot` and to a driver-side `array.map(...).sum`
    * (same IEEE addition sequence, 0.0-seeded). */
  def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i])),
       |      (x, y) -> x + y)""".stripMargin

  /** DuckDB text of the left-to-right squared-L2 fold (`vecSqDist`). */
  def sqDistSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(generate_series(1, len($a)),
       |        i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))),
       |      (x, y) -> x + y)""".stripMargin

  /** DuckDB twin of `assign` over relations pts(id, vec) / cents(cid, cvec). */
  def assignSql(ptsRel: String = "ptsnd", centsRel: String = "centsnd"): String =
    s"""SELECT id, cid, sq AS sqdist FROM (
       |  SELECT p.id, c.cid,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(generate_series(1, len(p.vec)),
       |        i -> (p.vec[i] - c.cvec[i]) * (p.vec[i] - c.cvec[i]))),
       |      (a, b) -> a + b) AS sq,
       |    ROW_NUMBER() OVER (PARTITION BY p.id ORDER BY
       |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        list_transform(generate_series(1, len(p.vec)),
       |          i -> (p.vec[i] - c.cvec[i]) * (p.vec[i] - c.cvec[i]))),
       |        (a, b) -> a + b), c.cid) AS rn
       |  FROM $ptsRel p CROSS JOIN $centsRel c) t WHERE rn = 1""".stripMargin

  // -------------------------------------------------------------------
  // Production kernel: broadcast primitive centroid matrix +
  // mapPartitions argmin. No shuffle, no boxing, no interpreted folds.
  // -------------------------------------------------------------------
  def assignKernel(points: DataFrame, cents: Seq[CentND]): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    require(cents.nonEmpty, "assignKernel: empty centroid set")
    val ids = cents.map(_.cid).toArray
    val mat = cents.map(_.vec.toArray).toArray
    val bc = spark.sparkContext.broadcast((ids, mat))
    points.select(col("id"), col("vec")).as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val (cids, m) = bc.value
        it.map { case (id, v) =>
          val (i, d) = argmin(m, v.toArray)
          (id, cids(i), d)
        }
      }.toDF("id", "cid", "sqdist")
  }

  /** Kernel assignment that carries the vector through: (id, cid, vec).
    * Costs nothing extra (the vector is already in the row) and lets
    * the fit loop recompute means WITHOUT re-joining assignments back
    * to the points — at scale that join is a full shuffle of every
    * vector per superstep. */
  def assignKernelVec(points: DataFrame, cents: Seq[CentND]): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    require(cents.nonEmpty, "assignKernelVec: empty centroid set")
    val ids = cents.map(_.cid).toArray
    val mat = cents.map(_.vec.toArray).toArray
    val bc = spark.sparkContext.broadcast((ids, mat))
    points.select(col("id"), col("vec")).as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val (cids, m) = bc.value
        it.map { case (id, v) => (id, cids(argmin(m, v.toArray)._1), v) }
      }.toDF("id", "cid", "vec")
  }

  /** Row index in `m` of the centroid nearest to `p`, with its squared
    * distance. Strict < keeps the first (lowest-index) centroid on ties,
    * matching the 2-D engine / reference KMeans.java:281. */
  private def argmin(m: Array[Array[Double]], p: Array[Double]): (Int, Double) = {
    var bestI = 0; var bestD = Double.MaxValue
    var i = 0
    while (i < m.length) {
      val c = m(i)
      var d = 0.0; var j = 0
      while (j < c.length) { val dx = p(j) - c(j); d += dx * dx; j += 1 }
      if (d < bestD) { bestD = d; bestI = i }
      i += 1
    }
    (bestI, bestD)
  }

  // -------------------------------------------------------------------
  // Element-wise mean recompute: explode dimensions, decimal-exact
  // per-(cid, dim) means, re-assemble ordered vectors. One shuffle of
  // k·dim groups. Empty clusters drop (reference semantics).
  // -------------------------------------------------------------------

  /** Decimal-exact mean `m` of the exploded `col` per (cid, pos) group;
    * the DuckDB twin is the `SUM(CAST(t.v AS DECIMAL(28,6)))` / COUNT(*)
    * term of `recomputeFlatSql` / `recomputeSql`. */
  private val posMean: Column =
    (sum(col("col").cast(Dec)).cast("double") / count(lit(1))).as("m")

  def recompute(points: DataFrame, assigned: DataFrame): DataFrame = {
    val joined = points.join(assigned.select("id", "cid"), "id")
    joined
      .select(col("cid"), posexplode(col("vec")))
      .groupBy("cid", "pos")
      .agg(posMean)
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cvec"))
  }

  /** Flattened recompute — (cid, pos, m) scalar rows — used by the
    * verified query surface (array-typed result columns don't survive
    * the driver's sort+hash compare; the array assembly is covered by
    * ScalaTest instead). */
  def recomputeFlat(points: DataFrame, assigned: DataFrame): DataFrame =
    points.join(assigned.select("id", "cid"), "id")
      .select(col("cid"), posexplode(col("vec")))
      .groupBy("cid", "pos")
      .agg(posMean)

  def recomputeFlatSql(ptsRel: String = "ptsnd", assignedRel: String = "assignednd"): String =
    s"""SELECT a.cid, t.pos,
       |  CAST(CAST(SUM(CAST(t.v AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS m
       |FROM $ptsRel p
       |JOIN $assignedRel a ON p.id = a.id,
       |LATERAL (SELECT unnest(generate_series(1, len(p.vec))) - 1 AS pos,
       |                unnest(p.vec) AS v) t
       |GROUP BY a.cid, t.pos""".stripMargin

  def recomputeSql(ptsRel: String = "ptsnd", assignedRel: String = "assignednd"): String =
    s"""SELECT cid, array_agg(m ORDER BY pos) AS cvec FROM (
       |  SELECT a.cid, t.pos,
       |    CAST(CAST(SUM(CAST(t.v AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS m
       |  FROM $ptsRel p
       |  JOIN $assignedRel a ON p.id = a.id,
       |  LATERAL (SELECT unnest(generate_series(1, len(p.vec))) - 1 AS pos,
       |                  unnest(p.vec) AS v) t
       |  GROUP BY a.cid, t.pos) s GROUP BY cid""".stripMargin

  /** Deterministic init: vectors of the k lowest ids. */
  def initFromLowestIds(points: DataFrame, k: Int): Seq[CentND] =
    points.orderBy("id").limit(k).collect().zipWithIndex.map { case (r, i) =>
      CentND(i, r.getSeq[Double](r.fieldIndex("vec")))
    }.toSeq

  /** Lloyd fit with the mapPartitions kernel; same loop contract as the
    * 2-D `KMeansFit.fit` (strict >tol displacement, empty-cluster drop,
    * points cached once). */
  def fit(points: DataFrame, init: Seq[CentND], maxIter: Int, tol: Double = 0.0,
      convergence: Boolean = true, numRows: Long = -1L): (Seq[CentND], Int) = {
    val spark = points.sparkSession
    val defPar = spark.sparkContext.defaultParallelism
    // Rebalance for the loop. Without a row count the target is the
    // full cluster width, as in the 2-D engine (decimal mean
    // aggregation is CPU-bound per row — on any real cluster input
    // splits already exceed the cores, so this is a local-mode knob).
    // With `numRows` (callers that run MANY small fits pay ONE
    // metadata-fast count and share it — PqIndex/IvfIndex) the target
    // is exact-size-aware: ~1 MB of in-memory rows per task, clamped
    // to [1, defaultParallelism], so a 2k-row codebook fit stays a
    // few-task kernel instead of 32-task scheduling weight per
    // superstep while a corpus-scale fit still fans out fully. The
    // budget is deliberately SMALL because the per-iteration decimal
    // mean aggregation is CPU-bound per row, not scan-bound: a 4 MB
    // budget starved the sf10 residual fits to 8 tasks and tripled
    // ivfpq there (measured r16) while 1 MB restores full width at
    // 200k rows and keeps the tiny gate-SF fits at 1-2 tasks. r16
    // note: an optimizer sizeInBytes estimate is NOT a substitute for
    // the count — parquet bytes under-read the replicated sf1 fixture
    // ~40× and a 200k×64 coarse fit landed on one task (ivf_topk
    // 2.8 → 18 s there). Row count × schema width cannot be fooled
    // that way. Result-identical under any partitioning: assignment
    // is per-row, means are DECIMAL-exact, init is id-ordered.
    val target =
      // init.isEmpty guard (r16 advice): the size-aware branch reads
      // init.head for the row width, and an empty init (e.g.
      // initFromLowestIds on an empty relation) must keep the old
      // behavior — maxIter=0 returns cleanly, maxIter>0 reaches
      // assignKernelVec's clear require — not a bare head exception.
      if (numRows < 0L || init.isEmpty) defPar
      else {
        val rowBytes = 24L + 8L * init.head.vec.length
        (((numRows * rowBytes) / (1L << 20)) + 1L).min(defPar.toLong)
          .max(1L).toInt
      }
    val balanced =
      if (points.rdd.getNumPartitions < target) points.repartition(target)
      else points
    val cached = balanced.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var cents = init
      var iter = 0
      var go = maxIter > 0
      while (go) {
        // One shuffle per iteration, k·dim flat rows collected, vectors
        // assembled driver-side (r16): the previous vec-carrying recompute +
        // collect ran a SECOND shuffle (groupBy(cid) + collect_list)
        // whose only purpose was array assembly the driver can do on
        // ≤ k·dim rows. Same (cid, pos) decimal-exact means, same
        // pos-ascending order as the array_sort(struct(pos, m)) it
        // replaces (pos is unique per cid), empty clusters still drop.
        val flat = assignKernelVec(cached, cents)
          .select(col("cid"), posexplode(col("vec")))
          .groupBy("cid", "pos")
          .agg(posMean)
          .collect()
        val next = flat.groupBy(_.getInt(0)).map { case (cid, rows) =>
          CentND(cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toIndexedSeq)
        }.toSeq.sortBy(_.cid)
        iter += 1
        go = iter < maxIter && (!convergence || moved(next, cents, tol))
        cents = next
      }
      (cents, iter)
    } finally { cached.unpersist(blocking = false) }
  }

  private def moved(newC: Seq[CentND], oldC: Seq[CentND], tol: Double): Boolean = {
    val old = oldC.map(c => c.cid -> c.vec).toMap
    newC.exists { n =>
      old.get(n.cid).exists { o =>
        var d = 0.0; var i = 0
        while (i < n.vec.length) { val dx = n.vec(i) - o(i); d += dx * dx; i += 1 }
        math.sqrt(d) > tol
      }
    }
  }

  /** SSE against a centroid set (kernel path). */
  def sse(points: DataFrame, cents: Seq[CentND]): Double =
    assignKernel(points, cents)
      .agg(sum(col("sqdist").cast(DecimalType(38, 6))).cast("double"))
      .collect()(0).getDouble(0)
}
