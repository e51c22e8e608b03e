package graft.kmeans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** N-dimensional K-Means — the generalization SURVEY.md §1.2 calls for
  * (the reference hardcodes 2-D `Point.x/y`; here a point is an
  * `array<double>` feature vector and the 2-D engine is the special
  * case). The fit is [[KMeansFit]]'s Lloyd loop, which runs in any
  * number of dimensions; this object reads the vectors for it and keeps
  * the verified query surface:
  *
  *  - `assign` / `recompute` — declarative (broadcast crossJoin + fold
  *    sqdist + min-struct argmin; decimal-exact per-(cid, pos) means),
  *    DuckDB-checkable, each with its SQL twin;
  *  - `assignKernel` — MLlib-style mapPartitions over primitive arrays
  *    with a broadcast centroid matrix, the same assignment without a
  *    shuffle.
  *
  * 100 TB posture matches the 2-D engine: each fit superstep is one
  * shuffle-free job over the cached vectors, whose tasks return k·dim
  * exact sums; the driver holds the centroids only.
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

  /** DuckDB twin of [[initFromLowestIds]]: the vectors of the `k` lowest
    * ids of `ptsRel` as centroids `(cid, cvec)`, cid 0 for the lowest. */
  def lowestIdsSql(ptsRel: String, k: Int): String =
    s"""SELECT CAST(rn - 1 AS INT) AS cid, vec AS cvec FROM
       |  (SELECT vec, ROW_NUMBER() OVER (ORDER BY id) AS rn FROM $ptsRel) t
       |  WHERE rn <= $k""".stripMargin

  /** DuckDB twin of `maxIter` fixed Lloyd steps over `ptsRel`, unrolled
    * as chained CTEs from the caller's centroid relation `<c>0`: step i
    * assigns into `<a>i` against `<c>(i-1)` and recomputes `<c>i` from
    * it. */
  def lloydStepsSql(maxIter: Int, ptsRel: String = "ptsnd", a: String = "a",
      c: String = "c"): String =
    (1 to maxIter).map { i =>
      s"$a$i AS (${assignSql(ptsRel, s"$c${i - 1}")}), " +
        s"$c$i AS (${recomputeSql(ptsRel, s"$a$i")})"
    }.mkString(", ")

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

  /** Lloyd fit over the `vec` column: [[KMeansFit]]'s kernel at the
    * centroids' dim, one shuffle-free job per superstep over the
    * vectors, cached once. Strict >tol displacement, empty clusters
    * dropped, each step `==` `recompute(points, assign(points, cents))`.
    * An empty `init` at `maxIter` 0 returns as it is, with no job.
    * @throws IllegalArgumentException for a centroid with a null, NaN or
    *         ±Inf element or another length than the first's, before any
    *         job; for a null vector, a null, NaN or ±Inf element or a
    *         vector of another length, in the first job */
  def fit(points: DataFrame, init: Seq[CentND], maxIter: Int, tol: Double = 0.0,
      convergence: Boolean = true): (Seq[CentND], Int) = {
    val (sets, iter) = fitSets(points, Seq(init), maxIter, tol, convergence)
    (sets.head, iter)
  }

  /** [[fit]] of m centroid sets in lockstep, set s over the s-th of m
    * equal consecutive slices of every vector (PQ's subspaces): the
    * result of m separate fits over the sliced vectors, in one job per
    * superstep. The slice width is the first centroid's length. */
  private[graft] def fitSets(points: DataFrame, init: Seq[Seq[CentND]], maxIter: Int,
      tol: Double, convergence: Boolean): (Seq[Seq[CentND]], Int) = {
    val dim = init.size * init.head.headOption.flatMap(c => Option(c.vec)).fold(0)(_.length)
    val (sets, iter, _, _) =
      KMeansFit.lloyd(KMeansFit.vectors(points, dim), dim, init, maxIter, tol, convergence)
    (sets, iter)
  }

  /** SSE against a centroid set (kernel path). */
  def sse(points: DataFrame, cents: Seq[CentND]): Double =
    assignKernel(points, cents)
      .agg(sum(col("sqdist").cast(DecimalType(38, 6))).cast("double"))
      .collect()(0).getDouble(0)
}
