package graft.kmeans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DecimalType}

/** A 2-D centroid (reference `Centroid extends Point`, KMeans.java:406-430 —
  * immutable here; the reference's in-place `Point.sum/div` mutation is a
  * Flink object-reuse idiom we deliberately do not replicate, SURVEY.md §4). */
case class Cent(cid: Int, x: Double, y: Double)

/** The single-Lloyd-step operator kernel as declarative DataFrame
  * transforms. Every transform has an exact DuckDB-SQL twin (the
  * `*Sql` builders) so the driver's oracle can hash-compare results.
  *
  * Determinism notes (these make hash-exact oracle matching possible):
  *  - all per-row arithmetic is IEEE double ops (`*`, `+`, `-`, `sqrt`)
  *    that evaluate bit-identically in Spark codegen and DuckDB; we never
  *    use `pow` (libm-dependent — see the reference's 1-ULP
  *    `Math.pow(sqrt(d),2)` wrinkle, KMeans.java:357,381);
  *  - every SUM over doubles goes through a per-row cast to DECIMAL
  *    (deterministic rounding) followed by an EXACT decimal sum, so the
  *    result is independent of partition/accumulation order — the one
  *    thing that differs between engines and between Spark runs.
  */
object KMeansOps {

  private val Dec = DecimalType(28, 6)

  def sqDist(x: Column, y: Column, cx: Column, cy: Column): Column = {
    val dx = x - cx; val dy = y - cy
    dx * dx + dy * dy
  }

  // -----------------------------------------------------------------
  // O6 — nearest-centroid assignment (ComputeCentroidsDistance,
  // KMeans.java:264-290). Tie-break: strictly-less keeps the first
  // (lowest-cid) centroid (KMeans.java:281) → order by (sqdist, cid).
  // -----------------------------------------------------------------

  /** Broadcast-argmin as a pure projection: the k centroids are folded
    * into a `least(struct(sqdist, cid, cx, cy))` expression. ZERO shuffle,
    * whole-stage-codegen'd, scales linearly with input (the centroid set
    * plays the role of the reference's broadcast variable,
    * KMeans.java:159). This is the oracle-gated assignment; the fit
    * loop runs the same argmin inside `KMeansFit`'s kernel, which
    * KernelParitySpec pins against it. */
  def assign(points: DataFrame, cents: Seq[Cent]): DataFrame = {
    require(cents.nonEmpty, "assign: empty centroid set")
    val cands = cents.map { c =>
      struct(
        sqDist(col("x"), col("y"), lit(c.x), lit(c.y)).as("sq"),
        lit(c.cid).as("cid"), lit(c.x).as("cx"), lit(c.y).as("cy"))
    }
    val best = if (cands.size == 1) cands.head else least(cands: _*)
    points
      .withColumn("best", best)
      .select(col("pid"), col("x"), col("y"),
        col("best.cid").as("cid"), col("best.cx").as("cx"),
        col("best.cy").as("cy"), col("best.sq").as("sqdist"))
  }

  /** Broadcast-hash-join variant for larger k (centroids still fit in an
    * executor but not in a codegen expression): crossJoin(broadcast) +
    * per-pid packed-argmin aggregate — one shuffle on pid, map-side
    * partial agg. Same (sqdist, cid) ordering semantics as `assign`.
    *
    * The argmin key is NOT a struct — `min(struct(sq, cid))` has a
    * non-primitive aggregation buffer, which disqualifies
    * HashAggregateExec and silently plans TWO SortAggregates with full
    * sorts of the k-times-exploded relation (measured 4x slower at
    * sf0.1). Instead (sq, cid) is packed lexicographic-order-preserving
    * into ONE fixed-width DECIMAL(38,0): sq >= 0 always (sum of
    * squares), so its raw IEEE bits are order-isomorphic to its value
    * (`DoubleBits`), and `bits * 2^31 + cid` fits decimal-38 with exact
    * integer arithmetic for any int cid. A decimal buffer is
    * UnsafeRow-mutable, so the plan is partial HashAggregate (collapses
    * the k-fold blowup map-side, before the shuffle) -> Exchange(pid) ->
    * final HashAggregate — the 100 TB shape.
    *
    * The winning centroid's coordinates are re-derived after the
    * aggregate by a broadcast join on the k-row centroid set (zero
    * shuffle); x/y are constant within a pid group so they ride as
    * separate min() columns. */
  def assignJoin(points: DataFrame, centroids: DataFrame): DataFrame = {
    import graft.functions.VecFunctions.{bitsDouble, doubleBits}
    val M = 2147483648L // 2^31: cid headroom in the packed key
    val Dec38 = DecimalType(38, 0)
    val c = centroids.select(col("cid"), col("x").as("cx"), col("y").as("cy"))
    val packed =
      doubleBits(col("sq")).cast(Dec38) * lit(M) + col("cid").cast(Dec38)
    val bk = col("bk")
    val cidDec = bk % lit(M) // packed keys are non-negative: % == pmod
    // Group on the FULL point identity (pid, x, y), not pid alone: pid is
    // a derived natural-key packing the fixture does not guarantee unique
    // (sf0.001 carries one duplicated key with two payloads). The argmin
    // is a pure function of (x, y), so grouping by identity is lossless;
    // exact row multiplicity is restored by the sequence-explode below —
    // a zero-shuffle projection (n == 1 for virtually every group).
    points.crossJoin(broadcast(c))
      .withColumn("sq", sqDist(col("x"), col("y"), col("cx"), col("cy")))
      .groupBy("pid", "x", "y")
      .agg(min(packed).as("bk"), (count(lit(1)) / c.count()).cast("int").as("n"))
      .select(col("pid"), col("x"), col("y"),
        cidDec.cast("int").as("cid"),
        bitsDouble(floor((bk - cidDec) / lit(M)).cast("long")).as("sqdist"),
        col("n"))
      .withColumn("dup", explode(sequence(lit(1), col("n"))))
      .join(broadcast(c), Seq("cid"))
      .select(col("pid"), col("x"), col("y"), col("cid"),
        col("cx"), col("cy"), col("sqdist"))
  }

  /** DuckDB twin of `assign`: per-row LATERAL argmin with the same
    * tie-break (lowest sq, then lowest cid — reference first-wins).
    * LATERAL, not `ROW_NUMBER() PARTITION BY pid`: the engine assigns
    * every physical row independently, so the oracle must preserve row
    * MULTIPLICITY — a window keyed on pid silently collapses duplicate
    * pids (the synthetic sf0.001 lineitem carries one duplicated
    * natural key with two distinct payloads, which made every window
    * twin one row short of the engine). */
  def assignSql(ptsRel: String = "pts", centsRel: String = "cents"): String =
    s"""SELECT p.pid, p.x, p.y, a.cid, a.cx, a.cy, a.sq AS sqdist
       |FROM $ptsRel p CROSS JOIN LATERAL (
       |  SELECT c.cid, c.x AS cx, c.y AS cy,
       |         (p.x-c.x)*(p.x-c.x) + (p.y-c.y)*(p.y-c.y) AS sq
       |  FROM $centsRel c ORDER BY sq, c.cid LIMIT 1) a""".stripMargin

  // -----------------------------------------------------------------
  // O7/O8 — count-append + keyed sum/count aggregate
  // (PointCounterFieldAppend + CentroidReducer, KMeans.java:297-320).
  // -----------------------------------------------------------------

  /** O7 — (cid, p) → (cid, p, 1L); Spark's count(*) subsumes it, kept as
    * an explicit operator for surface parity. */
  def countAppend(assigned: DataFrame): DataFrame =
    assigned.select(col("pid"), col("cid"), lit(1L).as("cnt"))

  /** O8 — per-cid Σx, Σy, n. HashAggregateExec gives the partial/final
    * (combiner) split the reference gets from Flink's chained
    * ReduceFunction. Decimal-exact sums → order-independent. */
  def sumCount(assigned: DataFrame): DataFrame =
    assigned.groupBy("cid").agg(
      sum(col("x").cast(Dec)).cast("double").as("sx"),
      sum(col("y").cast(Dec)).cast("double").as("sy"),
      count(lit(1)).as("n"))

  def sumCountSql(assignedRel: String): String =
    s"""SELECT cid, CAST(CAST(SUM(CAST(x AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sx,
       |       CAST(CAST(SUM(CAST(y AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sy,
       |       COUNT(*) AS n
       |FROM $assignedRel GROUP BY cid""".stripMargin

  // -----------------------------------------------------------------
  // O9 — mean recompute (ComputeNewCentroids, KMeans.java:328-336),
  // folded into the aggregate: mean = CAST(decimal Σ AS DOUBLE) / n so
  // both engines perform the identical IEEE division.
  // An empty cluster simply produces no group — k can shrink, matching
  // the reference (SURVEY.md §5 edge semantics), unlike MLlib which
  // keeps the old center. The oracle-gated recompute; `KMeansFit`'s
  // kernel repeats its arithmetic per partition and is pinned against
  // it (KernelParitySpec).
  // -----------------------------------------------------------------
  def recompute(assigned: DataFrame): DataFrame =
    assigned.groupBy("cid").agg(
      (sum(col("x").cast(Dec)).cast("double") / count(lit(1))).as("x"),
      (sum(col("y").cast(Dec)).cast("double") / count(lit(1))).as("y"))

  def recomputeSql(assignedRel: String): String =
    s"""SELECT cid,
       |       CAST(CAST(SUM(CAST(x AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS x,
       |       CAST(CAST(SUM(CAST(y AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS y
       |FROM $assignedRel GROUP BY cid""".stripMargin

  /** One full Lloyd step as SQL: assign to `centsRel`, re-average.
    * Same LATERAL shape as [[assignSql]] (row-multiplicity-preserving;
    * see the comment there), projecting only the argmin cid. */
  def stepSql(ptsRel: String, centsRel: String): String =
    s"""SELECT a.cid,
       |       CAST(CAST(SUM(CAST(p.x AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS x,
       |       CAST(CAST(SUM(CAST(p.y AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS y
       |FROM $ptsRel p CROSS JOIN LATERAL (
       |  SELECT c.cid
       |  FROM $centsRel c
       |  ORDER BY (p.x-c.x)*(p.x-c.x) + (p.y-c.y)*(p.y-c.y), c.cid LIMIT 1) a
       |GROUP BY a.cid""".stripMargin

  // -----------------------------------------------------------------
  // O13/O14 — objective function (WCSS/SSE). The reference round-trips
  // Math.pow(sqrt(d), 2) (KMeans.java:357); we compute d directly.
  // -----------------------------------------------------------------

  /** O14 — per-point squared distance to its own centroid. */
  def objSqdist(assigned: DataFrame): DataFrame =
    assigned.select(col("pid"), col("sqdist"))

  /** O13 — global sum → 1-row scalar, decimal-exact. sqdist magnitude is
    * ≤ ~1e10 here so DECIMAL(38,6) holds ~1e22 worth of sum headroom. */
  // Exactness (fixed in r11, caught by the sf1 full-board replay):
  // sqdist is an IRRATIONAL double, and a direct double→DECIMAL(38,6)
  // cast rounds the exact binary expansion on the JVM but a scaled
  // float in DuckDB — they disagree on edge values, first observed at
  // sf1 magnitudes (Σ ≈ 9.3e13, off by one final-double ulp = 1/64).
  // The integer-grid recipe is engine-identical: x·1e6 and round() are
  // the same IEEE ops on both sides (for x·1e6 ≥ 2^53 round() is the
  // identity on an already-integral double), the integral double casts
  // to DECIMAL(38,0) exactly, the sum is exact, and the single final
  // divide is correctly rounded. Same 1e-6 grid as before — only the
  // rounding MECHANISM changed.
  def objective(assigned: DataFrame): DataFrame =
    assigned.agg(
      (sqdistGridSum.cast("string").cast("double") / 1e6).as("objective"))

  /** Σ round(sqdist·1e6) as an exact DECIMAL(38,0): the integer-grid sum
    * behind [[objective]]. `KMeansFit`'s kernel sums the same grid per
    * partition, and [[gridToObjective]] then yields the value
    * `objective` would. */
  def sqdistGridSum: Column =
    sum(round(col("sqdist") * 1e6).cast(DecimalType(38, 0)))

  /** Driver-side twin of [[objective]]'s final conversion of the exact
    * DECIMAL(38,0) grid sum: decimal → string → double and one divide,
    * the same steps (and so the same double) as the SQL. */
  def gridToObjective(total: Decimal): Double = total.toString.toDouble / 1e6

  def objectiveSql(assignedRel: String): String =
    s"SELECT CAST(CAST(SUM(CAST(ROUND(sqdist * 1e6) AS DECIMAL(38,0))) " +
      s"AS VARCHAR) AS DOUBLE) / 1e6 AS objective FROM $assignedRel"

  // -----------------------------------------------------------------
  // Simplified silhouette (centroid-based, the O(n·k) member of the
  // silhouette family): a = distance to own centroid, b = distance to
  // the nearest OTHER centroid, s = (b−a)/max(a,b) — the standard
  // "how well-separated is this clustering" eval without the exact
  // silhouette's O(n²) pairwise matrix. One zero-shuffle scan (the
  // argmin fold + a masked second-min fold in the same projection) and
  // one k-row aggregate; per-cluster means run on the 1e-12 integer
  // grid so the irrational sqrt terms sum order-independently.
  // -----------------------------------------------------------------
  def silhouette(points: DataFrame, cents: Seq[Cent]): DataFrame = {
    require(cents.size >= 2, "silhouette needs k >= 2")
    val Dec = DecimalType(38, 0)
    val withBest = assign(points, cents)
    val d2Others = cents.map { c =>
      when(lit(c.cid) === col("cid"), lit(Double.PositiveInfinity))
        .otherwise(sqDist(col("x"), col("y"), lit(c.x), lit(c.y)))
    }
    val a = sqrt(col("sqdist"))
    val b = sqrt(least(d2Others: _*))
    val s = when(greatest(a, b) === 0.0, lit(0.0))
      .otherwise((b - a) / greatest(a, b))
    withBest.select(col("cid"), s.as("s"))
      .groupBy("cid").agg(
        count(lit(1)).as("n"),
        (sum(round(col("s") * 1e12).cast(Dec)).cast("string").cast("double")
          / 1e12 / count(lit(1))).as("mean_sil"))
  }

  /** DuckDB twin: the same LATERAL argmin as [[assignSql]] plus a
    * second LATERAL min over the other centroids. */
  def silhouetteSql(ptsRel: String = "pts", centsRel: String = "cents"): String =
    s"""SELECT a.cid, COUNT(*) AS n,
       |  CAST(CAST(SUM(CAST(ROUND(
       |    CASE WHEN GREATEST(SQRT(a.sq), SQRT(b.sq2)) = 0.0 THEN 0.0
       |      ELSE (SQRT(b.sq2) - SQRT(a.sq)) /
       |        GREATEST(SQRT(a.sq), SQRT(b.sq2)) END * 1e12)
       |    AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 1e12 / COUNT(*)
       |    AS mean_sil
       |FROM $ptsRel p
       |CROSS JOIN LATERAL (
       |  SELECT c.cid, (p.x-c.x)*(p.x-c.x) + (p.y-c.y)*(p.y-c.y) AS sq
       |  FROM $centsRel c
       |  ORDER BY (p.x-c.x)*(p.x-c.x) + (p.y-c.y)*(p.y-c.y), c.cid
       |  LIMIT 1) a
       |CROSS JOIN LATERAL (
       |  SELECT MIN((p.x-c2.x)*(p.x-c2.x) + (p.y-c2.y)*(p.y-c2.y)) AS sq2
       |  FROM $centsRel c2 WHERE c2.cid <> a.cid) b
       |GROUP BY a.cid""".stripMargin

  // -----------------------------------------------------------------
  // k-means++ initialization (Arthur & Vassilvitskii 2007): first
  // center by a uniform md5 draw, then each next center with key
  // ln(u_p)/D²_p maximized — the exponential-race formulation of
  // D²-weighted sampling (one Gumbel-style race per point; u_p is the
  // per-point md5-60 uniform), which makes the classic randomized init
  // a PURE FUNCTION of the data, reproducible in any engine. Each of
  // the k rounds is a zero-shuffle scan projection (current centers
  // folded in as literals, like the production assign) feeding
  // TakeOrderedAndProject(1) — k passes over the data total. At 100 TB
  // you'd trade exactness for passes via k-means|| oversampling; this
  // is the exact sequential variant the oracle can replay (unrolled
  // per-round CTEs, same plog/least/division trees). Points colliding
  // with a chosen center (D²=0) get key -inf via an explicit CASE and
  // are never re-picked — identically in both engines (ANSI Spark
  // raises on x/0 rather than returning ±inf, so the CASE is load-
  // bearing, not cosmetic).
  // -----------------------------------------------------------------
  def kmeansPlusPlus(points: DataFrame, k: Int = 8, seed: Int = 11): DataFrame = {
    import graft.functions.PortableMath.plog
    val Two60 = 1152921504606846976.0
    // the md5 race hash is a pure per-point value used by all k rounds:
    // materialize it ONCE (the hash dominates the per-pass cost — the
    // k distance folds are cheap by comparison; measured 7.5 → ~2 s at
    // sf0.1 for k=8). Spread to full parallelism first: the single-file
    // fixture scan plans `min(maxPartitionBytes, max(openCost,
    // bytes/defPar))`-sized splits but the file holds ONE ~128 MB row
    // group per ~10M rows, so nearly all splits are EMPTY (sf1: 20
    // planned partitions, 1 non-empty) and the hash pass plus all k
    // TakeOrdered races run on a single core without the spread (races
    // are global sorts — partitioning changes no bits). A partition-
    // count ==1 guard is NOT equivalent: it misses the empty-split
    // shape (measured sf1 init_kmeanspp 10 s spread vs 19-20 s
    // unspread, 3 probes each).
    val defPar = points.sparkSession.sparkContext.defaultParallelism
    val wide =
      if (points.rdd.getNumPartitions < defPar) points.repartition(defPar)
      else points
    val hashed = wide
      .select(col("pid"), col("x"), col("y"),
        graft.ops.Dedup.md5Hash60(seed, col("pid").cast("string")).as("h"))
      .localCheckpoint(true)
    // ln(u) = -plog(2^60 / h), h clamped ≥ 1
    val lnU =
      lit(0.0) - plog(lit(Two60) / greatest(col("h"), lit(1L)).cast("double"))
    val first = hashed
      .orderBy(col("h").asc, col("pid").asc).limit(1)
      .select("pid", "x", "y").collect()(0)
    var cents = Vector((first.getLong(0), first.getDouble(1), first.getDouble(2)))
    while (cents.length < k) {
      val d2s = cents.map { case (_, cx, cy) =>
        sqDist(col("x"), col("y"), lit(cx), lit(cy))
      }
      val d2 = if (d2s.size == 1) d2s.head else least(d2s: _*)
      // chosen centers have D²=0 → push to -inf so they never re-win
      // (explicit CASE: ANSI Spark raises on x/0, DuckDB returns ±inf)
      val key = when(d2 === 0.0, lit(Double.NegativeInfinity))
        .otherwise(lnU / d2)
      val next = hashed
        .select(col("pid"), col("x"), col("y"), key.as("key"))
        .orderBy(col("key").desc, col("pid").asc).limit(1)
        .select("pid", "x", "y").collect()(0)
      cents = cents :+ ((next.getLong(0), next.getDouble(1), next.getDouble(2)))
    }
    val spark = points.sparkSession
    import spark.implicits._
    cents.zipWithIndex
      .map { case ((pid, x, y), i) => (i, pid, x, y) }
      .toDF("cid", "pid", "x", "y")
  }

  /** DuckDB twin: the same k unrolled rounds — each next-center CTE
    * recomputes the identical ln(u)/D² race against the previously
    * chosen 1-row CTEs. */
  def kmeansPlusPlusSql(k: Int = 8, seed: Int = 11): String = {
    import graft.functions.PortableMath.plogSql
    val Two60 = "1152921504606846976.0"
    val hE = graft.ops.Dedup.md5Hash60Sql(seed, "CAST(pid AS VARCHAR)")
    val lnU = s"(0.0 - ${plogSql(s"($Two60 / CAST(GREATEST(h, 1) AS DOUBLE))")})"
    val rounds = (2 to k).map { j =>
      val d2terms = (1 until j).map(i =>
        s"((p.x - c$i.x) * (p.x - c$i.x) + (p.y - c$i.y) * (p.y - c$i.y))")
      val d2 =
        if (d2terms.size == 1) d2terms.head
        else d2terms.mkString("LEAST(", ", ", ")")
      val froms = (1 until j).map(i => s"c$i").mkString(", ")
      val keyE = s"CASE WHEN $d2 = 0.0 THEN CAST('-infinity' AS DOUBLE) " +
        s"ELSE $lnU / $d2 END"
      s"""c$j AS MATERIALIZED (SELECT pid, x, y FROM (
         |  SELECT p.pid, p.x, p.y, $keyE AS key
         |  FROM hp p, $froms
         |  ORDER BY key DESC, p.pid ASC LIMIT 1) t$j)""".stripMargin
    }.mkString(", ")
    val outs = (1 to k).map(j =>
      s"SELECT ${j - 1} AS cid, pid, x, y FROM c$j").mkString(" UNION ALL ")
    s"""WITH pts AS (${graft.Tables.pointsSqlBody}),
       |hp AS MATERIALIZED (SELECT pid, x, y, $hE AS h FROM pts),
       |c1 AS MATERIALIZED (SELECT pid, x, y FROM hp
       |  ORDER BY h ASC, pid ASC LIMIT 1),
       |$rounds
       |SELECT CAST(cid AS INT) AS cid, pid, x, y FROM ($outs) f""".stripMargin
  }

  // -----------------------------------------------------------------
  // O11/O12 — convergence check: equi join new/old on cid + theta filter
  // dist > epsilon (strict: KMeans.java:175-181). Both sides are k rows →
  // Catalyst picks BroadcastHashJoin on its own.
  // -----------------------------------------------------------------
  def convergePairs(newC: DataFrame, oldC: DataFrame): DataFrame =
    newC.select(col("cid"), col("x").as("nx"), col("y").as("ny"))
      .join(oldC.select(col("cid"), col("x").as("ox"), col("y").as("oy")), Seq("cid"))

  def convergeFilter(pairs: DataFrame, epsilon: Double): DataFrame =
    pairs.withColumn("displacement",
        sqrt(sqDist(col("nx"), col("ny"), col("ox"), col("oy"))))
      .filter(col("displacement") > lit(epsilon))
}
