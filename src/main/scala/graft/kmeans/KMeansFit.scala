package graft.kmeans

import java.math.{BigInteger, RoundingMode}
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{Decimal, DoubleType}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuilder
import scala.util.Random

/** Engine configuration — the reference CLI surface (O18,
  * flink-project/src/main/java/org/apache/flink/KMeans.java:58-66,
  * documented README.md:10-32) as an immutable case class.
  *
  * @param k             number of centroids (`-numcentroids`, default 6)
  * @param maxIter       max Lloyd iterations (`-iterations`, default 100)
  * @param tol           convergence epsilon (`-epsilon`); a centroid has
  *                      "moved" iff its Euclidean displacement is
  *                      STRICTLY greater than tol (KMeans.java:179)
  * @param convergence   enable the Δ-convergence early exit
  *                      (`-custconvergence`, default false → always run
  *                      maxIter supersteps, KMeans.java:66,173-185)
  * @param minC, maxC    bounds of the uniform random-init square
  *                      (`-minc`/`-maxc`, defaults ±15, KMeans.java:82-86)
  * @param recompNearest re-spacing heuristic pass count
  *                      (`-recompnearest`, KMeans.java:98-118)
  * @param seed          RNG seed — the reference uses an unseeded
  *                      `new Random()` (KMeans.java:88); we require a seed
  *                      for reproducibility (SURVEY.md §2 O3)
  */
case class KMeansConfig(
    k: Int = 6,
    maxIter: Int = 100,
    tol: Double = 0.0,
    convergence: Boolean = true,
    minC: Double = -15.0,
    maxC: Double = 15.0,
    recompNearest: Int = 0,
    seed: Long = 42L)

/** Result of a fit: final centroids, iterations actually run, and the
  * per-iteration objective (SSE) trace when requested (`fit(trace=true)`;
  * empty otherwise). `objTrace(i)` = SSE against the centroids produced
  * by superstep i+1 — the quantity the reference's script_3 harness logs
  * per iteration (scripts/script_3.sh:18-42,
  * script_results/script_3/results_objfun_N.csv). Every entry equals
  * `KMeansFit.sse` against those centroids exactly, so the last one is
  * the objective of [[centroids]]. */
case class FitResult(
    centroids: Seq[Cent], iterations: Int, objTrace: Seq[Double] = Nil)

/** O10 — the bulk-iteration (Lloyd) driver loop. The reference runs this
  * as a Flink `IterativeDataSet` superstep loop (KMeans.java:148,173-185);
  * the Spark shape — the one `org.apache.spark.ml.clustering.KMeans`
  * runs internally — is a DRIVER-side loop over a cached RDD: the
  * points' coordinates are cached once per fit as two primitive arrays
  * per partition, and each superstep is one `mapPartitions` + `collect`.
  *
  * 100 TB posture: one iteration is ONE job, with no shuffle and no
  * query planning. Each task scans its partition's arrays once (nearest
  * centroid, then a count and coordinate sums into k slots), so k slots
  * × partitions cross the wire, and the driver merges them exactly.
  * Driver memory holds the centroids and those slots, never data.
  */
object KMeansFit {

  /** Euclidean displacement between two centroid sets, by cid; a centroid
    * whose cluster vanished (empty cluster — reference drops the group,
    * SURVEY.md §5) counts as not-moved. */
  private def moved(newC: Seq[Cent], oldC: Seq[Cent], tol: Double): Boolean = {
    val old = oldC.map(c => c.cid -> c).toMap
    newC.exists { n =>
      old.get(n.cid).exists { o =>
        val dx = n.x - o.x; val dy = n.y - o.y
        math.sqrt(dx * dx + dy * dy) > tol  // STRICT > (KMeans.java:179)
      }
    }
  }

  /** One partition of the fit's cache: the points' coordinates. */
  private[kmeans] final case class Coords(xs: Array[Double], ys: Array[Double])

  /** The `x`/`y` coordinates of `points` as one [[Coords]] per partition,
    * read from the physical rows (no Row conversion; `pid` and any other
    * column is pruned). A null, NaN or ±Inf coordinate raises an
    * `IllegalArgumentException` naming its column, in this same pass.
    * Input with fewer partitions than `defaultParallelism` (small files,
    * local runs) is widened to it, so every superstep runs at full
    * width: each partition is cut into that many contiguous slices,
    * shuffled once, and each target reassembles its slices in
    * source-partition order. On a real cluster the scan already has
    * more splits than cores and there is no shuffle. */
  private[kmeans] def coordinates(points: DataFrame): RDD[Coords] = {
    val rows = points.select(col("x").cast(DoubleType), col("y").cast(DoubleType))
      .queryExecution.toRdd
    val cols = rows.mapPartitions { it =>
      val xs = new ArrayBuilder.ofDouble
      val ys = new ArrayBuilder.ofDouble
      it.foreach { r => xs += finite(r, 0, "x"); ys += finite(r, 1, "y") }
      Iterator.single(Coords(xs.result(), ys.result()))
    }
    val width = points.sparkSession.sparkContext.defaultParallelism
    if (rows.getNumPartitions >= width) cols
    else cols.mapPartitionsWithIndex { (src, it) =>
      val c = it.next()
      Iterator.tabulate(width) { t =>
        val from = (c.xs.length.toLong * t / width).toInt
        val until = (c.xs.length.toLong * (t + 1) / width).toInt
        (t, (src, Coords(c.xs.slice(from, until), c.ys.slice(from, until))))
      }
    }.partitionBy(new HashPartitioner(width)).mapPartitions { it =>
      val slices = it.map(_._2).toSeq.sortBy(_._1).map(_._2)
      Iterator.single(Coords(Array.concat(slices.map(_.xs): _*),
        Array.concat(slices.map(_.ys): _*)))
    }
  }

  private def finite(r: InternalRow, i: Int, name: String): Double = {
    val v = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
    if (v.isNaN || v.isInfinite) throw new IllegalArgumentException(
      s"k-means input column $name holds a null, NaN or infinite value")
    v
  }

  /** `d` as DECIMAL(p, s), rounded HALF_UP by the method Spark's cast to
    * that type uses, and raising where that cast raises (ANSI
    * NUMERIC_VALUE_OUT_OF_RANGE). */
  private def decimal(d: Decimal, p: Int, s: Int): Decimal =
    if (d.changePrecision(p, s)) d
    else throw new ArithmeticException(
      s"NUMERIC_VALUE_OUT_OF_RANGE: ${d.toPlainString} cannot be represented as Decimal($p, $s)")

  /** The unscaled value of `v` cast to DECIMAL(p, s). */
  private def unscaled(v: Double, p: Int, s: Int): BigInteger =
    decimal(Decimal(v), p, s).toJavaBigDecimal.unscaledValue

  /** One task's k cluster slots, indexed like the cid-sorted centroids:
    * point count, coordinate sums (plain doubles on the fast path,
    * unscaled DECIMAL(28,6) on the exact one) and, when traced, the
    * partition's objective grid sum. */
  private final class Slots(k: Int) extends Serializable {
    val n = new Array[Long](k)
    val sx, sy = new Array[Double](k)
    val ux, uy = Array.fill(k)(BigInteger.ZERO)
    var grid = BigInteger.ZERO
  }

  /** One Lloyd step over `points`: assign each point to its nearest
    * centroid, then re-average per cluster. Empty clusters produce no
    * centroid (k may shrink), matching the reference's reduce semantics
    * — NOT MLlib's keep-old-center behavior. Runs the fit's kernel once
    * over the points, uncached.
    *
    * @param exact   decimal-exact (order-independent) sums when true, the
    *                values `KMeansOps.recompute(KMeansOps.assign(...))`
    *                gives; plain double sums when false — the reference's
    *                own arithmetic, far cheaper per point
    * @param withSse also return the SSE of `points` against the INPUT
    *                centroids `cents`, equal to [[sse]]`(points, cents)`:
    *                the argmin already has each point's distance to its
    *                centroid, so the same pass sums it on the objective's
    *                integer grid
    * @return the next centroids, and the SSE when `withSse` */
  def step(points: DataFrame, cents: Seq[Cent], exact: Boolean = true,
      withSse: Boolean = false): (Seq[Cent], Option[Double]) =
    step(coordinates(points), cents, exact, withSse)

  /** The kernel: one `mapPartitions` + `collect` over the coordinate
    * cache, one job, no shuffle. Same arithmetic as the SQL operators:
    * the argmin scans the centroids in cid order and keeps the first
    * strictly smaller squared distance (the `least(struct(sq, cid))`
    * tie-break toward the lowest cid); the exact path converts each
    * coordinate to DECIMAL(28,6) with Spark's own `Decimal`, sums the
    * unscaled values exactly and divides `Decimal.toDouble` of the
    * DECIMAL(38,6) sum by the count; the objective sums
    * round(sq·1e6) as DECIMAL(38,0) like `KMeansOps.sqdistGridSum`.
    * The `collect` stays in this method: the benchmark attributes a job
    * to the innermost repository frame of its call site. */
  private[kmeans] def step(coords: RDD[Coords], cents: Seq[Cent], exact: Boolean,
      withSse: Boolean): (Seq[Cent], Option[Double]) = {
    require(cents.nonEmpty, "step: empty centroid set")
    val cs = cents.sortBy(_.cid).toArray
    val k = cs.length
    val cx = cs.map(_.x)
    val cy = cs.map(_.y)
    // centroids sharing a cid share its slot, as they share one SQL group
    val slot = cs.map(c => cs.indexWhere(_.cid == c.cid))
    val parts = coords.mapPartitions(_.map { c =>
      val s = new Slots(k)
      var i = 0
      while (i < c.xs.length) {
        val x = c.xs(i); val y = c.ys(i)
        var best = 0
        var bestSq = 0.0
        var j = 0
        while (j < k) {
          val dx = x - cx(j); val dy = y - cy(j)
          val sq = dx * dx + dy * dy
          if (j == 0 || sq < bestSq) { best = j; bestSq = sq }
          j += 1
        }
        val b = slot(best)
        s.n(b) += 1
        if (exact) {
          s.ux(b) = s.ux(b).add(unscaled(x, 28, 6))
          s.uy(b) = s.uy(b).add(unscaled(y, 28, 6))
        } else { s.sx(b) += x; s.sy(b) += y }
        if (withSse) s.grid = s.grid.add(unscaled(java.math.BigDecimal.valueOf(bestSq * 1e6)
          .setScale(0, RoundingMode.HALF_UP).doubleValue, 38, 0))
        i += 1
      }
      s
    }).collect()
    def total(sums: Array[BigInteger]) = sums.foldLeft(BigInteger.ZERO)(_ add _)
    def mean(sums: Array[BigInteger], n: Long): Double =
      decimal(Decimal(new java.math.BigDecimal(total(sums), 6)), 38, 6).toDouble / n
    val next = (0 until k).filter(i => slot(i) == i).flatMap { i =>
      val n = parts.map(_.n(i)).sum
      if (n == 0) None
      else if (exact) Some(Cent(cs(i).cid, mean(parts.map(_.ux(i)), n), mean(parts.map(_.uy(i)), n)))
      else Some(Cent(cs(i).cid, parts.map(_.sx(i)).sum / n, parts.map(_.sy(i)).sum / n))
    }
    val sse = Option.when(withSse)(
      KMeansOps.gridToObjective(decimal(Decimal(total(parts.map(_.grid))), 38, 0)))
    (next, sse)
  }

  /** Full fit. Caches the points' coordinates for the duration of the
    * loop (the one real performance decision vs the reference —
    * SURVEY.md §4; see [[coordinates]]) and unpersists them on exit.
    * Every superstep is one kernel job over that cache (see [[step]]).
    *
    * @param trace record the per-iteration objective (SSE vs the freshly
    *              updated centroids) in [[FitResult.objTrace]]. Step i+1
    *              sums the SSE against step i's centroids in its own
    *              pass, so the trace costs one extra kernel pass in total
    *              (for the final centroids).
    * @param exact decimal-exact sums (bit-reproducible across partition
    *              orders, the arithmetic the DuckDB oracle replicates)
    *              when true; the reference's plain double sums when
    *              false. The paths agree to within n·eps of the summed
    *              magnitudes (golden replay passes at 1e-9 relative with
    *              either; KernelParitySpec pins the agreement). */
  def fit(points: DataFrame, init: Seq[Cent], cfg: KMeansConfig,
      trace: Boolean = false, exact: Boolean = true): FitResult = {
    require(init.nonEmpty, "fit: empty initial centroid set")
    val cache = coordinates(points).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var cents = init
      var iter = 0
      var go = cfg.maxIter > 0
      val objs = Seq.newBuilder[Double]
      while (go) {
        val (next, prevSse) = step(cache, cents, exact, withSse = trace)
        iter += 1
        // step i+1 measured the SSE of step i's centroids: trace entry
        // i-1; the first step's (the initial centroids') is not traced
        if (iter > 1) objs ++= prevSse
        go = iter < cfg.maxIter &&
          (!cfg.convergence || moved(next, cents, cfg.tol))
        cents = next
      }
      if (trace && iter > 0) objs ++= step(cache, cents, exact, withSse = true)._2
      FitResult(cents, iter, objs.result())
    } finally { cache.unpersist(blocking = false) }
  }

  /** SSE of a points relation against a centroid set (O13+O14 composed). */
  def sse(points: DataFrame, cents: Seq[Cent]): Double =
    KMeansOps.objective(KMeansOps.assign(points, cents))
      .collect()(0).getDouble(0)

  // -------------------------------------------------------------------
  // O3 — seeded uniform random init (KMeans.java:88-95: k centroids
  // uniform in [minC, maxC]², ids 0..k-1). Reference draws x then y per
  // centroid from one RNG stream; we mirror that draw order.
  // -------------------------------------------------------------------
  def randomInit(cfg: KMeansConfig): Seq[Cent] = {
    val rnd = new Random(cfg.seed)
    def draw(): Double = cfg.minC + (cfg.maxC - cfg.minC) * rnd.nextDouble()
    val base = (0 until cfg.k).map { i => Cent(i, draw(), draw()) }
    if (cfg.recompNearest > 0) respace(base, cfg, rnd) else base
  }

  // -------------------------------------------------------------------
  // O4 — centroid re-spacing heuristic (KMeans.java:98-118): repeat
  // `recompNearest` times: find the globally closest pair among the k
  // candidates (O(k²) driver-side scan) and re-randomize the SECOND
  // member of the pair. The reference resets min-tracking per pass and
  // never re-places the first element — we replicate the semantics
  // (re-place one member of the closest pair), not the exact scan-order
  // quirks, per SURVEY.md §2 O4.
  // -------------------------------------------------------------------
  def respace(cents: Seq[Cent], cfg: KMeansConfig, rnd: Random): Seq[Cent] = {
    def draw(): Double = cfg.minC + (cfg.maxC - cfg.minC) * rnd.nextDouble()
    val arr = cents.toArray
    for (_ <- 0 until cfg.recompNearest) {
      var best = (0, 1)
      var bestD = Double.MaxValue
      for (i <- arr.indices; j <- arr.indices if i != j) {
        val dx = arr(i).x - arr(j).x; val dy = arr(i).y - arr(j).y
        val d = math.sqrt(dx * dx + dy * dy)
        if (d < bestD) { bestD = d; best = (i, j) }
      }
      val j = best._2
      arr(j) = Cent(arr(j).cid, draw(), draw())
    }
    arr.toSeq
  }
}
