package graft.kmeans

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
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
  * the idiomatic Spark shape — identical to what
  * `org.apache.spark.ml.clustering.KMeans` does internally — is a
  * DRIVER-side loop: the points relation is cached once (loop-invariant),
  * each step runs the zero-shuffle assign + one k-group aggregate, and
  * only the k-row centroid set is collected per superstep.
  *
  * 100 TB posture: per iteration the only data movement is (a) one scan of
  * the cached points with a codegen'd argmin projection — no shuffle — and
  * (b) a partial/final hash aggregate over k groups (k rows cross the
  * wire per partition). Driver memory holds k centroids, never data.
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

  /** One Lloyd step: assign each point to its nearest centroid, then
    * re-average per cluster. Empty clusters produce no group (k may
    * shrink), matching the reference's reduce semantics — NOT MLlib's
    * keep-old-center behavior.
    *
    * @param exact   decimal-exact (order-independent) sums when true — the
    *                oracle-parity arithmetic; plain double sums when false
    *                — the reference's own arithmetic, ~2x cheaper per row
    * @param withSse also return the SSE of `points` against the INPUT
    *                centroids `cents`, equal to [[sse]]`(points, cents)`.
    *                The argmin already has each point's distance to its
    *                centroid, so the step's aggregate sums it per cluster
    *                on the objective's integer grid and the driver adds
    *                the k partial sums exactly: no second pass.
    * @return the next centroids, and the SSE when `withSse` */
  def step(points: DataFrame, cents: Seq[Cent], exact: Boolean = true,
      withSse: Boolean = false): (Seq[Cent], Option[Double]) = {
    // label-only assignment: the recompute reads nothing but (cid, x, y)
    // and, traced, the distance, so the full assign's carried centroid
    // coords are dead work in the hot loop (KMeansOps.assignLabel doc)
    val assigned = KMeansOps.assignLabel(points, cents, withSq = withSse)
    val extra = if (withSse) Seq(KMeansOps.sqdistGridSum.as("sq6")) else Nil
    val rows =
      (if (exact) KMeansOps.recompute(assigned, extra: _*)
       else KMeansOps.recomputeFast(assigned, extra: _*)).collect()
    val next = rows.map(r => Cent(r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .toSeq.sortBy(_.cid)
    val sse =
      if (withSse) Some(KMeansOps.gridToObjective(rows.map(_.getDecimal(3)).toSeq))
      else None
    (next, sse)
  }

  /** Full fit. Caches `points` for the duration of the loop (the one real
    * performance decision vs the reference — SURVEY.md §4) and unpersists
    * on exit.
    *
    * @param trace record the per-iteration objective (SSE vs the freshly
    *              updated centroids) in [[FitResult.objTrace]]. Step i+1
    *              sums the SSE against step i's centroids in its own
    *              aggregate, so the trace costs one extra pass over the
    *              cached points in total (for the final centroids). Off,
    *              the loop plans exactly one scan + one k-group aggregate
    *              per iteration with no objective column.
    * @param exact decimal-exact sums (bit-reproducible across partition
    *              orders, the arithmetic the DuckDB oracle replicates)
    *              when true; the reference's plain double sums when
    *              false. The paths agree to within n·eps of the summed
    *              magnitudes (golden replay passes at 1e-9 relative with
    *              either; RecomputeSpec pins the agreement). */
  def fit(points: DataFrame, init: Seq[Cent], cfg: KMeansConfig,
      trace: Boolean = false, exact: Boolean = true): FitResult = {
    require(init.nonEmpty, "fit: empty initial centroid set")
    // The loop re-scans the cached points every superstep; if the source
    // scan has fewer splits than cores (small files / local runs), pay
    // one repartition up front so all iterations run at full
    // parallelism. On a real cluster the scan already has >> cores
    // splits and this is a no-op.
    val defPar = points.sparkSession.sparkContext.defaultParallelism
    val balanced =
      if (points.rdd.getNumPartitions < defPar) points.repartition(defPar)
      else points
    val cached = balanced.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var cents = init
      var iter = 0
      var go = cfg.maxIter > 0
      val objs = Seq.newBuilder[Double]
      while (go) {
        val (next, prevSse) = step(cached, cents, exact, withSse = trace)
        iter += 1
        // step i+1 measured the SSE of step i's centroids: trace entry
        // i-1; the first step's (the initial centroids') is not traced
        if (iter > 1) objs ++= prevSse
        go = iter < cfg.maxIter &&
          (!cfg.convergence || moved(next, cents, cfg.tol))
        cents = next
      }
      if (trace && iter > 0) objs += sse(cached, cents)
      FitResult(cents, iter, objs.result())
    } finally { cached.unpersist(blocking = false) }
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
