package graft.kmeans

import java.math.BigInteger
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{Decimal, DoubleType, LongType, StructType}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuilder

import graft.functions.PortableMath

/** k-means|| initialization (Bahmani, Moseley, Vattani, Kumar,
  * Vassilvitskii — "Scalable k-means++", VLDB 2012): the O(log n)-pass
  * replacement for the k sequential passes of k-means++
  * ([[KMeansOps.kmeansPlusPlus]], whose Scaladoc flags exactly this
  * operator as the 100 TB path). Each round samples EVERY point
  * independently with probability min(1, l·d²(p,C)/φ(C)) — an
  * embarrassingly-parallel scan — instead of one D²-race winner per
  * pass, so R≈5 rounds replace k passes and the driver only ever sees
  * the ~l·R-row candidate set (codebook-sized), which a weighted
  * k-means++ race then reduces to the final k seeds.
  *
  * Reference anchor: the reference seeds its generated-centroid entry
  * point uniformly (KMeans.java:120 `env.fromCollection` of random
  * draws); this is the published scale-first upgrade of that init,
  * kept oracle-replayable.
  *
  * Determinism (the whole pipeline is a PURE FUNCTION of the data,
  * hash-matchable against a DuckDB twin):
  *  - per-round uniforms u_p are md5-60 draws keyed (seed+round, pid)
  *    — no RNG state, engine-independent;
  *  - the round cost φ(C) is an EXACT decimal sum of 1e-6-grid-snapped
  *    d² (order-independent), converted to double through the
  *    canonical string cast both engines share
  *    ([[KMeansOps.gridToObjective]]);
  *  - the Bernoulli test is `u·φ < l·d²` — one IEEE multiply per side,
  *    no division, bit-identical in both engines; min(1,·) is
  *    automatic (u < 1 ⇒ u·φ < φ ≤ l·d² whenever the clamp binds);
  *  - each round's accepted set is ordered (pid, x, y) and truncated
  *    at `cap` IN BOTH ENGINES — the hard per-round ceiling that keeps
  *    the driver collect bounded under adversarial data (the DF-cap
  *    self-disarming convention: at the expected l≈2k acceptances the
  *    cap never fires);
  *  - chosen points have d² = 0 and are excluded by the `d² > 0` arm
  *    (ANSI Spark raises on x/0; there is no division anywhere).
  *
  * Scale shape: the MLlib `KMeans.initKMeansParallel` shape on
  * [[KMeansFit]]'s kernel idiom. The points' pid, x, y and every
  * round's draw are read once into one cached block of primitive arrays
  * per partition (widened by [[KMeansFit.widen]]), and every pass is
  * one closure-free `runJob` of a named kernel over that cache whose
  * tasks return a few values the driver merges exactly: the fill (the
  * first pick), per round a cost job (it persists d²_r, the min of
  * d²_{r−1} and the distances to round r−1's new centres, and returns
  * φ's grid sums) and a sample job (each partition's first `cap`
  * acceptances), then one weights job (per-candidate counts). That is
  * 2R+2 jobs over one cache and no query planned per round; no
  * point-sized relation ever shuffles, and per-point work per round is
  * O(cap).
  */
object KMeansParallel {

  private val Two60 = 1152921504606846976.0
  private val Two60Sql = "1152921504606846976.0"

  /** Defaults: l = 2k oversampling (the paper's recommendation),
    * R = 3 rounds, cap = 2l hard per-round ceiling. */
  val K = 8
  val L = 16
  val Rounds = 3
  val Cap = 32
  val Seed = 23
  val FinalSeed = 71

  /** One accepted candidate: enumeration identity is (rnd, pid, x, y). */
  final case class Cand(cidx: Int, rnd: Int, pid: Long, x: Double, y: Double)

  /** A point's identity (pid, x, y), ordered with doubles compared as
    * Spark SQL sorts them. */
  private type Pt = (Long, Double, Double)
  private val SqlDouble: Ordering[Double] = compareDoubles(_, _)
  private val ByPt: Ordering[Pt] = Ordering.Tuple3(Ordering.Long, SqlDouble, SqlDouble)

  /** (h0, pid, x, y) order: the first pick's. */
  private val ByDraw: Ordering[(Long, Pt)] = Ordering.Tuple2(Ordering.Long, ByPt)

  /** One partition of the sweep's cache: the points' pids and
    * coordinates, and `hs(r)(i)`, point i's draw of round r. */
  private[kmeans] final case class Points(pids: Array[Long], xs: Array[Double], ys: Array[Double],
      hs: Array[Array[Long]]) extends KMeansFit.Block[Points] {
    def length: Int = pids.length
    def slice(from: Int, until: Int): Points = Points(pids.slice(from, until),
      xs.slice(from, until), ys.slice(from, until), hs.map(_.slice(from, until)))
    def pt(i: Int): Pt = (pids(i), xs(i), ys(i))
  }

  /** The first 60 bits of md5(prefix ++ key) as a long, the value
    * [[graft.ops.Dedup.md5Hash60]] reads from the first 15 hex digits. */
  private def md5Hash60(md: MessageDigest, prefix: Array[Byte], key: Array[Byte]): Long = {
    md.update(prefix)
    ByteBuffer.wrap(md.digest(key)).getLong >>> 4
  }

  /** `points`' pid, x and y as one [[Points]] per partition, read from
    * the physical rows and widened ([[KMeansFit.widen]]), with the draws
    * of rounds 0 until `draws`: round r's draw of a point is
    * `Dedup.md5Hash60(seed + r, pid)`. A null pid, or a null, NaN or
    * ±Inf coordinate, raises an `IllegalArgumentException` naming its
    * column in the pass that reads it. */
  private[kmeans] def read(points: DataFrame, seed: Int, draws: Int): RDD[Points] = {
    val rows = points.select(col("pid").cast(LongType), col("x").cast(DoubleType),
      col("y").cast(DoubleType)).queryExecution.toRdd
    val wide = KMeansFit.widen(rows.mapPartitions { it =>
      val pids = new ArrayBuilder.ofLong
      val xs = new ArrayBuilder.ofDouble
      val ys = new ArrayBuilder.ofDouble
      it.foreach { r =>
        if (r.isNullAt(0))
          throw new IllegalArgumentException("k-means input column pid holds a null value")
        pids += r.getLong(0)
        xs += KMeansFit.finite(r, 1, KMeansFit.nonFinite("x"))
        ys += KMeansFit.finite(r, 2, KMeansFit.nonFinite("y"))
      }
      Iterator.single(Points(pids.result(), xs.result(), ys.result(), Array.empty))
    })
    wide.mapPartitions(_.map { p =>
      val md = MessageDigest.getInstance("MD5")
      p.copy(hs = Array.tabulate(draws) { r =>
        val prefix = s"${seed + r}|".getBytes(UTF_8)
        p.pids.map(pid => md5Hash60(md, prefix, java.lang.Long.toString(pid).getBytes(UTF_8)))
      })
    })
  }

  /** Fill pass: the partition's least (h0, pid, x, y). */
  private object FirstPick
      extends ((TaskContext, Iterator[Points]) => Option[(Long, Pt)]) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[Points]): Option[(Long, Pt)] = {
      val p = it.next()
      (0 until p.length).map(i => (p.hs(0)(i), p.pt(i))).minOption(ByDraw)
    }
  }

  /** d²_0: no centre yet. */
  private object Unreached extends (Iterator[Points] => Iterator[Array[Double]]) with Serializable {
    def apply(it: Iterator[Points]): Iterator[Array[Double]] =
      it.map(p => Array.fill(p.length)(Double.PositiveInfinity))
  }

  /** d²_r of a partition: d²_{r−1} lowered to each point's squared
    * distance to a new centre (cx, cy), dx·dx + dy·dy with dx = x − cx.
    * Min is comparison-only, so folding each round's new centres in
    * gives the SQL twin's MIN over the whole centre set bit for bit. */
  private final class Fold(cx: Array[Double], cy: Array[Double])
      extends ((Iterator[Points], Iterator[Array[Double]]) => Iterator[Array[Double]]) with Serializable {
    def apply(ps: Iterator[Points], prev: Iterator[Array[Double]]): Iterator[Array[Double]] = {
      val p = ps.next()
      val d2 = prev.next().clone() // prev may be a cached block
      var i = 0
      while (i < d2.length) {
        var j = 0
        while (j < cx.length) {
          val dx = p.xs(i) - cx(j); val dy = p.ys(i) - cy(j)
          val sq = dx * dx + dy * dy
          if (sq < d2(i)) d2(i) = sq
          j += 1
        }
        i += 1
      }
      Iterator.single(d2)
    }
  }

  /** The partition's φ grid sum: Σ round(d²·1e6) as DECIMAL(38,0)
    * ([[KMeansFit.gridValue]]), in `Long` parts that spill into a
    * `BigInteger`. */
  private object Cost extends ((TaskContext, Iterator[Array[Double]]) => BigInteger) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[Array[Double]]): BigInteger = {
      val lg = new Array[Long](1)
      val ug = Array(BigInteger.ZERO)
      it.foreach(_.foreach { d =>
        val g = KMeansFit.halfUp(d * 1e6)
        if (g != KMeansFit.Undecided) KMeansFit.addSpilling(lg, ug, 0, g)
        else ug(0) = ug(0).add(KMeansFit.gridValue(d))
      })
      ug(0).add(BigInteger.valueOf(lg(0)))
    }
  }

  /** A partition's points beside their d². */
  private object Zip extends ((Iterator[Points], Iterator[Array[Double]]) => Iterator[(Points, Array[Double])])
      with Serializable {
    def apply(ps: Iterator[Points], ds: Iterator[Array[Double]]): Iterator[(Points, Array[Double])] = ps.zip(ds)
  }

  /** Round r's acceptances in the partition, its first `cap` in (pid, x,
    * y) order: d² > 0 and u·φ < l·d², with u = h_r / 2^60. */
  private final class Sample(r: Int, phi: Double, l: Double, cap: Int)
      extends ((TaskContext, Iterator[(Points, Array[Double])]) => Array[Pt]) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[(Points, Array[Double])]): Array[Pt] = {
      val (p, d2) = it.next()
      val h = p.hs(r)
      (0 until p.length).filter(i => d2(i) > 0.0 && h(i).toDouble / Two60 * phi < l * d2(i))
        .map(p.pt).sorted(ByPt).take(cap).toArray
    }
  }

  /** The partition's point count per candidate (cx, cy): each point
    * counts for the first candidate at its least squared distance. */
  private final class Weigh(cx: Array[Double], cy: Array[Double])
      extends ((TaskContext, Iterator[Points]) => Array[Long]) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[Points]): Array[Long] = {
      val w = new Array[Long](cx.length)
      it.foreach { p =>
        var i = 0
        while (i < p.length) {
          var best = 0
          var bestSq = 0.0
          var j = 0
          while (j < cx.length) {
            val dx = p.xs(i) - cx(j); val dy = p.ys(i) - cy(j)
            val sq = dx * dx + dy * dy
            if (j == 0 || sq < bestSq) { best = j; bestSq = sq }
            j += 1
          }
          w(best) += 1
          i += 1
        }
      }
      w
    }
  }

  /** `body` over `points` [[read]] with `draws` draws and cached; the
    * cache is unpersisted on exit. */
  private def cached[A](points: DataFrame, seed: Int, draws: Int)(body: RDD[Points] => A): A = {
    val cache = read(points, seed, draws).persist(StorageLevel.MEMORY_AND_DISK)
    try body(cache) finally cache.unpersist(blocking = false)
  }

  /** The R-round oversampling sweep. Returns the candidate list in
    * enumeration order (round 0 = the uniform first pick, then each
    * round's acceptances ordered (pid, x, y)). Driver memory is
    * bounded by 1 + rounds·cap rows.
    * @throws IllegalArgumentException on empty input, or on a null pid
    *         or a null, NaN or infinite coordinate */
  def sweep(points: DataFrame, l: Int = L, rounds: Int = Rounds,
            seed: Int = Seed, cap: Int = Cap): Seq[Cand] =
    cached(points, seed, rounds + 1)(sweepOn(_, l, rounds, cap))

  /** [[sweep]] over the cache: the fill job, then per round a cost job
    * and a sample job. d²_r is persisted by its cost job and read by its
    * sample job and by round r+1's cost job, then unpersisted. The
    * `runJob`s stay in this method: the benchmark attributes a job to
    * the innermost repository frame of its call site. */
  private def sweepOn(cache: RDD[Points], l: Int, rounds: Int, cap: Int): Seq[Cand] = {
    val sc = cache.sparkContext
    val all = cache.partitions.indices
    val first = sc.runJob(cache, FirstPick, all).flatten.minOption(ByDraw)
      .getOrElse(throw new IllegalArgumentException("k-means||: the input holds no points"))._2
    var cands = Vector((0, first))
    var fresh = Vector(first) // centres not yet folded into d²
    var d2 = cache.mapPartitions(Unreached)
    try for (r <- 1 to rounds) {
      val prev = d2
      d2 = cache.zipPartitions(prev)(new Fold(fresh.map(_._2).toArray, fresh.map(_._3).toArray))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val grid = try sc.runJob(d2, Cost, all).foldLeft(BigInteger.ZERO)(_.add(_))
        finally prev.unpersist(blocking = false)
      val phi = KMeansOps.gridToObjective(KMeansFit.decimal(Decimal(grid), 38, 0))
      fresh = sc.runJob(cache.zipPartitions(d2)(Zip), new Sample(r, phi, l.toDouble, cap), all)
        .flatten.sorted(ByPt).take(cap).toVector
      cands ++= fresh.map((r, _))
    } finally d2.unpersist(blocking = false)
    cands.zipWithIndex.map { case ((r, (pid, x, y)), i) => Cand(i, r, pid, x, y) }
  }

  /** Each of the cidx-sorted `cands`' weight w(c) = |{p : c = argmin
    * d²(p, C)}| with the assign tie-break (lowest cidx wins), in one
    * job over `blocks`. The `runJob` stays here, as in [[sweepOn]]. */
  private def weightsOn(blocks: RDD[Points], cands: Seq[Cand]): Array[Long] = {
    val w = blocks.sparkContext.runJob(blocks,
      new Weigh(cands.map(_.x).toArray, cands.map(_.y).toArray), blocks.partitions.indices)
    Array.tabulate(cands.length)(i => w.map(_(i)).sum)
  }

  private val TableSchema = StructType.fromDDL("cidx INT NOT NULL, rnd INT NOT NULL, " +
    "pid BIGINT NOT NULL, x DOUBLE NOT NULL, y DOUBLE NOT NULL, w BIGINT NOT NULL")

  /** The weighted candidate table `(cidx, rnd, pid, x, y, w)`: a local
    * relation built on the driver. */
  private def table(spark: SparkSession, cands: Seq[Cand], w: Array[Long]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(cands.zip(w).map { case (c, n) =>
      Row(c.cidx, c.rnd, c.pid, c.x, c.y, n) }: _*), TableSchema)

  /** The sweep and its candidates' weights over one cache. */
  private def sweepWeighted(points: DataFrame, l: Int, rounds: Int, seed: Int,
      cap: Int): (Seq[Cand], Array[Long]) =
    cached(points, seed, rounds + 1) { cache =>
      val cands = sweepOn(cache, l, rounds, cap)
      (cands, weightsOn(cache, cands))
    }

  /** Candidate weights: w(c) = |{p : c = argmin d²(p, C)}| with the
    * assign tie-break (lowest cidx wins), in one pass over the points.
    * Duplicate-coordinate candidates lose every tie to their lower-cidx
    * twin and keep weight 0 (they are dropped by the final race's w=0
    * arm). */
  def weighted(points: DataFrame, cands: Seq[Cand]): DataFrame = {
    val byIdx = cands.sortBy(_.cidx)
    table(points.sparkSession, byIdx, weightsOn(read(points, 0, 0), byIdx))
  }

  /** The registered `init_kmeansbb` surface: weighted candidate set. */
  def candidates(points: DataFrame, l: Int = L, rounds: Int = Rounds,
                 seed: Int = Seed, cap: Int = Cap): DataFrame = {
    val (cands, w) = sweepWeighted(points, l, rounds, seed, cap)
    table(points.sparkSession, cands, w)
  }

  /** Recluster the weighted candidates to k seeds by the weighted
    * k-means++ exponential race (sampling ∝ w, then ∝ w·d² — Bahmani
    * §3.3 step 8). The candidate set is codebook-sized, so this is
    * constant driver work; every double op replays the identical IEEE
    * sequence as the SQL twin ([[PortableMath.plogDouble]] IS the
    * plogSql tree). */
  def finalCenters(points: DataFrame, k: Int = K, l: Int = L,
                   rounds: Int = Rounds, seed: Int = Seed,
                   cap: Int = Cap, fseed: Int = FinalSeed): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val (cands, weights) = sweepWeighted(points, l, rounds, seed, cap)
    val wRows = cands.zip(weights).map { case (c, n) => (c.cidx, c.x, c.y, n) }
    // ln u_c via the same clamp + plog construction as kmeansPlusPlus
    val lnU = wRows.map { case (cidx, _, _, _) =>
      val h = md5Hash60Jvm(fseed, cidx.toString)
      0.0 - PortableMath.plogDouble(Two60 / math.max(h, 1L).toDouble)
    }
    // Degenerate-corpus guard, mirrored in [[finalCentersSql]] (r13
    // advice): the engine RAISES here (and at the in-loop require
    // below when every remaining key is -inf); the SQL twin can't
    // raise, so it returns ZERO rows in exactly the same situations
    // (each g_j keeps only key > -inf picks, and the final SELECT
    // yields nothing unless all k rounds picked) — rows_match then
    // fails loudly instead of hash-diverging on silent -inf picks.
    require(wRows.count(_._4 > 0) >= k,
      s"k-means||: fewer than $k positively-weighted candidates")
    // race 1: sample ∝ w  ⇒ maximize ln(u)/w; w=0 → -inf (never picked)
    def d2To(cx: Double, cy: Double, x: Double, y: Double): Double = {
      val dx = x - cx; val dy = y - cy
      dx * dx + dy * dy
    }
    var chosen = Vector.empty[Int]
    while (chosen.length < k) {
      var bestIdx = -1
      var bestKey = Double.NegativeInfinity
      wRows.indices.foreach { i =>
        val (_, x, y, w) = wRows(i)
        val d2 =
          if (chosen.isEmpty) 1.0
          else chosen.map(j => d2To(wRows(j)._2, wRows(j)._3, x, y)).min
        val key =
          if (w == 0L || d2 == 0.0) Double.NegativeInfinity
          else lnU(i) / (w.toDouble * d2)
        // maximize key, tie → lowest cidx (strict > keeps the first)
        if (key > bestKey) { bestKey = key; bestIdx = i }
      }
      require(bestIdx >= 0,
        "k-means||: no pickable candidate (all weights 0 or duplicates)")
      chosen = chosen :+ bestIdx
    }
    chosen.zipWithIndex.map { case (i, cid) =>
      val (cidx, x, y, _) = wRows(i)
      (cid, cidx, x, y)
    }.toDF("cid", "cidx", "x", "y")
  }

  /** JVM twin of [[graft.ops.Dedup.md5Hash60]]: the first 60 bits of
    * md5("seed|" ++ s) — bit-identical to the Column and SQL forms
    * (pinned in KMeansParallelSpec). */
  def md5Hash60Jvm(seed: Int, s: String): Long =
    md5Hash60(MessageDigest.getInstance("MD5"), s"$seed|".getBytes(UTF_8), s.getBytes(UTF_8))

  // -----------------------------------------------------------------
  // DuckDB twins — the identical rounds unrolled as materialized CTEs.
  // -----------------------------------------------------------------

  private def hSql(seed: Int, r: Int): String =
    graft.ops.Dedup.md5Hash60Sql(seed + r, "CAST(pid AS VARCHAR)")

  private def d2Sql(rel: String): String =
    s"(p.x - $rel.x) * (p.x - $rel.x) + (p.y - $rel.y) * (p.y - $rel.y)"

  /** The shared CTE chain: hp (all round hashes), cs0..csR (growing
    * center sets), cand (enumerated candidate set with weights). */
  private def candChainSql(l: Int, rounds: Int, seed: Int, cap: Int): String = {
    val hashes = (0 to rounds).map(r => s"${hSql(seed, r)} AS h$r").mkString(", ")
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"cs${r - 1}"
      s"""cost$r AS MATERIALIZED (
         |  SELECT CAST(CAST(SUM(CAST(ROUND(m.d2 * 1e6) AS DECIMAL(38,0)))
         |    AS VARCHAR) AS DOUBLE) / 1e6 AS v
         |  FROM hp p CROSS JOIN LATERAL (
         |    SELECT MIN(${d2Sql("c")}) AS d2 FROM $prev c) m),
         |sel$r AS MATERIALIZED (
         |  SELECT p.pid, p.x, p.y
         |  FROM hp p CROSS JOIN LATERAL (
         |    SELECT MIN(${d2Sql("c")}) AS d2 FROM $prev c) m, cost$r
         |  WHERE m.d2 > 0.0
         |    AND (CAST(p.h$r AS DOUBLE) / $Two60Sql) * cost$r.v
         |        < ${l.toDouble} * m.d2
         |  ORDER BY p.pid, p.x, p.y LIMIT $cap),
         |cs$r AS MATERIALIZED (
         |  SELECT rnd, pid, x, y FROM $prev
         |  UNION ALL SELECT $r AS rnd, pid, x, y FROM sel$r)""".stripMargin
    }.mkString(",\n")
    s"""pts AS (${graft.Tables.pointsSqlBody}),
       |hp AS MATERIALIZED (SELECT pid, x, y, $hashes FROM pts),
       |cs0 AS MATERIALIZED (
       |  SELECT 0 AS rnd, pid, x, y FROM hp
       |  ORDER BY h0, pid, x, y LIMIT 1),
       |$roundCtes,
       |cand AS MATERIALIZED (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY rnd, pid, x, y) - 1 AS INT)
       |    AS cidx, rnd, pid, x, y FROM cs$rounds),
       |wts AS MATERIALIZED (
       |  SELECT a.cidx, COUNT(*) AS w
       |  FROM pts p CROSS JOIN LATERAL (
       |    SELECT c.cidx FROM cand c
       |    ORDER BY ${d2Sql("c")}, c.cidx LIMIT 1) a
       |  GROUP BY a.cidx),
       |wcand AS MATERIALIZED (
       |  SELECT c.cidx, c.rnd, c.pid, c.x, c.y,
       |    CAST(COALESCE(w.w, 0) AS BIGINT) AS w
       |  FROM cand c LEFT JOIN wts w USING (cidx))""".stripMargin
  }

  def candidatesSql(l: Int = L, rounds: Int = Rounds, seed: Int = Seed,
                    cap: Int = Cap): String =
    s"""WITH ${candChainSql(l, rounds, seed, cap)}
       |SELECT CAST(cidx AS INT) AS cidx, CAST(rnd AS INT) AS rnd,
       |  pid, x, y, w FROM wcand""".stripMargin

  def finalCentersSql(k: Int = K, l: Int = L, rounds: Int = Rounds,
                      seed: Int = Seed, cap: Int = Cap,
                      fseed: Int = FinalSeed): String = {
    val hE = graft.ops.Dedup.md5Hash60Sql(fseed, "CAST(cidx AS VARCHAR)")
    val lnU =
      s"(0.0 - ${PortableMath.plogSql(s"($Two60Sql / CAST(GREATEST(h, 1) AS DOUBLE))")})"
    val rounds2k = (2 to k).map { j =>
      val d2terms = (1 until j).map(i =>
        s"((f.x - g$i.x) * (f.x - g$i.x) + (f.y - g$i.y) * (f.y - g$i.y))")
      val d2 =
        if (d2terms.size == 1) d2terms.head
        else d2terms.mkString("LEAST(", ", ", ")")
      val froms = (1 until j).map(i => s"g$i").mkString(", ")
      s"""g$j AS MATERIALIZED (SELECT cidx, x, y FROM (
         |  SELECT f.cidx, f.x, f.y,
         |    CASE WHEN f.w = 0 OR $d2 = 0.0
         |      THEN CAST('-infinity' AS DOUBLE)
         |      ELSE f.lnu / (CAST(f.w AS DOUBLE) * $d2) END AS key
         |  FROM fh f, $froms
         |  ORDER BY key DESC, f.cidx ASC LIMIT 1) t$j
         |  WHERE key > CAST('-infinity' AS DOUBLE))""".stripMargin
    }.mkString(",\n")
    val outs = (1 to k).map(j =>
      s"SELECT ${j - 1} AS cid, cidx, x, y FROM g$j").mkString(" UNION ALL ")
    // Engine-guard mirror (see finalCenters): a -inf key is never a
    // valid pick (strict > against a -inf initial best on the engine
    // side; WHERE key > -inf here), and if ANY of the k rounds has no
    // valid pick the whole result is EMPTY — the loud equivalent of
    // the engine's require, instead of silently returning zero-weight
    // or duplicate-coordinate centers.
    s"""WITH ${candChainSql(l, rounds, seed, cap)},
       |fh AS MATERIALIZED (
       |  SELECT cidx, x, y, w, $lnU AS lnu
       |  FROM (SELECT cidx, x, y, w, $hE AS h FROM wcand)),
       |g1 AS MATERIALIZED (SELECT cidx, x, y FROM (
       |  SELECT cidx, x, y,
       |    CASE WHEN w = 0 THEN CAST('-infinity' AS DOUBLE)
       |      ELSE lnu / CAST(w AS DOUBLE) END AS key
       |  FROM fh ORDER BY key DESC, cidx ASC LIMIT 1) t1
       |  WHERE key > CAST('-infinity' AS DOUBLE)),
       |$rounds2k,
       |allg AS MATERIALIZED ($outs)
       |SELECT CAST(cid AS INT) AS cid, cidx, x, y FROM allg
       |WHERE (SELECT COUNT(*) FROM allg) = $k""".stripMargin
  }
}
