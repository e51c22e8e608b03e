package graft.kmeans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.PortableMath
import KMeansParallel.{Cap, FinalSeed, K, L, Rounds, Seed}

/** The DataFrame implementation of [[KMeansParallel]]'s sweep, weights
  * and final race, kept as the reference its kernel jobs must equal
  * (`KMeansParallelParitySpec`): per round one query folds the new
  * centres into a `least` of literal distance terms over a locally
  * checkpointed relation, one aggregates φ and one collects the
  * acceptances; the weights are a flat-`least` argmin and a count. */
object KMeansParallelDataFrame {

  private val Dec38 = DecimalType(38, 0)
  private val Two60 = 1152921504606846976.0

  private def sqDistTo(cx: Double, cy: Double): Column =
    KMeansOps.sqDist(col("x"), col("y"), lit(cx), lit(cy))

  /** The points relation at full parallelism (the KMeansFit idiom,
    * §2.4/§6): the single-file fixture scan plans byte-ranged splits
    * but the file holds one ~128 MB row group per ~10M rows, so nearly
    * all splits are EMPTY (sf1: 20 planned partitions, 1 non-empty) —
    * without the spread the md5 pass, every per-round φ/acceptance
    * scan and the |cands|-term argmin run on a single core. Every
    * consumer here is partition-order-independent (decimal φ sums,
    * global-sort races, per-row argmin + count agg), so the spread
    * changes no bits. A partition-count ==1 guard is NOT equivalent:
    * it misses the empty-split shape (measured sf1 init_kmeanspp 10 s
    * spread vs 19-20 s unspread, 3 probes each). On a real cluster the
    * scan has ≥ defPar populated splits and this is a no-op. */
  private def widened(points: DataFrame): DataFrame = {
    val defPar = points.sparkSession.sparkContext.defaultParallelism
    if (points.rdd.getNumPartitions < defPar) points.repartition(defPar)
    else points
  }

  private def minD2(cs: Seq[(Long, Double, Double)]): Column = {
    val terms = cs.map { case (_, cx, cy) => sqDistTo(cx, cy) }
    if (terms.size == 1) terms.head else least(terms: _*)
  }

  /** The R-round oversampling sweep. Returns the candidate list in
    * enumeration order (round 0 = the uniform first pick, then each
    * round's acceptances ordered (pid, x, y)). Driver memory is
    * bounded by 1 + rounds·cap rows.
    *
    * d²(p, C) is maintained INCREMENTALLY (r13 verdict item 4): round
    * r materializes `d2 = least(d2_prev, d² to round r−1's NEW
    * centers)` — min is associative and comparison-only, so the value
    * is bit-identical to the flat least over the full center set, but
    * the per-round scan evaluates only ≤ 1+cap new distance terms
    * instead of the cumulative 1+r·cap (the flat form re-paid every
    * prior round's terms in BOTH the φ-agg and the acceptance filter,
    * where the duplicated giant least() also fell out of efficient
    * codegen — measured 1.5 s + 8 s per round at sf0.1 vs ~1 s total
    * for the incremental shape). The φ-agg and acceptance scans then
    * read the materialized column: per-point work per round is O(cap),
    * not O(r·cap), which is the shape that survives R or cap growing
    * at 100 TB. */
  def sweep(points: DataFrame, l: Int = L, rounds: Int = Rounds,
            seed: Int = Seed, cap: Int = Cap): Seq[KMeansParallel.Cand] = {
    val hashCols = (0 to rounds).map { r =>
      graft.ops.Dedup.md5Hash60(seed + r, col("pid").cast("string")).as(s"h$r")
    }
    // one pass materializes every round's uniform draw (the md5s
    // dominate per-pass cost — same lesson as kmeansPlusPlus)
    val hashed = widened(points)
      .select(col("pid") +: col("x") +: col("y") +: hashCols: _*)
      // LAZY checkpoint: the first-pick TakeOrdered below touches every
      // partition, so it materializes the blocks as a side effect —
      // eager=true would spend a whole extra pass doing the same thing
      // first (r13 verdict item 4).
      .localCheckpoint(false)
    val first = hashed
      .orderBy(col("h0").asc, col("pid").asc, col("x").asc, col("y").asc)
      .limit(1).select("pid", "x", "y").collect()(0)
    var cands = Vector((0, first.getLong(0), first.getDouble(1), first.getDouble(2)))
    // centers not yet folded into the materialized d2 column
    var fresh = cands
    var cur = hashed
    var hasD2 = false
    for (r <- 1 to rounds) {
      val newTerms = fresh.map { case (_, _, cx, cy) => sqDistTo(cx, cy) }
      val d2Upd =
        if (!hasD2) minD2(fresh.map { case (_, p, cx, cy) => (p, cx, cy) })
        else if (newTerms.isEmpty) col("d2") // a zero-acceptance round
        else least(col("d2") +: newTerms: _*)
      cur = cur
        .select(col("pid") +: col("x") +: col("y") +:
          (r to rounds).map(j => col(s"h$j")) :+ d2Upd.as("d2"): _*)
        // lazy again: the phi-agg right below is the materializing
        // action (it reads every partition), so the d2 update costs no
        // standalone pass
        .localCheckpoint(false)
      hasD2 = true
      // φ(C): exact decimal sum of the 1e-6-snapped d² grid, back to
      // double through the shared string cast — order-independent
      val cost = cur
        .select((sum(round(col("d2") * lit(1e6)).cast(Dec38)).cast("string")
          .cast("double") / 1e6).as("v"))
        .collect()(0).getDouble(0)
      val u = col(s"h$r").cast("double") / lit(Two60)
      val accepted = cur
        .where(col("d2") > 0.0 && u * lit(cost) < lit(l.toDouble) * col("d2"))
        .orderBy(col("pid").asc, col("x").asc, col("y").asc)
        .limit(cap)
        .select("pid", "x", "y").collect()
      fresh = accepted.map(row =>
        (r, row.getLong(0), row.getDouble(1), row.getDouble(2))).toVector
      cands = cands ++ fresh
    }
    cands.zipWithIndex.map { case ((r, p, x, y), i) => KMeansParallel.Cand(i, r, p, x, y) }
  }

  /** Candidate weights: w(c) = |{p : c = argmin d²(p, C)}| with the
    * assign tie-break (lowest cidx wins) — ONE zero-shuffle argmin
    * scan + one candidate-keyed count agg. Duplicate-coordinate
    * candidates lose every tie to their lower-cidx twin and keep
    * weight 0 (they are dropped by the final race's w=0 arm). */
  def weighted(points: DataFrame, cands: Seq[KMeansParallel.Cand]): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    // Flat PRIMITIVE argmin, not least(struct(sq, cid)…): the
    // candidate set here is 1+R·cap ≈ 50-100 entries, past the size
    // where a least() over struct terms stays efficient (struct
    // comparisons leave whole-stage codegen's primitive path —
    // measured 11 s at sf0.1; the packed-DECIMAL crossJoin twin was no
    // better at 12 s from 31M per-row Decimal allocations). This shape
    // is three chained projections of doubles only: (1) each sq once,
    // (2) m = least(sq…) — comparisons, no allocation, (3) cidx =
    // first candidate (ascending) with sq = m. Identical semantics to
    // the lexicographic (sq, cidx) min: m is bit-for-bit one of the sq
    // values, sq is never -0.0 (products of same sign), and the CASE
    // scans cidx ascending so ties keep the lowest cidx — the oracle's
    // `ORDER BY d2, cidx LIMIT 1`. ~0.85 s at sf0.1 (13× faster),
    // zero-shuffle until the |cands|-group count agg.
    val sqCols = cands.map(c => KMeansOps.sqDist(
      col("x"), col("y"), lit(c.x), lit(c.y)).as(s"sq${c.cidx}"))
    val byIdx = cands.sortBy(_.cidx)
    val m =
      if (byIdx.size == 1) col(s"sq${byIdx.head.cidx}")
      else least(byIdx.map(c => col(s"sq${c.cidx}")): _*)
    // The .otherwise(-1) is UNREACHABLE (m = least(sq…) is bit-for-bit
    // one of the sq values, so some branch always fires — and the spec
    // pins Σw = n, which a -1 leak would break) but load-bearing for
    // the PLAN: without it the CASE is nullable, the left join infers
    // `isNotNull(cidx)`, and InferFiltersFromConstraints pushes that
    // predicate below the projections with m INLINED into all |cands|
    // branches — a 41k-node Filter re-evaluating ~|cands|² distance
    // terms per row (measured 5 s of the 6 s total at sf0.1).
    val cidx = byIdx.tail.foldLeft(
      when(col(s"sq${byIdx.head.cidx}") === col("m"), lit(byIdx.head.cidx))) {
      (acc, c) => acc.when(col(s"sq${c.cidx}") === col("m"), lit(c.cidx))
    }.otherwise(lit(-1))
    val w = widened(points).select(sqCols: _*).withColumn("m", m)
      .select(cidx.as("cidx"))
      .groupBy("cidx").agg(count(lit(1)).as("w"))
    cands.toDF("cidx", "rnd", "pid", "x", "y")
      .join(w, Seq("cidx"), "left")
      .select(col("cidx"), col("rnd"), col("pid"), col("x"), col("y"),
        coalesce(col("w"), lit(0L)).as("w"))
  }

  /** The registered `init_kmeansbb` surface: weighted candidate set. */
  def candidates(points: DataFrame, l: Int = L, rounds: Int = Rounds,
                 seed: Int = Seed, cap: Int = Cap): DataFrame =
    weighted(points, sweep(points, l, rounds, seed, cap))

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
    val cands = sweep(points, l, rounds, seed, cap)
    val wRows = weighted(points, cands)
      .select("cidx", "x", "y", "w").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1)
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

  /** The hex-formatting form of `KMeansParallel.md5Hash60Jvm`. */
  private def md5Hash60Jvm(seed: Int, s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$seed|$s".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }
}
