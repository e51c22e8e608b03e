package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Batch analytics over the `events` table
  * (event_id, ts, user_id, event_type, value, props) — windowed
  * aggregation and sessionization, the batch faces of the streaming
  * surface (the reference itself is batch-only, SURVEY.md §1.4; the
  * streaming variants live in graft.streaming).
  *
  * 100 TB posture: the tumbling-window agg shuffles once on the
  * (hour, event_type) composite (partial agg map-side; low cardinality
  * → tiny shuffle). Sessionization shuffles once on user_id and sorts
  * within partitions — the window spec is rangeless (lag + running sum),
  * so no per-user materialization beyond the sort.
  */
object EventOps {

  private val Dec = DecimalType(28, 6)

  /** Tumbling 1-hour windows per event_type: count + exact sum(value). */
  def hourlyTypeAgg(events: DataFrame): DataFrame =
    events.groupBy(
        date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(Dec)).cast("double").as("sum_value"))

  val hourlyTypeAggSql: String =
    s"""SELECT date_trunc('hour', ts) AS hour, event_type,
       |  COUNT(*) AS n_events,
       |  CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sum_value
       |FROM events GROUP BY 1, 2""".stripMargin

  /** Incremental materialized-view maintenance (delta merge): refresh
    * the hourly view by aggregating ONLY the arriving delta and merging
    * it into the stored base aggregate — never rescanning history.
    * Merge = full-outer join on the group key + component-wise add;
    * counts and decimal sums are commutative monoids, so base ⊕ Δ
    * equals recompute EXACTLY — and the registered oracle IS the full
    * recompute, so that algebraic claim is what the hash gate checks.
    *
    * 100 TB posture: view refresh cost is O(Δ), not O(history) — the
    * base side is the already-materialized aggregate (group-key
    * cardinality, not event cardinality; broadcast when small, bucket
    * join otherwise). The same merge runs compacting late-arriving
    * partitions, combining per-datacenter partial views, or as the
    * foreachBatch sink of the streaming hourly agg. */
  def hourlyAggMerge(base: DataFrame, delta: DataFrame): DataFrame = {
    def agg(e: DataFrame) = e.groupBy(
        date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(Dec)).as("s"))
    val b = agg(base).select(col("hour"), col("event_type"),
      col("n").as("bn"), col("s").as("bs"))
    val d = agg(delta).select(col("hour"), col("event_type"),
      col("n").as("dn"), col("s").as("ds"))
    b.join(d, Seq("hour", "event_type"), "full_outer")
      .select(col("hour"), col("event_type"),
        (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_events"),
        (coalesce(col("bs"), lit(0).cast(Dec)) +
          coalesce(col("ds"), lit(0).cast(Dec)))
          .cast("double").as("sum_value"))
  }

  /** Exact interpolated percentiles of `value` per event_type — Spark's
    * `percentile` (exact, not the approx sketch) matches DuckDB's
    * `quantile_cont` definition, so this is oracle-checkable. At 100 TB
    * exact percentile means a per-group sort of values — swap for
    * `approx_percentile` (t-digest, mergeable partial aggs) and accept
    * sketch error; both surfaces are exposed here. */
  def typePercentiles(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"),
        count(lit(1)).as("n"))

  val typePercentilesSql: String =
    """SELECT event_type,
      |  quantile_cont(value, 0.5) AS p50,
      |  quantile_cont(value, 0.95) AS p95,
      |  COUNT(*) AS n
      |FROM events GROUP BY event_type""".stripMargin

  /** CUSUM drift alarm per event_type (Page 1954): the sequential
    * statistic S_t = max(0, S_{t-1} + (x_t − target)) flags sustained
    * upward drift from the type's own (rank-exact) median. The
    * recursion has the closed form S_t = P_t − min(0, min_{j≤t} P_j)
    * with P the running sum of deviations — so the whole fold is two
    * window passes (running sum + running min) over ONE event_type
    * shuffle, no sequential driver loop. All arithmetic on the cents
    * grid → bit-exact; order (ts, event_id) is total. Emits the alarm
    * rows (S ≥ threshold) with the statistic in original units. */
  def typeCusum(events: DataFrame, threshold: Double = 100.0): DataFrame = {
    val med = typeMad(events).select(col("event_type"),
      round(col("median") * 100).cast("long").as("medc"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thC = math.round(threshold * 100)
    events.select(col("event_type"), col("event_id"), col("ts"),
        round(col("value") * 100).cast("long").as("v"))
      .join(broadcast(med), Seq("event_type"))
      .withColumn("p", sum(col("v") - col("medc")).over(w))
      .withColumn("s", col("p") - least(min(col("p")).over(w), lit(0L)))
      .filter(col("s") >= thC)
      .select(col("event_type"), col("event_id"),
        (col("s").cast("double") / 100.0).as("cusum"))
  }

  def typeCusumSql(threshold: Double = 100.0): String = {
    val thC = math.round(threshold * 100)
    s"""WITH madrel AS ($typeMadSql),
       |med AS (SELECT event_type, CAST(ROUND(median * 100) AS BIGINT) AS medc
       |        FROM madrel),
       |base AS (
       |  SELECT e.event_type, e.event_id, e.ts,
       |    CAST(ROUND(e.value * 100) AS BIGINT) AS v, m.medc
       |  FROM events e JOIN med m USING (event_type))
       |SELECT event_type, event_id,
       |  CAST(s AS DOUBLE) / 100.0 AS cusum
       |FROM (
       |  SELECT event_type, event_id,
       |    p - LEAST(MIN(CAST(p AS BIGINT)) OVER (PARTITION BY event_type
       |      ORDER BY rn ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS s
       |  FROM (
       |    SELECT event_type, event_id, p,
       |      ROW_NUMBER() OVER (PARTITION BY event_type
       |        ORDER BY ts ASC, event_id ASC) AS rn
       |    FROM (
       |      SELECT event_type, event_id, ts,
       |        SUM(v - medc) OVER (PARTITION BY event_type
       |          ORDER BY ts ASC, event_id ASC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
       |      FROM base) q) r) t
       |WHERE s >= $thC""".stripMargin
  }

  /** Growth accounting: per calendar day, the count of FIRST-seen users
    * and the running cumulative distinct-user total — the "cumulative
    * distinct" query that is a quadratic re-scan when written naively
    * (COUNT(DISTINCT) per day over an expanding window) but ONE
    * user-keyed min-agg + a day-keyed count here: a user contributes to
    * exactly its first day, so the cumulative sum over days IS the
    * running distinct count. Integer-exact. The final running-sum
    * window runs over the day relation (calendar-bounded, hundreds of
    * rows) — a single tiny partition by construction, not a data-sized
    * global sort. */
  def cumulativeUsers(events: DataFrame): DataFrame = {
    val firstDay = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("user_id").agg(min(col("day")).as("day"))
    firstDay.groupBy("day").agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users",
        sum(col("new_users")).over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  val cumulativeUsersSql: String =
    """WITH fd AS (
      |  SELECT user_id, MIN(CAST(ts AS DATE)) AS day
      |  FROM events GROUP BY user_id),
      |nd AS (SELECT day, COUNT(*) AS new_users FROM fd GROUP BY day)
      |SELECT day, new_users,
      |  CAST(SUM(new_users) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_users
      |FROM nd""".stripMargin

  /** Rank-exact robust dispersion per event_type: lower median of
    * `value` and MAD (lower median of absolute deviations from it) —
    * the outlier-immune center/spread pair for metric monitoring.
    * PERCENTILE_DISC-style rank selection (the ceil(n/2)-th value in
    * (value, event_id) order) instead of interpolation: the selected
    * values are DATA values on the exact cents grid, so both median
    * and MAD are integer-exact across engines — no float averaging of
    * middle pairs. Two window passes + one broadcast-size median join,
    * all partitioned by event_type. */
  def typeMad(events: DataFrame): DataFrame = {
    val base = events.select(col("event_type"), col("event_id"),
      round(col("value") * 100).cast("long").as("v"))
    val wc = Window.partitionBy("event_type")
    val med = base
      .withColumn("rn", row_number().over(Window.partitionBy("event_type")
        .orderBy(col("v").asc, col("event_id").asc)))
      .withColumn("n", count(lit(1)).over(wc))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("v").as("med"))
    base.join(med, Seq("event_type"))
      .select(col("event_type"), col("event_id"), col("med"),
        abs(col("v") - col("med")).as("d"))
      .withColumn("rn", row_number().over(Window.partitionBy("event_type")
        .orderBy(col("d").asc, col("event_id").asc)))
      .withColumn("n", count(lit(1)).over(wc))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("n"),
        (col("med").cast("double") / 100.0).as("median"),
        (col("d").cast("double") / 100.0).as("mad"))
  }

  val typeMadSql: String =
    """WITH base AS (
      |  SELECT event_type, event_id,
      |    CAST(ROUND(value * 100) AS BIGINT) AS v
      |  FROM events),
      |med AS (
      |  SELECT event_type, v AS med FROM (
      |    SELECT event_type, v,
      |      ROW_NUMBER() OVER (PARTITION BY event_type
      |        ORDER BY v ASC, event_id ASC) AS rn,
      |      COUNT(*) OVER (PARTITION BY event_type) AS n
      |    FROM base) t WHERE rn = (n + 1) // 2),
      |dev AS (
      |  SELECT b.event_type, b.event_id, m.med, ABS(b.v - m.med) AS d
      |  FROM base b JOIN med m USING (event_type))
      |SELECT event_type, n,
      |  CAST(med AS DOUBLE) / 100.0 AS median,
      |  CAST(d AS DOUBLE) / 100.0 AS mad
      |FROM (
      |  SELECT event_type, med, d,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY d ASC, event_id ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM dev) t WHERE rn = (n + 1) // 2""".stripMargin

  /** Robust outlier detection composed over [[typeMad]]: events whose
    * value deviates from their type's median by more than `nMads`
    * MADs — the monitoring rule that survives the very outliers it
    * hunts (a z-score threshold moves with the contamination; the
    * median/MAD gate does not). The MAD relation is type-keyed (tiny)
    * and broadcasts back onto the events scan; comparison stays on the
    * integer cents grid (|v−med|·1 vs nMads·mad·1 — exact integers
    * both sides, no float threshold). */
  def typeOutliers(events: DataFrame, nMads: Int = 3): DataFrame = {
    val mad = typeMad(events).select(col("event_type"),
      round(col("median") * 100).cast("long").as("medc"),
      round(col("mad") * 100).cast("long").as("madc"))
    events.select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("v"))
      .join(broadcast(mad), Seq("event_type"))
      .filter(abs(col("v") - col("medc")) > lit(nMads) * col("madc"))
      .select(col("event_type"), col("event_id"),
        (col("v").cast("double") / 100.0).as("value"),
        (abs(col("v") - col("medc")).cast("double")
          / greatest(col("madc"), lit(1L)).cast("double")).as("n_mads"))
  }

  def typeOutliersSql(nMads: Int = 3): String =
    s"""WITH madrel AS ($typeMadSql),
       |madc AS (SELECT event_type,
       |    CAST(ROUND(median * 100) AS BIGINT) AS medc,
       |    CAST(ROUND(mad * 100) AS BIGINT) AS madc
       |  FROM madrel)
       |SELECT e.event_type, e.event_id,
       |  CAST(CAST(ROUND(e.value * 100) AS BIGINT) AS DOUBLE) / 100.0 AS value,
       |  CAST(ABS(CAST(ROUND(e.value * 100) AS BIGINT) - m.medc) AS DOUBLE)
       |    / CAST(GREATEST(m.madc, 1) AS DOUBLE) AS n_mads
       |FROM events e JOIN madc m USING (event_type)
       |WHERE ABS(CAST(ROUND(e.value * 100) AS BIGINT) - m.medc)
       |      > $nMads * m.madc""".stripMargin

  /** Fixed-width value histogram per event_type (profiling twin of the
    * equi-depth qbins): bin = floor(v_cents / width_cents) — pure
    * integer floor division, so bin ids and counts are exact in both
    * engines; one scan + one (type, bin) aggregation. */
  def typeHistogram(events: DataFrame, widthCents: Long = 1000): DataFrame =
    events.select(col("event_type"),
        floorDiv(round(col("value") * 100).cast("long"), widthCents).as("bin"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("bin"),
        (col("bin") * widthCents).cast("double").divide(100.0).as("bin_lo"), col("n"))

  def typeHistogramSql(widthCents: Long = 1000): String =
    s"""SELECT event_type, bin,
       |  CAST(bin * $widthCents AS DOUBLE) / 100.0 AS bin_lo,
       |  COUNT(*) AS n
       |FROM (SELECT event_type,
       |    CAST(FLOOR(CAST(CAST(ROUND(value * 100) AS BIGINT) AS DOUBLE)
       |      / $widthCents) AS BIGINT) AS bin
       |  FROM events) t
       |GROUP BY event_type, bin""".stripMargin

  /** Conversion lag: per user, seconds from first 'view' to the first
    * 'purchase' AFTER it — the funnel-latency relation (feeds the
    * time-to-convert distribution). Two user-keyed min-aggs + one
    * user join; integer epoch-second arithmetic, exact. Users who
    * never viewed or never purchased after viewing are absent. */
  def conversionLag(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .groupBy("user_id")
      .agg(min(expr("unix_micros(ts) div 1000000")).as("first_view"))
    val buys = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("unix_micros(ts) div 1000000").as("pts"))
    views.join(buys, Seq("user_id"))
      .filter(col("pts") >= col("first_view"))
      .groupBy("user_id", "first_view")
      .agg(min(col("pts")).as("first_purchase"))
      .select(col("user_id"),
        (col("first_purchase") - col("first_view")).as("lag_seconds"))
  }

  val conversionLagSql: String =
    """WITH v AS (
      |  SELECT user_id, MIN(epoch_us(ts) // 1000000) AS first_view
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |b AS (
      |  SELECT user_id, epoch_us(ts) // 1000000 AS pts
      |  FROM events WHERE event_type = 'purchase')
      |SELECT user_id,
      |  MIN(pts) - first_view AS lag_seconds
      |FROM v JOIN b USING (user_id)
      |WHERE pts >= first_view
      |GROUP BY user_id, first_view""".stripMargin

  /** Sketch variant: mergeable t-digest percentiles + HLL distinct
    * users — the 100 TB shapes (approximate by construction → rows-only
    * check, accuracy covered by tests). */
  def typeSketches(events: DataFrame, accuracy: Int = 10000): DataFrame =
    events.groupBy("event_type")
      .agg(
        expr(s"approx_percentile(value, array(0.5, 0.95), $accuracy)").as("pcts"),
        approx_count_distinct(col("user_id")).as("approx_users"),
        count(lit(1)).as("n"))
      // scalar projection — array-typed result columns don't survive the
      // driver's sort+hash compare (same discipline as KMeansND.recomputeFlat)
      .select(col("event_type"),
        col("pcts").getItem(0).as("p50_approx"),
        col("pcts").getItem(1).as("p95_approx"),
        col("approx_users"), col("n"))

  /** Deterministic sketch row per event_type: binned-histogram
    * quantile estimates + md5-HLL distinct-user estimate + exact n.
    * Same mergeable-partial-agg shapes as [[typeSketches]] (histogram
    * merge = vector add, HLL merge = register max — both safe under
    * any partitioning), but every estimate is a pure function of the
    * data, so the whole sketch is oracle-exact in DuckDB. This is the
    * gated face of the sketch family; the t-digest/HLL engine-native
    * variant stays as the bench-only `events_sketches_approx`. */
  def typeSketchesDet(events: DataFrame): DataFrame = {
    val q = binnedQuantiles(events)
    val u = hllUsers(events).select(col("event_type"), col("est_users"))
    q.join(u, Seq("event_type"))
      .select(col("event_type"), col("p50_est"), col("p95_est"),
        col("est_users"), col("n"))
  }

  def typeSketchesDetSql(
      domain: Double = 1000.0, bins: Int = 1000): String = {
    val est = binEstSql(domain / bins)
    s"""WITH ${histSql(domain, bins)},
       |qb AS (
       |  SELECT event_type,
       |    ${est(0.5)} AS p50_est,
       |    ${est(0.95)} AS p95_est,
       |    MAX(n) AS n
       |  FROM cum GROUP BY event_type),
       |hh AS (
       |  SELECT event_type,
       |    CAST(('0x' || substr(md5('0|' || CAST(user_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h
       |  FROM events),
       |${registersSql("hh")},
       |${estimateSql("event_type", "regs")},
       |hll AS (
       |  SELECT event_type,
       |    ${estUsersSql("    ")}
       |  FROM est)
       |SELECT q.event_type, q.p50_est, q.p95_est, h.est_users, q.n
       |FROM qb q JOIN hll h USING (event_type)""".stripMargin
  }

  // -------------------------------------------------------------------
  // Deterministic HyperLogLog (Flajolet et al. 2007) — the cardinality
  // member of the deterministic-sketch family (events_qbins: quantiles,
  // text_cms: frequencies). Same register semantics as the engine HLL
  // behind approx_count_distinct, but built from the md5-60 hash so the
  // whole sketch is a pure function of the data: registers merge by max
  // in any order at any scale (one groupBy), and the estimate — alpha
  // bias correction plus the small-range linear-counting branch — is
  // replayable in DuckDB bit-for-bit. The libm-free trick for the
  // leading-zero rank: rho = 53 - length(bin(w)) (both engines render
  // minimal binary strings), avoiding log2 entirely; ln in the
  // linear-counting branch goes through PortableMath.plog.
  // -------------------------------------------------------------------

  private val HllBits = 8            // m = 256 registers
  private val HllM = 1 << HllBits
  /** alpha_256 · m² — computed once, interpolated verbatim into the
    * twin so both engines multiply the identical double constant. */
  private val HllAlphaM2: Double =
    0.7213 / (1.0 + 1.079 / HllM) * HllM.toDouble * HllM.toDouble

  /** Distinct `user_id` per event_type via deterministic HLL, with the
    * exact count alongside (same shuffle key, so the comparison is
    * free). */
  def hllUsers(events: DataFrame): DataFrame = {
    val exact = events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    registerSums(registers(events, col("event_type")), "event_type")
      .select(col("event_type"), hllEstimate.as("est_users"))
      .join(exact, Seq("event_type"))
  }

  /** (key, bucket, reg) HLL registers of `user_id` per `key`: the
    * md5-60 hash's low [[HllBits]] bits pick the bucket, its 52-bit
    * suffix gives rho. */
  private def registers(events: DataFrame, key: Column): DataFrame = {
    val h = Dedup.md5Hash60(0, col("user_id").cast("string"))
    val w = shiftright(h, HllBits)      // 52-bit suffix
    val rho = when(w === 0L, lit(53L))
      .otherwise(lit(53L) - length(bin(w)))
    val keyed = events.select(key,
      h.bitwiseAND(lit((HllM - 1).toLong)).as("bucket"), rho.as("rho"))
    keyed.groupBy(keyed.columns.head, "bucket").agg(max("rho").as("reg"))
  }

  /** (s_int, nonzero) of `regs` (key, bucket, reg) per `key`, the input
    * of [[hllEstimate]]: Σ 2^-reg on the exact 2^53 integer grid (reg ≤
    * 53 so each term 2^(53-reg) is an exact long; EMPTY registers have
    * M_j = 0 and contribute 2^0 = 1 each, zeros·2^53 on the grid; the
    * total fits in 2^62 and int64→double is correctly rounded in both
    * engines) and the count of nonzero registers. */
  private def registerSums(regs: DataFrame, key: String): DataFrame =
    regs.groupBy(key).agg(
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - reg AS INT))"))
        .as("s_int"),
      count(lit(1)).as("nonzero"))

  /** The HLL estimate over already-aggregated (s_int, nonzero) columns
    * — alpha bias correction + small-range linear counting; shared by
    * the per-type and rolling-window variants. */
  private def hllEstimate: Column = {
    import graft.functions.PortableMath.plog
    val m = lit(HllM.toDouble)
    val zeros = (m - col("nonzero").cast("double"))
    val raw = lit(HllAlphaM2) * lit(9007199254740992.0) /
      ((lit(HllM.toLong) - col("nonzero")) * lit(9007199254740992L) +
        col("s_int")).cast("double")
    // small-range correction: E ≤ 2.5m with empty registers →
    // linear counting m·ln(m/V); plog needs x ≥ 1 (V ≤ m always)
    when(raw <= lit(2.5 * HllM) && zeros > 0,
      m * plog(m / zeros)).otherwise(raw)
  }

  /** SQL twin of [[registers]] keyed by event_type over a CTE
    * `from(event_type, h)`: CTEs `rr` (bucket, rho) and `regs`. */
  private def registersSql(from: String): String =
    s"""rr AS (
       |  SELECT event_type, h & ${HllM - 1} AS bucket,
       |    CASE WHEN (h >> $HllBits) = 0 THEN 53
       |         ELSE 53 - length(bin(h >> $HllBits)) END AS rho
       |  FROM $from),
       |regs AS (
       |  SELECT event_type, bucket, MAX(rho) AS reg
       |  FROM rr GROUP BY 1, 2)""".stripMargin

  /** SQL twin of [[registerSums]] over `regs` and of [[hllEstimate]]'s
    * inputs: CTEs `pt` (key, s_int, nonzero) and `est` (key, zeros,
    * raw), which [[estUsersSql]] reads. */
  private def estimateSql(key: String, regs: String): String =
    s"""pt AS (
       |  SELECT $key,
       |    SUM(CAST(1 AS BIGINT) << CAST(53 - reg AS INT)) AS s_int,
       |    COUNT(*) AS nonzero
       |  FROM $regs GROUP BY 1),
       |est AS (
       |  SELECT $key,
       |    CAST($HllM AS DOUBLE) - CAST(nonzero AS DOUBLE) AS zeros,
       |    CAST($HllAlphaM2 AS DOUBLE) * CAST(9007199254740992 AS DOUBLE)
       |      / CAST((CAST($HllM AS BIGINT) - nonzero)
       |             * CAST(9007199254740992 AS BIGINT) + s_int AS DOUBLE)
       |      AS raw
       |  FROM pt)""".stripMargin

  /** SQL twin of [[hllEstimate]], as `est_users`; its continuation
    * lines are indented by `pad`. */
  private def estUsersSql(pad: String): String = {
    val plogSql = graft.functions.PortableMath.plogSql(
      s"CAST($HllM AS DOUBLE) / zeros")
    s"""CASE WHEN raw <= CAST(${2.5 * HllM} AS DOUBLE) AND zeros > 0
       |$pad     THEN CAST($HllM AS DOUBLE) * ($plogSql)
       |$pad     ELSE raw END AS est_users""".stripMargin
  }

  def hllUsersSql: String =
    s"""WITH h AS (
       |  SELECT event_type, user_id,
       |    CAST(('0x' || substr(md5('0|' || CAST(user_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h
       |  FROM events),
       |${registersSql("h")},
       |${estimateSql("event_type", "regs")}
       |SELECT e.event_type,
       |  ${estUsersSql("  ")},
       |  x.exact_users
       |FROM est e JOIN (
       |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
       |  FROM events GROUP BY 1) x USING (event_type)""".stripMargin

  /** Rolling-window HLL merge: per-DAY register relations merged into a
    * trailing `windowDays` estimate per day — the MERGEABILITY demo
    * that justifies sketches at 100 TB: daily registers are the
    * persisted artifact (256 rows/day), and ANY window over days is a
    * register-wise MAX — no user-level data is re-touched, while the
    * exact trailing distinct must re-expand each event into every
    * window containing it. Exact twin computed alongside (each event
    * lands in ≤ windowDays windows — bounded expansion, one shuffle).
    * The window join is an EQUI join via a generated offset relation
    * (day, day−k), never a theta/BNLJ range probe. */
  def hllUsersRolling(events: DataFrame, windowDays: Int = 3): DataFrame = {
    val regs = registers(events, to_date(col("ts")).as("rday"))
    val days = regs.select(col("rday").as("day")).distinct()
    val offsets = days.sparkSession.range(windowDays)
      .select(col("id").cast("int").as("k"))
    val dayOff = days.crossJoin(broadcast(offsets))
      .select(col("day"), date_sub(col("day"), col("k")).as("src_day"))
    val merged = dayOff.join(regs, col("src_day") === col("rday"))
      .groupBy("day", "bucket").agg(max("reg").as("reg"))
    val exact = dayOff
      .join(events.select(to_date(col("ts")).as("eday"), col("user_id")),
        col("eday") === col("src_day"))
      .groupBy("day").agg(countDistinct(col("user_id")).as("exact_users"))
    registerSums(merged, "day").select(col("day"), hllEstimate.as("est_users"))
      .join(exact, Seq("day"))
  }

  def hllUsersRollingSql(windowDays: Int = 3): String =
    s"""WITH h AS (
       |  SELECT CAST(ts AS DATE) AS rday,
       |    CAST(('0x' || substr(md5('0|' || CAST(user_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h
       |  FROM events),
       |regs AS (
       |  SELECT rday, h & ${HllM - 1} AS bucket,
       |    MAX(CASE WHEN (h >> $HllBits) = 0 THEN 53
       |             ELSE 53 - length(bin(h >> $HllBits)) END) AS reg
       |  FROM h GROUP BY 1, 2),
       |days AS (SELECT DISTINCT rday AS day FROM regs),
       |dayoff AS (
       |  SELECT d.day, d.day - CAST(g.k AS INTEGER) AS src_day
       |  FROM days d CROSS JOIN
       |    (SELECT unnest(generate_series(0, ${windowDays - 1})) AS k) g),
       |wnd AS (
       |  SELECT o.day, r.bucket, MAX(r.reg) AS reg
       |  FROM dayoff o JOIN regs r ON r.rday = o.src_day
       |  GROUP BY 1, 2),
       |${estimateSql("day", "wnd")},
       |exact AS (
       |  SELECT o.day, COUNT(DISTINCT e.user_id) AS exact_users
       |  FROM dayoff o JOIN events e ON CAST(e.ts AS DATE) = o.src_day
       |  GROUP BY 1)
       |SELECT e.day,
       |  ${estUsersSql("  ")},
       |  x.exact_users
       |FROM est e JOIN exact x USING (day)""".stripMargin

  /** KMV (k-minimum-values) distinct-user sketch per event_type — the
    * order-statistics member of the sketch family (Bar-Yossef et al.
    * 2002; Beyer et al. SIGMOD'07 unbiased estimator (k-1)/u_(k)):
    * hash every distinct user into [0,1), keep the k smallest hashes,
    * estimate distincts from how densely they crowd zero. Like the HLL
    * twin above, the md5-60 hash makes the estimate a pure function of
    * the data — identical in any engine, so a SKETCH is oracle-exact.
    *
    * 100 TB posture: the dominant shuffle is the (event_type, user_id)
    * distinct (map-side partial dedup); the rank window then runs over
    * the already-deduped relation. The KMV state is mergeable (union
    * the k-sets, re-take k smallest), so an imperative deployment can
    * swap the window for a mapPartitions k-heap without changing the
    * estimate — same values, fewer sorted bytes. Groups with fewer
    * than k members fall back to their exact count (u_(k) undefined),
    * the standard small-set rule. */
  def kmvUsers(events: DataFrame, k: Int = 64): DataFrame = {
    val h = Dedup.md5Hash60(7, col("user_id").cast("string"))
    val du = events.select(col("event_type"), col("user_id")).distinct()
      .withColumn("h", h)
    val ranked = du.withColumn("rk", row_number().over(
      Window.partitionBy("event_type").orderBy("h")))
    // (k-1)·2^60 as one exact double literal (63·2^60 needs 66 bits but
    // only 6 significant — exactly representable; both engines fold it)
    val num = (k - 1).toDouble * 1152921504606846976.0
    ranked.groupBy("event_type").agg(
      count(lit(1)).as("n_distinct_hint"),
      max(when(col("rk") === k, col("h"))).as("kth_hash"))
      .select(col("event_type"), col("kth_hash"),
        when(col("kth_hash").isNull, col("n_distinct_hint").cast("double"))
          // clamp the divisor: a user hashing to exactly 0 at rank k
          // (probability ~k·2^-60) would otherwise yield Infinity
          .otherwise(lit(num) / greatest(col("kth_hash"), lit(1L)).cast("double"))
          .as("est_users"))
  }

  def kmvUsersSql(k: Int = 64): String = {
    val num = (k - 1).toDouble * 1152921504606846976.0
    s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
       |h AS (SELECT event_type,
       |  CAST(('0x' || substr(md5('7|' || CAST(user_id AS VARCHAR)), 1, 15))
       |    AS BIGINT) AS h
       |  FROM du),
       |r AS (SELECT event_type, h,
       |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
       |  FROM h)
       |SELECT event_type,
       |  MAX(CASE WHEN rk = $k THEN h END) AS kth_hash,
       |  CASE WHEN MAX(CASE WHEN rk = $k THEN h END) IS NULL
       |       THEN CAST(COUNT(*) AS DOUBLE)
       |       ELSE $num /
       |            CAST(GREATEST(MAX(CASE WHEN rk = $k THEN h END), 1) AS DOUBLE)
       |  END AS est_users
       |FROM r GROUP BY event_type""".stripMargin
  }

  /** KMV sketch SET ALGEBRA: estimated user-set intersection between
    * every pair of event types from the k-minimum-values sketches alone
    * (Beyer et al. SIGMOD'07): combine the two k-sets, θ = the k-th
    * smallest of the union, ρ = the fraction of those k that belong to
    * BOTH sets; est_union = (k−1)/θ and est_overlap = ρ·est_union.
    * This is the operation that makes sketches compose at 100 TB —
    * overlap questions across T types answer from T·k retained hashes
    * (here ≤ 5·64 rows) instead of re-scanning the corpus per pair.
    * The md5-60 hash keeps every estimate a pure function of the data
    * (oracle-exact); the exact overlap rides alongside as the
    * ground-truth column, like the HLL family's exact twin. Shapes:
    * one (type, user) distinct, one per-type top-k window, then
    * everything downstream is constant-size; the exact baseline joins
    * the deduped per-type user sets pairwise (T² fanout, T = 5). */
  def kmvOverlap(events: DataFrame, k: Int = 64): DataFrame = {
    val h = Dedup.md5Hash60(7, col("user_id").cast("string"))
    val du = events.select(col("event_type"), col("user_id")).distinct()
    val topk = du.withColumn("h", h)
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy("h")))
      .filter(col("rk") <= k).select(col("event_type"), col("h"))
    val types = topk.select(col("event_type")).distinct()
    val pairs = types.select(col("event_type").as("ta"))
      .crossJoin(types.select(col("event_type").as("tb")))
      .filter(col("ta") < col("tb"))
    val uA = pairs.join(topk.withColumnRenamed("event_type", "ta"), Seq("ta"))
      .select(col("ta"), col("tb"), col("h"), lit(1L).as("ia"), lit(0L).as("ib"))
    val uB = pairs.join(topk.withColumnRenamed("event_type", "tb"), Seq("tb"))
      .select(col("ta"), col("tb"), col("h"), lit(0L).as("ia"), lit(1L).as("ib"))
    val u = uA.unionAll(uB).groupBy("ta", "tb", "h")
      .agg(max("ia").as("ia"), max("ib").as("ib"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("ta", "tb").orderBy("h")))
    val num = (k - 1).toDouble * 1152921504606846976.0
    val sk = u.filter(col("rk") <= k).groupBy("ta", "tb").agg(
      count(lit(1)).as("nu"),
      max(when(col("rk") === k, col("h"))).as("theta"),
      sum(when(col("ia") === 1L && col("ib") === 1L, 1L).otherwise(0L)).as("rho"))
    val estU = when(col("theta").isNull, col("nu").cast("double"))
      .otherwise(lit(num) / greatest(col("theta"), lit(1L)).cast("double"))
    val est = sk.select(col("ta"), col("tb"),
      estU.as("est_union"),
      ((col("rho").cast("double") / least(lit(k.toLong), col("nu")).cast("double"))
        * estU).as("est_overlap"))
    val exact = du.select(col("event_type").as("ta"), col("user_id"))
      .join(du.select(col("event_type").as("tb"), col("user_id")), Seq("user_id"))
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("exact_overlap"))
    est.join(exact, Seq("ta", "tb"), "left")
      .select(col("ta"), col("tb"), col("est_union"), col("est_overlap"),
        coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"))
  }

  def kmvOverlapSql(k: Int = 64): String = {
    val num = (k - 1).toDouble * 1152921504606846976.0
    s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
       |hs AS (SELECT event_type,
       |  CAST(('0x' || substr(md5('7|' || CAST(user_id AS VARCHAR)), 1, 15))
       |    AS BIGINT) AS h FROM du),
       |topk AS (SELECT event_type, h FROM (
       |  SELECT event_type, h, ROW_NUMBER() OVER (
       |    PARTITION BY event_type ORDER BY h) AS rk FROM hs) t
       |  WHERE rk <= $k),
       |ty AS (SELECT DISTINCT event_type FROM topk),
       |pairs AS (SELECT a.event_type AS ta, b.event_type AS tb
       |  FROM ty a, ty b WHERE a.event_type < b.event_type),
       |u AS (SELECT ta, tb, h, MAX(ia) AS ia, MAX(ib) AS ib FROM (
       |  SELECT p.ta, p.tb, s.h, 1 AS ia, 0 AS ib
       |    FROM pairs p JOIN topk s ON s.event_type = p.ta
       |  UNION ALL
       |  SELECT p.ta, p.tb, s.h, 0 AS ia, 1 AS ib
       |    FROM pairs p JOIN topk s ON s.event_type = p.tb) z
       |  GROUP BY ta, tb, h),
       |r AS (SELECT ta, tb, h, ia, ib, ROW_NUMBER() OVER (
       |  PARTITION BY ta, tb ORDER BY h) AS rk FROM u),
       |sk AS (SELECT ta, tb, COUNT(*) AS nu,
       |  MAX(CASE WHEN rk = $k THEN h END) AS theta,
       |  SUM(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END) AS rho
       |  FROM r WHERE rk <= $k GROUP BY ta, tb),
       |est AS (SELECT ta, tb,
       |  CASE WHEN theta IS NULL THEN CAST(nu AS DOUBLE)
       |       ELSE $num / CAST(GREATEST(theta, 1) AS DOUBLE) END AS est_union,
       |  (CAST(rho AS DOUBLE) /
       |     CAST(LEAST(CAST($k AS BIGINT), nu) AS DOUBLE)) *
       |  (CASE WHEN theta IS NULL THEN CAST(nu AS DOUBLE)
       |        ELSE $num / CAST(GREATEST(theta, 1) AS DOUBLE) END) AS est_overlap
       |  FROM sk),
       |ex AS (SELECT a.event_type AS ta, b.event_type AS tb,
       |  COUNT(*) AS exact_overlap
       |  FROM du a JOIN du b ON a.user_id = b.user_id
       |    AND a.event_type < b.event_type
       |  GROUP BY a.event_type, b.event_type)
       |SELECT e.ta, e.tb, e.est_union, e.est_overlap,
       |  CAST(COALESCE(x.exact_overlap, 0) AS BIGINT) AS exact_overlap
       |FROM est e LEFT JOIN ex x ON e.ta = x.ta AND e.tb = x.tb""".stripMargin
  }

  /** Latest-state snapshot (the CDC/upsert compaction shape): each
    * user's most recent event wins, ties on ts broken by event_id —
    * deterministic total order. One shuffle on user_id; at 100 TB this
    * is the standard "changelog → current state" materialization, and
    * the window's per-key top-1 never holds more than one user's events
    * in a task. */
  def latestState(events: DataFrame): DataFrame =
    // per-user top-1 via the custom TopKPerKey operator instead of a
    // Window: partial per-partition top-1 heaps reduce the key exchange
    // to ≤ 1·partitions rows per user (the raw changelog never shuffles
    // whole), and no per-group sort runs — order (ts, event_id) desc is
    // total, so the row matches the window formulation exactly
    org.apache.spark.sql.graft.TopKPerKey(
        events, Seq("user_id"),
        Seq(("ts", false), ("event_id", false)), 1)
      .select("user_id", "ts", "event_type", "value")

  val latestStateSql: String =
    """SELECT user_id, ts, event_type, value FROM (
      |  SELECT user_id, ts, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) t WHERE rn = 1""".stripMargin

  /** SCD2 history: turn the per-user changelog into validity intervals
    * — each event's value holds from its ts until the user's NEXT
    * event (lead), open-ended (NULL valid_to + current flag) on the
    * latest. The warehouse "slowly changing dimension type 2" build,
    * [[latestState]]'s full-history sibling: one window shuffle on
    * user_id, the interval bound comes from lead() in the same pass —
    * no self-join, no second scan. */
  def scd2History(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    events
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("value"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  val scd2HistorySql: String =
    """SELECT user_id, event_id, value, ts AS valid_from,
      |  LEAD(ts, 1) OVER w AS valid_to,
      |  LEAD(ts, 1) OVER w IS NULL AS is_current
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""".stripMargin

  /** Fixed-bin histogram quantiles — the deterministic member of the
    * sketch family. Bin edges are value-independent constants
    * (width = domain/bins, clamped to [0, bins-1]), so per-partition
    * partial histograms merge associatively in any order at any scale;
    * unlike t-digest (whose centroids are merge-order-dependent) the
    * estimate is a pure function of the data, which makes this sketch
    * oracle-EXACT: estimate(q) = upper edge of the first bin whose
    * cumulative count reaches ceil(q·n), within-width of the true
    * quantile. One groupBy (map-side combined) + one k-bins-per-type
    * window — the scan dominates at 100 TB. */
  def binnedQuantiles(
      events: DataFrame, domain: Double = 1000.0, bins: Int = 1000): DataFrame = {
    val width = domain / bins
    val bin = least(greatest(floor(col("value") / width), lit(0L)), lit(bins - 1L))
    val hist = events.groupBy(col("event_type"), bin.as("bin"))
      .agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum",
        sum("c").over(Window.partitionBy("event_type").orderBy("bin")))
      .withColumn("n", sum("c").over(Window.partitionBy("event_type")))
    def est(q: Double) =
      min(when(col("cum") >= ceil(lit(q) * col("n")),
        (col("bin") + lit(1L)) * lit(width)))
    cum.groupBy("event_type").agg(
      est(0.5).as("p50_est"), est(0.95).as("p95_est"), max("n").as("n"))
  }

  def binnedQuantilesSql(domain: Double = 1000.0, bins: Int = 1000): String = {
    val est = binEstSql(domain / bins)
    s"""WITH ${histSql(domain, bins)}
       |SELECT event_type,
       |  ${est(0.5)} AS p50_est,
       |  ${est(0.95)} AS p95_est,
       |  MAX(n) AS n
       |FROM cum GROUP BY event_type""".stripMargin
  }

  /** SQL twin of [[binnedQuantiles]]' histogram: CTEs `hist(event_type,
    * bin, c)` and `cum` (adds the running `cum` and the type total `n`). */
  private def histSql(domain: Double, bins: Int): String = {
    val width = domain / bins
    s"""hist AS (
       |  SELECT event_type,
       |    LEAST(GREATEST(CAST(FLOOR(value / $width) AS BIGINT), 0), ${bins - 1}) AS bin,
       |    COUNT(*) AS c
       |  FROM events GROUP BY 1, 2),
       |cum AS (
       |  SELECT event_type, bin, c,
       |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum,
       |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
       |  FROM hist)""".stripMargin
  }

  /** The quantile-q estimate over [[histSql]]'s `cum`, bins `width` wide. */
  private def binEstSql(width: Double): Double => String = q =>
    s"MIN(CASE WHEN cum >= CEIL($q * n) THEN (bin + 1) * CAST($width AS DOUBLE) END)"

  /** Sessionization (gaps-and-islands): a new session starts when the
    * gap to the user's previous event exceeds `gapMinutes`. Returns
    * per-session (user_id, session_id, n_events, start/end ts). */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    // exact int64 microsecond arithmetic — unix_timestamp() truncates to
    // whole seconds and mis-splits sessions near the gap boundary when
    // events carry sub-second timestamps (DuckDB twin: epoch_us)
    val gapUs = gapMinutes * 60L * 1000000L
    val flagged = events
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull, 1L)
          .when(unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum("new_session").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts").as("session_start"),
        max("ts").as("session_end"))
  }

  /** Weekly cohort retention: cohort = the user's first active week;
    * one row per (cohort_week, active_week) with the distinct-user
    * count. Two aggregates + one user-keyed join; the (user, week)
    * relation is pre-distinct'd so the join input is bounded by
    * users × active-weeks, not raw events. Both engines truncate weeks
    * to Monday. */
  def weeklyRetention(events: DataFrame): DataFrame = {
    val weekly = events
      .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      .distinct()
    val cohorts = weekly.groupBy("user_id").agg(min("week").as("cohort_week"))
    weekly.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_week"), col("week").as("active_week"))
      .agg(count(lit(1)).as("n_users"))
  }

  val weeklyRetentionSql: String =
    """WITH weekly AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events),
      |cohorts AS (
      |  SELECT user_id, MIN(week) AS cohort_week FROM weekly GROUP BY user_id)
      |SELECT c.cohort_week, w.week AS active_week, COUNT(*) AS n_users
      |FROM weekly w JOIN cohorts c ON w.user_id = c.user_id
      |GROUP BY c.cohort_week, w.week""".stripMargin

  /** Multi-level aggregate via ROLLUP (grouping sets): per (event_type,
    * day) counts plus per-event_type subtotals plus the grand total in
    * ONE pass — Catalyst expands the grouping sets before the partial
    * aggregate, so the shuffle still carries one row per (group, set).
    * The grouping-level columns disambiguate subtotal NULLs from data
    * NULLs (exactly what GROUPING() is for). */
  def dailyTypeRollup(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        col("value"))
      .rollup("event_type", "day")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(Dec)).cast("double").as("sum_value"),
        grouping("event_type").cast("int").as("g_type"),
        grouping("day").cast("int").as("g_day"))

  val dailyTypeRollupSql: String =
    """SELECT event_type, date_trunc('day', ts) AS day,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sum_value,
      |  CAST(GROUPING(event_type) AS INT) AS g_type,
      |  CAST(GROUPING(date_trunc('day', ts)) AS INT) AS g_day
      |FROM events
      |GROUP BY ROLLUP (event_type, date_trunc('day', ts))""".stripMargin

  /** Two-step funnel: per user, the FIRST `stepA` event and the first
    * `stepB` event STRICTLY after it within `withinMinutes`. Exact
    * microsecond arithmetic (same discipline as sessionize). The A side
    * pre-aggregates to one row per user; the B side cannot (min-after-A
    * depends on a_ts), so B events shuffle ONCE on user_id through the
    * join — O(|B|) rows, no amplification — and the post-filter min
    * collapses map-side via partial aggregation. */
  def funnel(
      events: DataFrame, stepA: String = "view", stepB: String = "click",
      withinMinutes: Int = 60): DataFrame = {
    val winUs = withinMinutes * 60L * 1000000L
    val a = events.filter(col("event_type") === stepA)
      .groupBy("user_id").agg(min("ts").as("a_ts"))
    val b = events.filter(col("event_type") === stepB)
      .select(col("user_id"), col("ts").as("b_ts"))
    a.join(b, Seq("user_id"))
      .filter(unix_micros(col("b_ts")) > unix_micros(col("a_ts")) &&
        unix_micros(col("b_ts")) <= unix_micros(col("a_ts")) + winUs)
      .groupBy("user_id", "a_ts").agg(min("b_ts").as("b_ts"))
      .withColumn("delta_us",
        unix_micros(col("b_ts")) - unix_micros(col("a_ts")))
  }

  def funnelSql(
      stepA: String = "view", stepB: String = "click",
      withinMinutes: Int = 60): String = {
    val winUs = withinMinutes * 60L * 1000000L
    s"""WITH a AS (
       |  SELECT user_id, MIN(ts) AS a_ts FROM events
       |  WHERE event_type = '$stepA' GROUP BY user_id),
       |b AS (
       |  SELECT user_id, ts AS b_ts FROM events WHERE event_type = '$stepB'),
       |conv AS (
       |  SELECT a.user_id, a.a_ts, MIN(b.b_ts) AS b_ts
       |  FROM a JOIN b ON a.user_id = b.user_id
       |  WHERE epoch_us(b.b_ts) > epoch_us(a.a_ts)
       |    AND epoch_us(b.b_ts) <= epoch_us(a.a_ts) + $winUs
       |  GROUP BY a.user_id, a.a_ts)
       |SELECT user_id, a_ts, b_ts,
       |  epoch_us(b_ts) - epoch_us(a_ts) AS delta_us
       |FROM conv""".stripMargin
  }

  // -------------------------------------------------------------------
  // Semi-structured props: parse the JSON payload column with a typed
  // schema (from_json — schema-on-read, null on malformed) and
  // aggregate the extracted field per type. Extraction is a per-row
  // projection in the scan stage; the aggregate is the usual
  // low-cardinality partial/final pair.
  // -------------------------------------------------------------------
  /** Typed schema for the `props` JSON payload — a constant so repeated
    * query registrations don't re-parse the DDL. */
  private val PropsSchema =
    org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")

  def propsKStats(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        from_json(col("props"), PropsSchema).getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))

  val propsKStatsSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type""".stripMargin

  // -------------------------------------------------------------------
  // As-of join: attach to each `aType` event the user's most recent
  // `bType` event at-or-before it (the point-in-time enrichment join
  // Spark has no native operator for; DuckDB spells it ASOF JOIN).
  // Implemented as the union-window trick — tag both sides, one window
  // per user carries the last-seen B attributes forward, keep the A
  // rows — so the whole join is ONE user_id shuffle + in-partition
  // sort, never a per-row range probe. The B side is first reduced to
  // one row per (user, ts) (greatest event_id wins) to make equal-ts
  // matches deterministic in both engines.
  // -------------------------------------------------------------------
  def asofJoin(
      events: DataFrame,
      aType: String = "purchase", bType: String = "view"): DataFrame = {
    val a = events.filter(col("event_type") === aType)
      .select(col("user_id"), col("ts"), lit(1).as("is_a"),
        col("event_id"), col("value"))
    val b = events.filter(col("event_type") === bType)
      .select(col("user_id"), col("ts"), lit(0).as("is_a"),
        col("event_id"), col("value"))
    // B sorts before A at equal ts (an exactly-simultaneous B counts as
    // "at-or-before", ASOF's >= bound); among equal-ts B rows the
    // greatest event_id sorts last and wins — the oracle's arg_max —
    // without a separate dedup aggregate (and its extra shuffle)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("is_a").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // One last() over a (ts, value) struct so both carried fields come
    // from the SAME winning B row — two independent last(ignoreNulls)
    // calls would skip a winning row whose value is NULL and pair its ts
    // with an older row's value, diverging from the oracle's arg_max.
    a.unionByName(b)
      .withColumn("prior_view",
        last(when(col("is_a") === 0, struct(col("ts"), col("value"))),
          ignoreNulls = true).over(w))
      .filter(col("is_a") === 1)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("prior_view.ts").as("prior_view_ts"),
        col("prior_view.value").as("prior_view_value"))
  }

  def asofJoinSql(
      aType: String = "purchase", bType: String = "view"): String =
    s"""WITH a AS (
       |  SELECT event_id, user_id, ts, value FROM events
       |  WHERE event_type = '$aType'),
       |b AS (
       |  SELECT user_id, ts, arg_max(value, event_id) AS value FROM events
       |  WHERE event_type = '$bType' GROUP BY user_id, ts)
       |SELECT a.event_id, a.user_id, a.ts, a.value,
       |       b.ts AS prior_view_ts, b.value AS prior_view_value
       |FROM a ASOF LEFT JOIN b
       |  ON a.user_id = b.user_id AND a.ts >= b.ts""".stripMargin

  // -------------------------------------------------------------------
  // Point-in-time (time-travel) join against the SCD2 dimension — the
  // feature-store primitive: each probe event is enriched with the
  // dimension VERSION that was valid at the probe's timestamp, never a
  // later one (no training-serving leakage). Implementation is the
  // same union-window trick as the as-of join: dimension versions
  // enter the stream at their valid_from, probes pick up the last
  // version at-or-before via one last(ignoreNulls) over a struct —
  // ONE user_id shuffle, no range probe. SCD2 intervals are contiguous
  // per user, so "latest valid_from <= ts" IS the containing interval;
  // the twin states the semantics the honest way (explicit interval
  // containment LEFT JOIN), making the oracle a cross-formulation
  // check, not an echo.
  // -------------------------------------------------------------------
  def pitScd2Join(
      events: DataFrame,
      dimType: String = "purchase", probeType: String = "click"): DataFrame = {
    val dimCols = struct(
      col("event_id").as("dim_event_id"), col("value").as("dim_value"),
      col("valid_from"), col("valid_to"), col("is_current"))
    val dims = scd2History(events.filter(col("event_type") === dimType))
      .select(col("user_id"), col("valid_from").as("ord_ts"),
        lit(1).as("is_dim"), col("event_id").as("ord_id"), dimCols.as("dim"))
    val probes = events.filter(col("event_type") === probeType)
      .select(col("user_id"), col("ts").as("ord_ts"),
        lit(0).as("is_dim"), col("event_id").as("ord_id"),
        lit(null).cast(dims.schema("dim").dataType).as("dim"))
    // dim sorts BEFORE an equal-ts probe (valid_from <= ts inclusive);
    // among equal-ts dim versions the greatest event_id sorts last and
    // wins — the same (ts, event_id) order scd2History versions by
    val w = Window.partitionBy("user_id")
      .orderBy(col("ord_ts").asc, col("is_dim").desc, col("ord_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dims.unionByName(probes)
      .withColumn("pit", last(col("dim"), ignoreNulls = true).over(w))
      .filter(col("is_dim") === 0)
      .select(col("ord_id").as("event_id"), col("user_id"),
        col("ord_ts").as("ts"),
        col("pit.dim_event_id").as("dim_event_id"),
        col("pit.dim_value").as("dim_value"),
        col("pit.valid_from").as("valid_from"),
        col("pit.valid_to").as("valid_to"),
        col("pit.is_current").as("is_current"))
  }

  def pitScd2JoinSql(
      dimType: String = "purchase", probeType: String = "click"): String =
    s"""WITH hist AS (
       |  SELECT user_id, event_id, value, ts AS valid_from,
       |    LEAD(ts, 1) OVER w AS valid_to,
       |    LEAD(ts, 1) OVER w IS NULL AS is_current
       |  FROM events WHERE event_type = '$dimType'
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
       |SELECT p.event_id, p.user_id, p.ts,
       |  h.event_id AS dim_event_id, h.value AS dim_value,
       |  h.valid_from, h.valid_to, h.is_current
       |FROM (SELECT event_id, user_id, ts FROM events
       |      WHERE event_type = '$probeType') p
       |LEFT JOIN hist h
       |  ON p.user_id = h.user_id AND h.valid_from <= p.ts
       |  AND (h.valid_to IS NULL OR p.ts < h.valid_to)""".stripMargin

  def sessionizeSql(gapMinutes: Int = 30): String = {
    val gapUs = gapMinutes * 60L * 1000000L
    s"""WITH flagged AS (
       |  SELECT user_id, ts, event_id,
       |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
       |         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > $gapUs THEN 1
       |         ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT user_id, ts,
       |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM flagged)
       |SELECT user_id, session_id, COUNT(*) AS n_events,
       |  MIN(ts) AS session_start, MAX(ts) AS session_end
       |FROM sess GROUP BY user_id, session_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Binned interval-containment join. `e.ts BETWEEN i.t_start AND
  // i.t_end` with no equi key is a BroadcastNestedLoopJoin in Spark —
  // O(|events| x |intervals|) comparisons, the classic 100 TB
  // scale-killer. Discretizing time into fixed bins turns it into an
  // EQUI join: each event lands in exactly one bin (zero shuffle map),
  // each interval explodes into the ceil(len/bin)+1 bins it overlaps,
  // the join key is the bin id, and the exact BETWEEN survives as a
  // cheap post-join row filter. One shuffle (or none — small interval
  // sets broadcast), map-side partial agg on the count/sum, and the
  // fan-out is bounded by interval_length/bin_width, which the caller
  // controls by matching binMinutes to the typical interval length.
  // Time-of-day hot spots only widen a bin's population linearly —
  // there is no quadratic term unless intervals themselves pile onto
  // one bin, the documented salting case.
  // -------------------------------------------------------------------

  /** Floor division robust to negative epochs (Spark's `/` on longs
    * truncates toward zero; pre-1970 timestamps need true floor).
    * Shared with the streaming twin (StreamOps.intervalTagStream). */
  /** Hourly-count autocorrelation at fixed lags (1 = hour-over-hour
    * persistence, 24 = daily periodicity) — the seasonality detector
    * that decides whether the anomaly baseline needs a
    * time-of-day component. Pearson r between the hourly count series
    * and its lag-L shift, over the OBSERVED overlapping hour pairs
    * (sparse hours are absent, not zero-filled — the spine-join
    * variant is a generate_series away and changes only the pair
    * relation). corrMatrix discipline: all sufficient statistics are
    * exact-integer DECIMAL(38,0) sums; float appears only in the two
    * correctly-rounded sqrt and the final division. Degenerate
    * (constant) series → NULL in both engines.
    *
    * Scale: one hour-keyed count agg (map-side partials collapse raw
    * events to one row per hour), then a self equi-join and a
    * lag-keyed agg over the |hours|-sized relation — nothing
    * event-sized past the first shuffle. */
  def hourlyAutocorr(events: DataFrame,
      lags: Seq[Int] = Seq(1, 24)): DataFrame = {
    val counts = events
      .groupBy(floorDiv(unix_micros(col("ts")), 3600000000L).as("h"))
      .agg(count(lit(1)).as("c"))
    val a = counts
      .withColumn("lag", explode(array(lags.map(l => lit(l.toLong)): _*)))
      .select(col("h"), col("lag"), col("c").as("ca"))
    val pairs = a.join(counts.select(col("h"), col("c").as("cb"))
        .withColumn("lag", explode(array(lags.map(l => lit(l.toLong)): _*)))
        .select((col("h") - col("lag")).as("h"), col("lag"), col("cb")),
      Seq("h", "lag"))
    val Dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def d(c: Column) = c.cast(Dec38)
    val st = pairs.groupBy("lag").agg(
      count(lit(1)).as("n"),
      sum(d(col("ca"))).as("sx"), sum(d(col("cb"))).as("sy"),
      sum(d(col("ca")) * d(col("cb"))).as("sxy"),
      sum(d(col("ca")) * d(col("ca"))).as("sxx"),
      sum(d(col("cb")) * d(col("cb"))).as("syy"))
    def dbl(c: Column) = c.cast("string").cast("double")
    val num = d(col("n")) * col("sxy") - col("sx") * col("sy")
    val dx = d(col("n")) * col("sxx") - col("sx") * col("sx")
    val dy = d(col("n")) * col("syy") - col("sy") * col("sy")
    st.select(col("lag"), col("n"),
      when(dx === 0 || dy === 0, lit(null).cast("double"))
        .otherwise(dbl(num) / (sqrt(dbl(dx)) * sqrt(dbl(dy)))).as("r"))
  }

  def hourlyAutocorrSql(lags: Seq[Int] = Seq(1, 24)): String = {
    val lagValues = lags.map(l => s"($l)").mkString(", ")
    s"""WITH counts AS (
       |  SELECT epoch_us(ts) // 3600000000 AS h, COUNT(*) AS c
       |  FROM events GROUP BY 1),
       |pairs AS (
       |  SELECT l.lag, a.c AS ca, b.c AS cb
       |  FROM counts a
       |  CROSS JOIN (VALUES $lagValues) l(lag)
       |  JOIN counts b ON b.h = a.h + l.lag),
       |st AS (
       |  SELECT lag, COUNT(*) AS n,
       |    SUM(CAST(ca AS HUGEINT)) AS sx, SUM(CAST(cb AS HUGEINT)) AS sy,
       |    SUM(CAST(ca AS HUGEINT) * cb) AS sxy,
       |    SUM(CAST(ca AS HUGEINT) * ca) AS sxx,
       |    SUM(CAST(cb AS HUGEINT) * cb) AS syy
       |  FROM pairs GROUP BY lag)
       |SELECT CAST(lag AS BIGINT) AS lag, n,
       |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
       |    THEN NULL
       |    ELSE CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
       |      / (SQRT(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
       |         * SQRT(CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)))
       |  END AS r
       |FROM st""".stripMargin
  }

  private[graft] def floorDiv(a: Column, b: Long): Column =
    ((a - pmod(a, lit(b))) / lit(b)).cast("long")

  /** Join each event to every interval containing its timestamp
    * (inclusive bounds), then aggregate per interval: count + exact
    * sum(value). `intervals` must carry (interval_id, t_start, t_end);
    * rows with t_start > t_end are dropped (empty intervals). Inner
    * semantics: intervals containing no event produce no row. */
  def intervalJoinBinned(
      events: DataFrame, intervals: DataFrame,
      binMinutes: Int = 10): DataFrame = {
    val binUs = binMinutes.toLong * 60L * 1000000L
    val e = events.withColumn("__bin", floorDiv(unix_micros(col("ts")), binUs))
    val iv = intervals
      .filter(col("t_start") <= col("t_end"))
      .withColumn("__bin", explode(sequence(
        floorDiv(unix_micros(col("t_start")), binUs),
        floorDiv(unix_micros(col("t_end")), binUs))))
    iv.join(e, Seq("__bin"))
      .filter(col("ts") >= col("t_start") && col("ts") <= col("t_end"))
      .groupBy("interval_id", "t_start", "t_end")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(Dec)).cast("string").cast("double")
          .as("sum_value"))
  }

  /** The registered-query shape: every `anchorType` event with
    * value > anchorMin spawns a ±`halfMinutes` window around its ts;
    * count/sum all events inside each window (across all users — the
    * no-equi-key case the binning exists for). */
  def incidentWindows(
      events: DataFrame, anchorType: String = "error",
      anchorMin: Double = 200.0, halfMinutes: Int = 10): DataFrame = {
    val iv = events
      .filter(col("event_type") === anchorType && col("value") > anchorMin)
      .select(col("event_id").as("interval_id"),
        (col("ts") - expr(s"INTERVAL '$halfMinutes' MINUTE")).as("t_start"),
        (col("ts") + expr(s"INTERVAL '$halfMinutes' MINUTE")).as("t_end"))
    intervalJoinBinned(events, iv, binMinutes = halfMinutes)
  }

  def incidentWindowsSql(
      anchorType: String = "error", anchorMin: Double = 200.0,
      halfMinutes: Int = 10): String =
    s"""WITH anchors AS (
       |  SELECT event_id AS interval_id,
       |    ts - INTERVAL $halfMinutes MINUTE AS t_start,
       |    ts + INTERVAL $halfMinutes MINUTE AS t_end
       |  FROM events
       |  WHERE event_type = '$anchorType' AND value > $anchorMin)
       |SELECT a.interval_id, a.t_start, a.t_end,
       |  COUNT(*) AS n_events,
       |  CAST(CAST(SUM(CAST(e.value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
       |    AS sum_value
       |FROM anchors a JOIN events e
       |  ON e.ts >= a.t_start AND e.ts <= a.t_end
       |GROUP BY 1, 2, 3""".stripMargin

  /** Per-type OLS trend (metric drift detection): regress value on
    * event time within each event_type, from one pass of sufficient
    * statistics — n, Σx, Σy, Σxy, Σx², Σy² — so the whole fit is a
    * single keyed aggregation regardless of corpus size; no window, no
    * second scan, nothing driver-side.
    *
    * Exactness: x = whole epoch seconds (BIGINT), y = value in cents
    * (2-decimal data → exact integers), so every sufficient statistic
    * is an integer sum in DECIMAL(38,0) (the DuckDB twin uses HUGEINT)
    * and the closed-form slope/intercept numerators are EXACT integer
    * arithmetic — float creeps in only at the final divisions, which
    * are identical single IEEE ops in both engines. Magnitudes: with
    * x ~ 2^31 and n rows, n·Σx² ~ n²·2^62 stays inside 38 digits up to
    * n ~ 10^7 per group; beyond that, center x on a per-group epoch
    * offset first (same algebra, smaller grid). */
  def typeTrend(events: DataFrame): DataFrame = {
    import LeastSquares.dbl
    val x = expr("unix_micros(ts) div 1000000")
    val y = round(col("value") * 100).cast("long")
    val stats = LeastSquares.sums(
      events.select(col("event_type"), x.as("x"), y.as("y")), "event_type")
    val slope = LeastSquares.slope(_ / lit(100.0))
    stats.select(
      col("event_type"), col("n"),
      slope.as("slope"),
      ((dbl(col("sy")) / lit(100.0) - slope * dbl(col("sx")))
        / col("n").cast("double")).as("intercept"),
      LeastSquares.r2.as("r2"))
  }

  val typeTrendSql: String =
    """WITH st AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS sx,
      |    SUM(CAST(y AS HUGEINT)) AS sy,
      |    SUM(CAST(x * y AS HUGEINT)) AS sxy,
      |    SUM(CAST(x * x AS HUGEINT)) AS sxx,
      |    SUM(CAST(y * y AS HUGEINT)) AS syy
      |  FROM (SELECT event_type, epoch_us(ts) // 1000000 AS x,
      |          CAST(ROUND(value * 100) AS BIGINT) AS y FROM events) q
      |  GROUP BY event_type),
      |ex AS (SELECT event_type, n,
      |    CAST(n AS HUGEINT) * sxy - sx * sy AS num,
      |    CAST(n AS HUGEINT) * sxx - sx * sx AS den,
      |    CAST(n AS HUGEINT) * syy - sy * sy AS deny,
      |    sx, sy FROM st)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      |  CASE WHEN den = 0 THEN NULL ELSE
      |    CAST(CAST(num AS VARCHAR) AS DOUBLE)
      |      / CAST(CAST(den AS VARCHAR) AS DOUBLE) / 100.0 END AS slope,
      |  (CAST(CAST(sy AS VARCHAR) AS DOUBLE) / 100.0 -
      |   CASE WHEN den = 0 THEN NULL ELSE
      |     CAST(CAST(num AS VARCHAR) AS DOUBLE)
      |       / CAST(CAST(den AS VARCHAR) AS DOUBLE) / 100.0 END
      |     * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
      |    / CAST(n AS DOUBLE) AS intercept,
      |  CASE WHEN den = 0 OR deny = 0 THEN NULL ELSE
      |    CAST(CAST(num AS VARCHAR) AS DOUBLE) * CAST(CAST(num AS VARCHAR) AS DOUBLE)
      |      / (CAST(CAST(den AS VARCHAR) AS DOUBLE)
      |         * CAST(CAST(deny AS VARCHAR) AS DOUBLE)) END AS r2
      |FROM ex""".stripMargin

  /** Bounded-frame moving aggregates — the time-series smoothing
    * surface (trailing indicators, rolling baselines for anomaly
    * scoring). Per user and event, two frames at once:
    *  - ROWS: the last 4 events (3 preceding + current);
    *  - RANGE: everything in the trailing hour, by exact µs arithmetic.
    *
    * One user_id shuffle serves BOTH frames (same partition key, same
    * sort — Spark computes the two window specs over a single sorted
    * pass). Frames are trailing-only, so a 100 TB run streams each
    * partition once with O(frame) memory; no frame ever spans users,
    * and skewed users cost sort time, not memory. Sums route through
    * DECIMAL(28,6) (value is 2-decimal data — the cast never rounds),
    * so in-frame accumulation order can't shift a bit; DuckDB's
    * segment-tree window accumulator would disagree on raw doubles. */
  def movingStats(events: DataFrame): DataFrame = {
    val wRows = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-3, 0)
    val hourUs = 3600L * 1000000L
    val wRange = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
      .rangeBetween(-hourUs, 0)
    val dec = col("value").cast(org.apache.spark.sql.types.DecimalType(28, 6))
    def asDouble(c: Column): Column = c.cast("string").cast("double")
    events.select(
      col("event_id"), col("user_id"),
      count(lit(1)).over(wRows).as("mv_n"),
      asDouble(sum(dec).over(wRows)).as("mv_sum"),
      (asDouble(sum(dec).over(wRows)) /
        count(lit(1)).over(wRows).cast("double")).as("mv_avg"),
      count(lit(1)).over(wRange).as("hr_n"),
      asDouble(sum(dec).over(wRange)).as("hr_sum"))
  }

  val movingStatsSql: String =
    """SELECT event_id, user_id,
      |  CAST(COUNT(*) OVER wr AS BIGINT) AS mv_n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER wr AS VARCHAR)
      |    AS DOUBLE) AS mv_sum,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER wr AS VARCHAR)
      |    AS DOUBLE) / CAST(COUNT(*) OVER wr AS DOUBLE) AS mv_avg,
      |  CAST(COUNT(*) OVER wg AS BIGINT) AS hr_n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER wg AS VARCHAR)
      |    AS DOUBLE) AS hr_sum
      |FROM events
      |WINDOW
      |  wr AS (PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
      |  wg AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |""".stripMargin

  /** Hourly resample with gap-fill and last-observation-carried-forward
    * — the time-series regularization every monitoring / feature
    * pipeline needs before a model sees the data: irregular event
    * arrivals become a dense per-type hourly grid (one row per hour
    * between that type's first and last event), missing hours carry
    * n=0 / is_gap=true, and `locf_value` forward-fills the most recent
    * observed hourly average.
    *
    * Plan: one (event_type, h) shuffle for the hourly agg (map-side
    * partials; cardinality = types × hours, tiny); the spine is
    * explode(sequence(min_h, max_h)) off a per-type bounds agg — spine
    * size is time-bounded, not data-bounded, so at 100 TB the dense
    * grid stays types × hours regardless of event volume, and the
    * spine⋈hourly left join plus the LOCF window both run on the
    * already-(event_type)-clustered grid. The LOCF window partitions
    * by event_type only, but over grid rows (≤ hours-in-retention per
    * type), never raw events — a year is 8 760 rows per type.
    *
    * Determinism: hourly sums route through DECIMAL(38,0) on
    * round(value*100) (2-decimal data, exact), the average is two IEEE
    * divisions in fixed order, and LOCF's frame order (h) is unique
    * per partition — bit-stable in both engines. */
  def resampleHourly(events: DataFrame): DataFrame = {
    val DecL = DecimalType(38, 0)
    val hourly = events
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"),
        round(col("value") * 100).cast("long").as("cv"))
      .groupBy("event_type", "h")
      .agg(count(lit(1)).as("hn"), sum(col("cv").cast(DecL)).as("sv"))
    val spine = hourly.groupBy("event_type")
      .agg(min("h").as("h0"), max("h").as("h1"))
      .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("h"))
    val avg = when(col("hn").isNull, lit(null).cast("double"))
      .otherwise(col("sv").cast("string").cast("double") / lit(100.0)
        / col("hn").cast("double"))
    val w = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("event_type", "h"), "left")
      .withColumn("avg_value", avg)
      .select(
        col("event_type"),
        timestamp_micros(col("h") * lit(3600000000L)).as("hour_ts"),
        coalesce(col("hn"), lit(0L)).as("n"),
        col("avg_value"),
        last(col("avg_value"), ignoreNulls = true).over(w).as("locf_value"),
        col("hn").isNull.as("is_gap"))
  }

  val resampleHourlySql: String =
    """WITH hourly AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
      |    COUNT(*) AS hn,
      |    SUM(CAST(CAST(ROUND(value * 100) AS BIGINT) AS HUGEINT)) AS sv
      |  FROM events GROUP BY 1, 2),
      |bounds AS (
      |  SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
      |  FROM hourly GROUP BY event_type),
      |spine AS (
      |  SELECT event_type, UNNEST(generate_series(h0, h1)) AS h FROM bounds),
      |j AS (
      |  SELECT s.event_type, s.h, hn, sv,
      |    CASE WHEN hn IS NULL THEN NULL
      |      ELSE CAST(CAST(sv AS VARCHAR) AS DOUBLE) / 100.0
      |           / CAST(hn AS DOUBLE) END AS avg_value
      |  FROM spine s LEFT JOIN hourly USING (event_type, h))
      |SELECT event_type,
      |  make_timestamp(h * 3600000000) AS hour_ts,
      |  COALESCE(hn, 0) AS n,
      |  avg_value,
      |  last_value(avg_value IGNORE NULLS) OVER (
      |    PARTITION BY event_type ORDER BY h
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value,
      |  hn IS NULL AS is_gap
      |FROM j""".stripMargin

  /** Snapshot diff (the CDC changeset shape): materialize each user's
    * latest (ts, value) state over two trailing-`windowDays` activity
    * windows — "as of oldTo" and "as of newTo" — and emit the keyed
    * changeset between them: `inserted` (active only in the new
    * window), `deleted` (aged out — no activity in the new window),
    * `changed` (both present, different latest event); `unchanged`
    * rows (same latest event in both overlapping windows) are
    * filtered, making the output a true delta.
    *
    * Plan: each snapshot is one user_id shuffle (row_number over a
    * per-user desc sort, rn=1 — per-user data is window-bounded); the
    * full-outer diff joins on the SAME user_id hash partitioning the
    * windows just produced, so Catalyst reuses the clustering and the
    * join adds no third shuffle. At 100 TB the changeset is
    * |active users|-sized, never event-volume-sized, and nothing is
    * ever collected — the delta can feed a MERGE sink directly. */
  def snapshotDiff(events: DataFrame,
      oldTo: String = "2024-01-16", newTo: String = "2024-01-24",
      windowDays: Int = 14): DataFrame = {
    def state(upTo: String): DataFrame = {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      events
        .filter(col("ts") >= expr(
            s"TIMESTAMP '$upTo' - INTERVAL $windowDays DAYS")
          && col("ts") < expr(s"TIMESTAMP '$upTo'"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ts"), col("value"))
    }
    val a = state(oldTo).select(col("user_id"),
      col("ts").as("old_ts"), col("value").as("old_value"))
    val b = state(newTo).select(col("user_id"),
      col("ts").as("new_ts"), col("value").as("new_value"))
    a.join(b, Seq("user_id"), "full_outer")
      .withColumn("status",
        when(col("old_ts").isNull, lit("inserted"))
          .when(col("new_ts").isNull, lit("deleted"))
          .when(col("old_ts") === col("new_ts")
            && col("old_value") === col("new_value"), lit("unchanged"))
          .otherwise(lit("changed")))
      .filter(col("status") =!= "unchanged")
      .select("user_id", "status", "old_ts", "old_value", "new_ts", "new_value")
  }

  def snapshotDiffSql(oldTo: String = "2024-01-16",
      newTo: String = "2024-01-24", windowDays: Int = 14): String = {
    def state(upTo: String) =
      s"""SELECT user_id, ts, value FROM (
         |    SELECT user_id, ts, value, ROW_NUMBER() OVER (
         |        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events
         |    WHERE ts >= TIMESTAMP '$upTo' - INTERVAL $windowDays DAY
         |      AND ts < TIMESTAMP '$upTo') q
         |  WHERE rn = 1""".stripMargin
    s"""WITH a AS (
       |  ${state(oldTo)}),
       |b AS (
       |  ${state(newTo)}),
       |j AS (
       |  SELECT COALESCE(a.user_id, b.user_id) AS user_id,
       |    a.ts AS old_ts, a.value AS old_value,
       |    b.ts AS new_ts, b.value AS new_value,
       |    CASE WHEN a.ts IS NULL THEN 'inserted'
       |         WHEN b.ts IS NULL THEN 'deleted'
       |         WHEN a.ts = b.ts AND a.value = b.value THEN 'unchanged'
       |         ELSE 'changed' END AS status
       |  FROM a FULL JOIN b ON a.user_id = b.user_id)
       |SELECT user_id, status, old_ts, old_value, new_ts, new_value
       |FROM j WHERE status <> 'unchanged'""".stripMargin
  }

  /** First-order Markov transition matrix over per-user event
    * sequences — P(next event type | current event type), the
    * behavioral-sequence model every session-based recommender /
    * next-event predictor trains on, plus the raw bigram counts.
    *
    * Plan: one user_id shuffle for the LEAD window (per-user sort —
    * the same clustering sessionize/movingStats use), then the bigram
    * agg collapses to |types|² rows with map-side partials, so the
    * second shuffle carries ~nothing at any scale; the per-from_type
    * normalizing window runs over that tiny aggregate. The
    * probability is one integer-over-integer IEEE division —
    * bit-stable. */
  def transitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wt = Window.partitionBy("from_type")
    events
      .select(col("user_id"), col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        col("n").cast("double") / sum("n").over(wt).cast("double"))
  }

  /** Equal-frequency quantile discretizer (the ML feature-binning
    * staple): each event's value mapped to its within-type decile via
    * NTILE over a TOTAL per-type order (value, then event_id — the
    * tiebreak makes bucket boundaries deterministic when values
    * repeat, which `ntile` alone does not guarantee).
    *
    * Plan: ONE event_type shuffle + per-partition sort — the same
    * window pass also carries the per-type row count for free. NTILE's
    * SQL-standard definition (first `n mod b` buckets get the extra
    * row) is implemented identically by Spark and DuckDB, so the
    * assignment is oracle-exact. Scale: per-type partitions sort
    * independently; a skewed type costs sort time, not memory (Spark
    * windows stream the frame). For a truly global discretizer at
    * 100 TB, the fixed-bin histogram (binnedQuantiles) is the
    * shuffle-free path — this NTILE form is the exact-rank one. */
  def valueDeciles(events: DataFrame, buckets: Int = 10): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("value"), col("event_id"))
    events.select(col("event_id"), col("event_type"), col("value"),
      ntile(buckets).over(w).as("decile"))
  }

  def valueDecilesSql(buckets: Int = 10): String =
    s"""SELECT event_id, event_type, value,
       |  CAST(NTILE($buckets) OVER (
       |    PARTITION BY event_type ORDER BY value, event_id) AS INTEGER)
       |    AS decile
       |FROM events""".stripMargin

  val transitionsSql: String =
    """WITH seq AS (
      |  SELECT event_type AS from_type,
      |    LEAD(event_type) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |cnt AS (
      |  SELECT from_type, to_type, COUNT(*) AS n
      |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
      |  CAST(n AS DOUBLE) /
      |    CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
      |FROM cnt""".stripMargin

  // -------------------------------------------------------------------
  // Population Stability Index: distribution drift of `value` between
  // the first and second half of the stream's time span — the standard
  // production monitor for "did this week's data shift from last
  // week's" (PSI < 0.1 stable, > 0.25 action). Baseline bins are
  // equal-width over the BASELINE window's [min, max] (current-window
  // values clamp into the edge bins), shares are +0.5-smoothed so an
  // empty bin contributes a finite term, and ln goes through the
  // portable ratio form (plog on the ≥1 side, negated otherwise) so
  // both engines compute identical bits. Shape: two 1-row reductions
  // (time bounds, baseline value bounds) broadcast back onto the scan,
  // ONE (is_base × bin)-keyed count agg with map-side partials — ≤ 2·B
  // rows cross the wire per partition — and a B-row spine fold into the
  // final 1-row integer-grid sum. Nothing event-sized shuffles.
  // -------------------------------------------------------------------
  def psiDrift(events: DataFrame, bins: Int = 10): DataFrame = {
    import graft.functions.PortableMath.plog
    val Grid = 1e12
    val ev = events.select(unix_micros(col("ts")).as("tu"), col("value"))
    val tb = ev.agg(min("tu").as("t0"), max("tu").as("t1"))
    val marked = ev.crossJoin(broadcast(tb))
      .withColumn("is_base", col("tu") <= expr("t0 + (t1 - t0) DIV 2"))
    val vb = marked.filter(col("is_base"))
      .agg(min("value").as("vmin"), max("value").as("vmax"))
    val binned = marked.crossJoin(broadcast(vb))
      .select(col("is_base"),
        least(greatest(
          floor((col("value") - col("vmin"))
            / ((col("vmax") - col("vmin")) / lit(bins.toDouble))).cast("int"),
          lit(0)), lit(bins - 1)).as("bin"))
    val counts = binned.groupBy("bin").agg(
      sum(when(col("is_base"), 1L).otherwise(0L)).as("nb"),
      sum(when(col("is_base"), 0L).otherwise(1L)).as("nc"))
    val spine = events.sparkSession.range(0, bins)
      .select(col("id").cast("int").as("bin"))
    val filled = spine.join(counts, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("nb"), lit(0L)).as("nb"),
        coalesce(col("nc"), lit(0L)).as("nc"))
    val tot = filled.agg(sum("nb").as("tb"), sum("nc").as("tc"))
    val p = (col("nb").cast("double") + lit(0.5)) /
      (col("tb").cast("double") + lit(bins.toDouble) * lit(0.5))
    val q = (col("nc").cast("double") + lit(0.5)) /
      (col("tc").cast("double") + lit(bins.toDouble) * lit(0.5))
    val lnpq = when(p >= q, plog(p / q)).otherwise(lit(0.0) - plog(q / p))
    filled.crossJoin(broadcast(tot))
      .select((((p - q) * lnpq) * lit(Grid)).as("t"),
        col("nb"), col("nc"))
      .agg(
        (sum(round(col("t")).cast(DecimalType(38, 0)))
          .cast("string").cast("double") / lit(Grid)).as("psi"),
        sum("nb").as("n_base"), sum("nc").as("n_curr"))
  }

  def psiDriftSql(bins: Int = 10): String = {
    import graft.functions.PortableMath.plogSql
    val pE = "(CAST(nb AS DOUBLE) + 0.5) / (CAST(tb AS DOUBLE) + " +
      s"CAST($bins AS DOUBLE) * 0.5)"
    val qE = "(CAST(nc AS DOUBLE) + 0.5) / (CAST(tc AS DOUBLE) + " +
      s"CAST($bins AS DOUBLE) * 0.5)"
    s"""WITH ev AS (SELECT epoch_us(ts) AS tu, value FROM events),
       |tb AS (SELECT MIN(tu) AS t0, MAX(tu) AS t1 FROM ev),
       |marked AS MATERIALIZED (SELECT value,
       |  tu <= t0 + (t1 - t0) // 2 AS is_base FROM ev, tb),
       |vb AS (SELECT MIN(value) AS vmin, MAX(value) AS vmax
       |  FROM marked WHERE is_base),
       |binned AS (SELECT is_base,
       |  LEAST(GREATEST(CAST(FLOOR((value - vmin)
       |    / ((vmax - vmin) / CAST($bins AS DOUBLE))) AS INT), 0),
       |    $bins - 1) AS bin
       |  FROM marked, vb),
       |counts AS (SELECT bin,
       |  SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS nb0,
       |  SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS nc0
       |  FROM binned GROUP BY bin),
       |filled AS (SELECT s.bin,
       |  CAST(COALESCE(nb0, 0) AS BIGINT) AS nb,
       |  CAST(COALESCE(nc0, 0) AS BIGINT) AS nc
       |  FROM (SELECT unnest(generate_series(0, $bins - 1)) AS bin) s
       |  LEFT JOIN counts ON s.bin = counts.bin),
       |tot AS (SELECT SUM(nb) AS tb, SUM(nc) AS tc FROM filled),
       |terms AS (SELECT nb, nc,
       |  (($pE) - ($qE)) *
       |    (CASE WHEN ($pE) >= ($qE)
       |          THEN ${plogSql(s"(($pE) / ($qE))")}
       |          ELSE 0.0 - ${plogSql(s"(($qE) / ($pE))")} END) AS term
       |  FROM filled, tot)
       |SELECT
       |  CAST(CAST(SUM(CAST(ROUND(term * 1e12) AS DECIMAL(38,0)))
       |    AS VARCHAR) AS DOUBLE) / 1e12 AS psi,
       |  CAST(SUM(nb) AS BIGINT) AS n_base,
       |  CAST(SUM(nc) AS BIGINT) AS n_curr
       |FROM terms""".stripMargin
  }

  // -------------------------------------------------------------------
  // The rank-function family in one per-type window pass: rank,
  // dense_rank, percent_rank, cume_dist over value (ties broken into
  // the ORDER BY only where the function's own semantics demand ties —
  // rank/dense_rank/percent_rank/cume_dist are all tie-aware, so the
  // order key is the raw value and ties produce the SQL-standard
  // shared ranks). percent_rank = (rank−1)/(n−1) and cume_dist =
  // peers_cume/n are exact integer ratios → bit-stable cross-engine.
  // One event_type shuffle; per-type partitions sort independently.
  // -------------------------------------------------------------------
  def rankSuite(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("value"))
    events.select(col("event_id"), col("event_type"), col("value"),
      rank().over(w).as("rnk"),
      dense_rank().over(w).as("drnk"),
      percent_rank().over(w).as("prnk"),
      cume_dist().over(w).as("cdist"))
  }

  val rankSuiteSql: String =
    """SELECT event_id, event_type, value,
      |  CAST(RANK() OVER w AS INT) AS rnk,
      |  CAST(DENSE_RANK() OVER w AS INT) AS drnk,
      |  PERCENT_RANK() OVER w AS prnk,
      |  CUME_DIST() OVER w AS cdist
      |FROM events
      |WINDOW w AS (PARTITION BY event_type ORDER BY value)""".stripMargin

  // -------------------------------------------------------------------
  // Next-hour volume forecast by simple exponential smoothing (Brown
  // 1956): ŷ = α·Σ_{i=0..H−1} (1−α)^i · y(t−i) over the trailing H
  // hourly buckets per event type — the ops-dashboard forecasting
  // primitive. The geometric weights are DRIVER-SIDE constants inlined
  // as identical double literals in both engines (the tail beyond H
  // carries (1−α)^H < 0.08% of mass at H=24, dropped identically);
  // per-term products weight·count snap to the 1e12 grid and sum in
  // DECIMAL so bucket order can't move a bit. One hour×type count agg
  // (map-side combined) + a 24-row broadcast weight join + one k-type
  // reduce; the forecast never shuffles event rows twice.
  // -------------------------------------------------------------------
  def sesForecast(
      events: DataFrame, alpha: Double = 0.3, horizon: Int = 24): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val Dec = DecimalType(38, 0)
    val buckets = events.groupBy(
        expr("unix_micros(ts) div 3600000000").as("hb"),
        col("event_type"))
      .agg(count(lit(1)).as("y"))
    val hmax = buckets.agg(max("hb").as("hmax"))
    val weights = (0 until horizon)
      .map(i => (i.toLong, alpha * math.pow(1.0 - alpha, i)))
      .toDF("lag", "w")
    buckets.crossJoin(broadcast(hmax))
      .join(broadcast(weights), col("hb") === col("hmax") - col("lag"))
      .select(col("event_type"),
        round((col("w") * col("y")) * 1e12).cast("long").as("tg"))
      .groupBy("event_type")
      .agg((sum(col("tg").cast(Dec)).cast("string").cast("double") / 1e12)
        .as("forecast"))
  }

  def sesForecastSql(alpha: Double = 0.3, horizon: Int = 24): String = {
    // E-notation so DuckDB parses the weights as DOUBLE — a bare
    // 17-digit decimal literal types DECIMAL(38,17) and double-rounds
    // one ulp off the JVM parse (the RankEval.dlit lesson)
    def e(d: Double): String = {
      val s = java.lang.Double.toString(d)
      if (s.contains("E") || s.contains("e")) s else s + "e0"
    }
    val ws = (0 until horizon)
      .map(i => s"($i, ${e(alpha * math.pow(1.0 - alpha, i))})")
      .mkString(", ")
    s"""WITH b AS (SELECT epoch_us(ts) // 3600000000 AS hb, event_type,
       |    COUNT(*) AS y
       |  FROM events GROUP BY 1, 2),
       |hm AS (SELECT MAX(hb) AS hmax FROM b),
       |w(lag, w) AS (VALUES $ws)
       |SELECT event_type,
       |  CAST(CAST(SUM(CAST(CAST(ROUND((w.w * y) * 1e12) AS BIGINT)
       |    AS HUGEINT)) AS VARCHAR) AS DOUBLE) / 1e12 AS forecast
       |FROM b, hm
       |JOIN w ON b.hb = hm.hmax - w.lag
       |GROUP BY event_type""".stripMargin
  }

  // -------------------------------------------------------------------
  // Multi-touch attribution: credit each channel (event type) for
  // conversions under the three standard models — first-touch,
  // last-touch, and linear (1/k to each of the user's k pre-purchase
  // touches). The touch sequence is every view/click strictly before
  // the user's FIRST purchase. First/last are exact integer counts
  // (argmin/argmax over the unique (ts, event_id) order); linear
  // credits are rationals cnt/k snapped per (user, channel) to the
  // 1e12 grid and summed in DECIMAL — order-free. Two user-keyed aggs
  // + one channel-keyed reduce; nothing data-sized near the driver.
  // -------------------------------------------------------------------
  def attributionCredits(events: DataFrame): DataFrame = {
    val Dec = DecimalType(38, 0)
    val fp = events.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min(col("ts")).as("fp_ts"))
    val touches = events
      .filter(col("event_type").isin("view", "click"))
      .join(fp, Seq("user_id"))
      .filter(col("ts") < col("fp_ts"))
    val perUser = touches.groupBy("user_id").agg(
      count(lit(1)).as("k"),
      min(struct(col("ts"), col("event_id"), col("event_type"))).as("fst"),
      max(struct(col("ts"), col("event_id"), col("event_type"))).as("lst"))
    val firsts = perUser.groupBy(col("fst.event_type").as("channel"))
      .agg(count(lit(1)).as("first_touch"))
    val lasts = perUser.groupBy(col("lst.event_type").as("channel"))
      .agg(count(lit(1)).as("last_touch"))
    val linear = touches
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
      .join(perUser.select("user_id", "k"), Seq("user_id"))
      .select(col("event_type").as("channel"),
        round((col("cnt").cast("double") / col("k")) * 1e12)
          .cast("long").as("lg"))
      .groupBy("channel")
      .agg((sum(col("lg").cast(Dec)).cast("string").cast("double") / 1e12)
        .as("linear"))
    linear
      .join(firsts, Seq("channel"), "left")
      .join(lasts, Seq("channel"), "left")
      .select(col("channel"),
        coalesce(col("first_touch"), lit(0L)).as("first_touch"),
        coalesce(col("last_touch"), lit(0L)).as("last_touch"),
        col("linear"))
  }

  val attributionCreditsSql: String =
    """WITH fp AS (SELECT user_id, MIN(ts) AS fp_ts
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |touches AS (
      |  SELECT e.user_id, e.ts, e.event_id, e.event_type
      |  FROM events e JOIN fp USING (user_id)
      |  WHERE e.event_type IN ('view', 'click') AND e.ts < fp.fp_ts),
      |ranked AS (
      |  SELECT user_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts ASC, event_id ASC) AS rn_a,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM touches),
      |per_user AS (SELECT user_id, COUNT(*) AS k
      |  FROM touches GROUP BY user_id),
      |firsts AS (SELECT event_type AS channel, COUNT(*) AS first_touch
      |  FROM ranked WHERE rn_a = 1 GROUP BY 1),
      |lasts AS (SELECT event_type AS channel, COUNT(*) AS last_touch
      |  FROM ranked WHERE rn_d = 1 GROUP BY 1),
      |lin AS (
      |  SELECT t.event_type AS channel,
      |    CAST(CAST(SUM(CAST(CAST(ROUND(
      |      (CAST(cnt AS DOUBLE) / k) * 1e12) AS BIGINT) AS HUGEINT)
      |      ) AS VARCHAR) AS DOUBLE) / 1e12 AS linear
      |  FROM (SELECT user_id, event_type, COUNT(*) AS cnt
      |        FROM touches GROUP BY 1, 2) t
      |  JOIN per_user p USING (user_id)
      |  GROUP BY 1)
      |SELECT channel,
      |  COALESCE(first_touch, 0) AS first_touch,
      |  COALESCE(last_touch, 0) AS last_touch,
      |  linear
      |FROM lin
      |LEFT JOIN firsts USING (channel)
      |LEFT JOIN lasts USING (channel)""".stripMargin

  // -------------------------------------------------------------------
  // Kaplan–Meier survival curve of the view→purchase conversion
  // (Kaplan & Meier 1958): for every user with a first view, the
  // observed duration is either time-to-first-subsequent-purchase
  // (event) or time-to-end-of-window (right-censored). At each distinct
  // conversion time t: n_t = users still at risk (duration ≥ t), d_t =
  // conversions at t, and S(t) = Π_{u ≤ t} (1 − d_u/n_u) — THE standard
  // time-to-event estimator (conversion, churn, time-to-failure) under
  // censoring, which a naive mean-lag readout gets wrong.
  //
  // Scale + determinism: the duration relation is user-sized; the risk
  // set comes from one strict prefix fold over the distinct-time spine
  // (never a data window), and the product is exp of a prefix sum of
  // ln(1 − d/n) terms — each term −plog(n/(n−d)) snapped to the 1e12
  // grid so the fold is exact-integer, with the portable pexp mapping
  // back. A time where everyone remaining converts (d = n, only ever
  // possible at the last conversion time) is emitted with surv = 0.
  // -------------------------------------------------------------------
  def survivalCurve(events: DataFrame): DataFrame = {
    import graft.functions.PortableMath.{pexp, plog}
    val Dec = DecimalType(38, 0)
    val views = events.filter(col("event_type") === "view")
      .groupBy("user_id")
      .agg(min(expr("unix_micros(ts) div 1000000")).as("first_view"))
    val buys = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("unix_micros(ts) div 1000000").as("pts"))
    val conv = views.join(buys, Seq("user_id"))
      .filter(col("pts") >= col("first_view"))
      .groupBy("user_id", "first_view")
      .agg(min(col("pts")).as("first_purchase"))
      .select(col("user_id"),
        (col("first_purchase") - col("first_view")).as("dur"),
        lit(1L).as("ev"))
    val endTs = events.agg(
      max(expr("unix_micros(ts) div 1000000")).as("end_ts"))
    val cens = views.join(conv.select("user_id"), Seq("user_id"), "left_anti")
      .crossJoin(broadcast(endTs))
      .select(col("user_id"),
        (col("end_ts") - col("first_view")).as("dur"), lit(0L).as("ev"))
    val obs = conv.select("dur", "ev").unionAll(cens.select("dur", "ev"))
    val spine = obs.groupBy("dur").agg(
      sum("ev").as("d"), count(lit(1)).as("c"))
    val tot = spine.agg(sum("c").as("n_obs"))
    val cum = Prefix.runningSum(spine, Seq(col("dur").asc), col("c"),
        "before", inclusive = false)
      .withColumn("before", coalesce(col("before"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("n_risk", col("n_obs") - col("before"))
      .filter(col("d") >= 1)
    val lnGrid = when(col("d") < col("n_risk"),
      round((lit(0.0) - plog(col("n_risk").cast("double") /
        (col("n_risk") - col("d")).cast("double"))) * 1e12).cast("long"))
      .otherwise(lit(0L))
    val curve = Prefix.runningSum(
      cum.withColumn("lng", lnGrid), Seq(col("dur").asc),
      col("lng"), "cumln", inclusive = true)
    curve.select(col("dur"), col("n_risk"), col("d"),
      when(col("d") < col("n_risk"),
        pexp(col("cumln").cast(Dec).cast("string").cast("double") / 1e12))
        .otherwise(lit(0.0)).as("surv"))
  }

  def survivalCurveSql: String = {
    import graft.functions.PortableMath.{pexpSql, plogSql}
    s"""WITH v AS (
       |  SELECT user_id, MIN(epoch_us(ts) // 1000000) AS first_view
       |  FROM events WHERE event_type = 'view' GROUP BY user_id),
       |b AS (
       |  SELECT user_id, epoch_us(ts) // 1000000 AS pts
       |  FROM events WHERE event_type = 'purchase'),
       |conv AS (
       |  SELECT user_id, MIN(pts) - first_view AS dur, 1 AS ev
       |  FROM v JOIN b USING (user_id)
       |  WHERE pts >= first_view GROUP BY user_id, first_view),
       |ee AS (SELECT MAX(epoch_us(ts) // 1000000) AS end_ts FROM events),
       |cens AS (
       |  SELECT v.user_id, ee.end_ts - v.first_view AS dur, 0 AS ev
       |  FROM v, ee WHERE v.user_id NOT IN (SELECT user_id FROM conv)),
       |obs AS (SELECT dur, ev FROM conv UNION ALL SELECT dur, ev FROM cens),
       |spine AS (SELECT dur, SUM(ev) AS d, COUNT(*) AS c
       |  FROM obs GROUP BY dur),
       |tot AS (SELECT SUM(c) AS n_obs FROM spine),
       |risk AS (
       |  SELECT dur, CAST(d AS BIGINT) AS d,
       |    CAST(n_obs - COALESCE(SUM(c) OVER (ORDER BY dur ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS n_risk
       |  FROM spine, tot),
       |keep AS (SELECT dur, d, n_risk,
       |    CASE WHEN d < n_risk THEN CAST(ROUND((0.0 - (${plogSql(
            "(CAST(n_risk AS DOUBLE) / CAST(n_risk - d AS DOUBLE))")})) * 1e12)
       |      AS BIGINT) ELSE 0 END AS lng
       |  FROM risk WHERE d >= 1),
       |curve AS (SELECT dur, n_risk, d,
       |    CAST(CAST(CAST(SUM(lng) OVER (ORDER BY dur ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
       |      AS VARCHAR) AS DOUBLE) / 1e12 AS clv
       |  FROM keep)
       |SELECT dur, n_risk, d,
       |  CASE WHEN d < n_risk THEN (${pexpSql("clv")}) ELSE 0.0 END AS surv
       |FROM curve""".stripMargin
  }

  // -------------------------------------------------------------------
  // Stationary distribution of the event-type Markov chain: where does
  // a user's behavior settle long-run? π = πP by `iters` unrolled power
  // steps from the uniform start over the row-normalized transition
  // counts (the [[transitions]] matrix). The chain matrix is k² rows
  // (k = |event types|) — collected driver-side like the Bradley-Terry
  // and PCA sufficient statistics; the heavy work is the ONE lead-window
  // + count aggregate producing it. Determinism: p_ij = n_ij / r_i is an
  // exact-int division; each step's terms π_i·p_ij snap to the 1e15 grid
  // and sum as longs (order-free), mirrored term-for-term by the
  // oracle's unrolled per-round CTEs. Types that never appear as a
  // to_type drop out of the support identically in both engines.
  // -------------------------------------------------------------------
  def stationaryDistribution(events: DataFrame, iters: Int = 10): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val trans = transitions(events)
      .select("from_type", "to_type", "n").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val rowTot = trans.groupBy(_._1).map { case (f, xs) =>
      f -> xs.map(_._3).sum }
    val p = trans.map { case (f, t, n) => (f, t, n.toDouble / rowTot(f)) }
    val types = trans.flatMap(x => Seq(x._1, x._2)).distinct.sorted
    var pi: Map[String, Double] = types.map(_ -> 1.0 / types.length).toMap
    for (_ <- 1 to iters) {
      val acc = scala.collection.mutable.Map[String, Long]()
      p.foreach { case (f, t, pij) =>
        pi.get(f).foreach { pf =>
          acc(t) = acc.getOrElse(t, 0L) + math.round(pf * pij * 1e15)
        }
      }
      pi = acc.map { case (t, g) => t -> g.toDouble / 1e15 }.toMap
    }
    pi.toSeq.sortBy(_._1).toDF("event_type", "pi")
  }

  def stationaryDistributionSql(iters: Int = 10): String = {
    def rnd(i: Int): String =
      s"""pi$i AS (SELECT p.to_type AS t,
         |    CAST(SUM(CAST(ROUND((pi.pi * p.p) * 1e15) AS BIGINT))
         |      AS DOUBLE) / 1e15 AS pi
         |  FROM pi${i - 1} pi JOIN p ON pi.t = p.from_type
         |  GROUP BY 1)""".stripMargin
    s"""WITH seq AS (
       |  SELECT event_type AS from_type,
       |    LEAD(event_type) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
       |  FROM events),
       |cnt AS MATERIALIZED (
       |  SELECT from_type, to_type, COUNT(*) AS n
       |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |p AS MATERIALIZED (SELECT from_type, to_type,
       |  CAST(n AS DOUBLE) /
       |    CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
       |  FROM cnt),
       |types AS (SELECT DISTINCT t FROM (
       |  SELECT from_type AS t FROM cnt
       |  UNION ALL SELECT to_type FROM cnt) q),
       |pi0 AS (SELECT t, CAST(1.0 AS DOUBLE) /
       |  (SELECT COUNT(*) FROM types) AS pi FROM types),
       |${(1 to iters).map(rnd).mkString(",\n")}
       |SELECT t AS event_type, pi FROM pi$iters""".stripMargin
  }

  // -------------------------------------------------------------------
  // Entropy rate of the event-type Markov chain: H = −Σ_i π_i Σ_j
  // p_ij ln p_ij nats/step — how predictable is the NEXT action given
  // the current one (0 = deterministic behavior, ln k = uniform
  // chaos). Pure composition of [[stationaryDistribution]] (k rows,
  // broadcast) and the [[transitions]] matrix: each of the k² terms
  // π·p·ln(1/p) goes through the portable log and snaps to the 1e15
  // grid before the 1-row sum, so both engines fold identically.
  // -------------------------------------------------------------------
  def entropyRate(events: DataFrame, iters: Int = 10): DataFrame = {
    import graft.functions.PortableMath.plog
    val Dec = DecimalType(38, 0)
    val pi = stationaryDistribution(events, iters)
      .select(col("event_type").as("from_type"), col("pi").as("piv"))
    val p = transitions(events).select(col("from_type"), col("p"))
    val nStates = pi.agg(count(lit(1)).as("n_states"))
    p.join(broadcast(pi), Seq("from_type"))
      .select(round(((col("piv") * col("p")) *
          plog(lit(1.0) / col("p"))) * 1e15).cast("long").as("tg"))
      .agg((sum(col("tg").cast(Dec)).cast("string").cast("double") / 1e15)
        .as("entropy_nats"))
      .crossJoin(broadcast(nStates))
      .select(col("n_states"), col("entropy_nats"))
  }

  def entropyRateSql(iters: Int = 10): String = {
    import graft.functions.PortableMath.plogSql
    s"""WITH pires AS MATERIALIZED (${stationaryDistributionSql(iters)}),
       |seq2 AS (
       |  SELECT event_type AS from_type,
       |    LEAD(event_type) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
       |  FROM events),
       |cnt2 AS MATERIALIZED (
       |  SELECT from_type, to_type, COUNT(*) AS n
       |  FROM seq2 WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |p2 AS (SELECT from_type,
       |  CAST(n AS DOUBLE) /
       |    CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
       |  FROM cnt2),
       |terms AS (SELECT
       |    CAST(ROUND(((pires.pi * p2.p) * (${plogSql("1.0 / p2.p")}))
       |      * 1e15) AS BIGINT) AS tg
       |  FROM p2 JOIN pires ON p2.from_type = pires.event_type),
       |ns AS (SELECT COUNT(*) AS n_states FROM pires)
       |SELECT ns.n_states,
       |  CAST(CAST(SUM(CAST(tg AS HUGEINT)) AS VARCHAR) AS DOUBLE) / 1e15
       |    AS entropy_nats
       |FROM terms, ns GROUP BY ns.n_states""".stripMargin
  }

  // -------------------------------------------------------------------
  // Differentially-private release of the per-type event counts:
  // count + Laplace(Δ/ε) noise (Dwork et al. 2006; sensitivity Δ=1 for
  // a counting query). The noise is the INVERSE-CDF sample
  // X = −(1/ε)·sgn(u−½)·ln(1−2|u−½|) driven by the md5-60 uniform of
  // the key — a pure function of (seed, key), so the release is
  // reproducible and the oracle replays it bit-exactly (ln via plog of
  // the ≥1 reciprocal; h is clamped one ulp under 2^60 so the log
  // argument can never hit 0). One k-row count aggregate + a scalar
  // projection — nothing beyond the count shuffle at any scale.
  // NOTE: deterministic seeding is for the CROSS-ENGINE GATE; a real
  // privacy deployment must draw u from a CSPRNG, not a keyed hash.
  // -------------------------------------------------------------------
  def dpCounts(
      events: DataFrame, epsilon: Double = 1.0, seed: Int = 23): DataFrame = {
    import graft.functions.PortableMath.plog
    val Two60 = 1152921504606846976.0
    val h = least(Dedup.md5Hash60(seed, col("event_type")),
      lit(1152921504606846974L))
    val u = (h.cast("double") + lit(1.0)) / lit(Two60)
    val t = lit(1.0) - lit(2.0) * abs(u - lit(0.5))
    val noise = (lit(1.0) / lit(epsilon)) * signum(u - lit(0.5)) *
      plog(lit(1.0) / t)
    events.groupBy("event_type").agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("n"),
        (col("n").cast("double") + noise).as("noisy_n"),
        lit(epsilon).as("epsilon"))
  }

  // Output-surface types in the SQL twins are CAST to the Spark-side
  // type (DOUBLE here): a bare `1.0` literal types DECIMAL(2,1) and
  // BIGINT·DECIMAL(2,1) types DECIMAL(21,1) — benign at integral
  // values, but the same comparator fragility class as the NB-trio
  // HUGEINT fail (tools/oracle_type_audit.py flags both).
  def dpCountsSql(epsilon: Double = 1.0, seed: Int = 23): String = {
    import graft.functions.PortableMath.plogSql
    val hE =
      s"LEAST(${Dedup.md5Hash60Sql(seed, "event_type")}, 1152921504606846974)"
    s"""WITH c AS (SELECT event_type, COUNT(*) AS n
       |  FROM events GROUP BY event_type),
       |u AS (SELECT event_type, n,
       |  (CAST($hE AS DOUBLE) + 1.0) / 1152921504606846976.0 AS u FROM c),
       |t AS (SELECT event_type, n, u, 1.0 - 2.0 * ABS(u - 0.5) AS tv,
       |  1.0 / (1.0 - 2.0 * ABS(u - 0.5)) AS inv_t FROM u)
       |SELECT event_type, n,
       |  CAST(n AS DOUBLE) +
       |    (1.0 / $epsilon) * CAST(SIGN(u - 0.5) AS DOUBLE) *
       |    (${plogSql("inv_t")}) AS noisy_n,
       |  CAST($epsilon AS DOUBLE) AS epsilon
       |FROM t""".stripMargin
  }
}
