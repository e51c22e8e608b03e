package graft.kmeans

import java.math.{BigInteger, RoundingMode}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.{FileInputFormat, FileSplit, JobConf, TextInputFormat}
import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.{HadoopRDD, RDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.util.{FailFastMode, FailureSafeParser}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{Decimal, DoubleType, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SerializableConfiguration
import scala.collection.mutable.ArrayBuilder
import scala.reflect.ClassTag
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
  * the objective of [[centroids]]. `objective` is that SSE too, when the
  * fit ran its closing pass (traced, or asked for by a [[FinalPass]]). */
case class FitResult(
    centroids: Seq[Cent], iterations: Int, objTrace: Seq[Double] = Nil,
    objective: Option[Double] = None)

/** The closing pass [[KMeansFit.fit]] runs over its coordinate cache
  * after the loop, against the final centroids: it measures their
  * objective ([[FitResult.objective]]) and, given `labels`, writes each
  * point's `cid,x,y` line (`Tables.csvLine`) to the part of its
  * partition, the parts in the input's row order. */
final case class FinalPass(labels: Option[graft.Tables.CsvParts] = None)

/** O10 — the bulk-iteration (Lloyd) driver loop. The reference runs this
  * as a Flink `IterativeDataSet` superstep loop (KMeans.java:148,173-185);
  * the Spark shape — the one `org.apache.spark.ml.clustering.KMeans`
  * runs internally — is a DRIVER-side loop over a cached RDD: the
  * points' coordinates are cached once per fit as two primitive arrays
  * per partition, and each superstep is one `runJob` over that cache.
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

  /** One partition's points, which [[widen]] cuts into contiguous
    * slices. */
  private[kmeans] trait Block[B] {
    def length: Int
    def slice(from: Int, until: Int): B
  }

  /** One partition of the fit's cache: the points' coordinates. */
  private[graft] final case class Coords(xs: Array[Double], ys: Array[Double]) extends Block[Coords] {
    def length: Int = xs.length
    def slice(from: Int, until: Int): Coords = Coords(xs.slice(from, until), ys.slice(from, until))
  }

  /** The message of the `IllegalArgumentException` a null, NaN or ±Inf
    * value of k-means input column `column` raises. */
  private[kmeans] def nonFinite(column: String): String =
    s"k-means input column $column holds a null, NaN or infinite value"

  /** The `x`/`y` coordinates of `points` as one [[Coords]] per partition,
    * read from the physical rows (no Row conversion; `pid` and any other
    * column is pruned) and [[widen]]ed. A null, NaN or ±Inf coordinate
    * raises an `IllegalArgumentException` naming its column, in this
    * same pass. */
  private[kmeans] def coordinates(points: DataFrame): RDD[Coords] = {
    val rows = points.select(col("x").cast(DoubleType), col("y").cast(DoubleType))
      .queryExecution.toRdd
    widen(rows.mapPartitions { it =>
      val xs = new ArrayBuilder.ofDouble
      val ys = new ArrayBuilder.ofDouble
      it.foreach { r =>
        xs += finite(r, 0, nonFinite("x"))
        ys += finite(r, 1, nonFinite("y"))
      }
      Iterator.single(Coords(xs.result(), ys.result()))
    })
  }

  /** The points of the headed `x,y` CSV `files` (`Tables.dataFiles`), in
    * that order, as one [[Coords]] per Hadoop text split, [[widen]]ed,
    * without a query plan: the parse Spark's CSV source runs per split,
    * `Tables.pointsCsv`'s options (header, FAILFAST) and its values.
    * `TextInputFormat` cuts each file into `defaultParallelism` splits
    * or more (one per compressed file); each split's lines go, blank
    * ones dropped, through a `UnivocityParser` behind a
    * `FailureSafeParser` that raises on a bad token, a short row or an
    * extra field. The header is each file's first non-blank line, as
    * for `Tables.pointsCsv`, whichever split it falls in: a split drops
    * its first non-blank line when the split starts the file, or when
    * every byte of the file before that line is blank (a file's leading
    * blank lines may run past its first split). The line keys are byte
    * offsets, and a compressed file is one split that starts at 0. An
    * empty field, NaN or ±Inf raises, in the same pass, the
    * `IllegalArgumentException` `Tables.badCsvValue` words for the file
    * and the column. */
  private[graft] def csvCoordinates(spark: SparkSession, files: Seq[Path]): RDD[Coords] = {
    val sc = spark.sparkContext
    val conf = new JobConf(sc.hadoopConfiguration)
    FileInputFormat.setInputPaths(conf, files: _*)
    // the broadcast HadoopRDD(sc, conf, ...) makes, kept to open a file
    // in a task
    val shared = sc.broadcast(new SerializableConfiguration(conf))
    val lines = new HadoopRDD(sc, shared, None, classOf[ListedTextInputFormat],
      classOf[LongWritable], classOf[Text], sc.defaultParallelism)
    // the reader's schema is nullable, as for every file source, so an
    // empty field reaches the value check as a null
    val schema = StructType(graft.Tables.pointsCsvSchema.map(_.copy(nullable = true)))
    val options = new CSVOptions(Map("header" -> "true", "mode" -> FailFastMode.name),
      false, spark.conf.get("spark.sql.session.timeZone"))
    widen(lines.mapPartitionsWithInputSplit { (split, it) =>
      val file = split.asInstanceOf[FileSplit]
      val parser = new UnivocityParser(schema, options)
      val safe = new FailureSafeParser[String](parser.parse(_), FailFastMode, schema,
        options.columnNameOfCorruptRecord)
      // (offset, line), copied before the reader reuses its key and
      // value; blank lines dropped as `CSVExprUtils.filterCommentAndEmpty`
      // drops them with no comment character set
      val data = it.map(kv => (kv._1.get, kv._2.toString)).filter(_._2.trim.nonEmpty).buffered
      val header = data.hasNext &&
        (file.getStart == 0 || blankBefore(file.getPath, data.head._1, shared.value.value))
      val rows = (if (header) data.drop(1) else data).flatMap(kv => safe.parse(kv._2))
      val name = file.getPath.toString
      val xs = new ArrayBuilder.ofDouble
      val ys = new ArrayBuilder.ofDouble
      rows.foreach { r =>
        xs += finite(r, 0, graft.Tables.badCsvValue(name, "x"))
        ys += finite(r, 1, graft.Tables.badCsvValue(name, "y"))
      }
      Iterator.single(Coords(xs.result(), ys.result()))
    })
  }

  /** Whether the first `end` bytes of `file` are all blank (at most
    * `' '`, what `String.trim` drops), read up to the first that is not. */
  private def blankBefore(file: Path, end: Long, conf: Configuration): Boolean = {
    val in = file.getFileSystem(conf).open(file, 512)
    try {
      var at = 0L
      while (at < end && { val b = in.read(); b >= 0 && b <= ' ' }) at += 1
      at == end
    } finally in.close()
  }

  /** `TextInputFormat` over exactly its input paths, in order: a file
    * resolved already is not globbed again, so a name holding `[`, `{`
    * or `*` reads as itself. */
  private final class ListedTextInputFormat extends TextInputFormat {
    override protected def listStatus(job: JobConf): Array[FileStatus] =
      FileInputFormat.getInputPaths(job).map(p => p.getFileSystem(job).getFileStatus(p))
  }

  /** `blocks` (one per partition), widened to `defaultParallelism`
    * partitions when it has fewer (small or compressed files, local
    * runs), so every pass over them runs at full width: source partition
    * s of n owns targets [s·width/n, (s+1)·width/n), is cut into that
    * many contiguous slices and shuffled once, one slice per target.
    * Either way the partitions, in order, hold the points in the input's
    * row order. On a real cluster the input already has more splits than
    * cores and there is no shuffle. An input of no partitions stays one,
    * so each partition holds one block. */
  private[kmeans] def widen[B <: Block[B]: ClassTag](blocks: RDD[B]): RDD[B] = {
    val width = blocks.sparkContext.defaultParallelism
    val n = blocks.getNumPartitions
    if (n >= width || n == 0) blocks
    else blocks.mapPartitionsWithIndex { (src, it) =>
      val b = it.next()
      val first = src * width / n
      val m = (src + 1) * width / n - first
      Iterator.tabulate(m) { j =>
        (first + j, b.slice((b.length.toLong * j / m).toInt, (b.length.toLong * (j + 1) / m).toInt))
      }
    }.partitionBy(new HashPartitioner(width)).values
  }

  /** Coordinate `i` of `r`; `error` is the message of the
    * `IllegalArgumentException` a null, NaN or ±Inf raises. */
  private[kmeans] def finite(r: InternalRow, i: Int, error: => String): Double = {
    val v = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
    if (v.isNaN || v.isInfinite) throw new IllegalArgumentException(error)
    v
  }

  /** `d` as DECIMAL(p, s), rounded HALF_UP by the method Spark's cast to
    * that type uses, and raising where that cast raises (ANSI
    * NUMERIC_VALUE_OUT_OF_RANGE). */
  private[kmeans] def decimal(d: Decimal, p: Int, s: Int): Decimal =
    if (d.changePrecision(p, s)) d
    else throw new ArithmeticException(
      s"NUMERIC_VALUE_OUT_OF_RANGE: ${d.toPlainString} cannot be represented as Decimal($p, $s)")

  /** The unscaled value of `v` cast to DECIMAL(p, s). */
  private def unscaled(v: Double, p: Int, s: Int): BigInteger =
    decimal(Decimal(v), p, s).toJavaBigDecimal.unscaledValue

  /** [[halfUp]]'s answer when `t` cannot decide the rounding. */
  private[kmeans] final val Undecided = Long.MinValue

  /** Largest |t| [[halfUp]] decides: below 2^50 its tie guard stays
    * under 1/2. */
  private val FastBound = 1.125899906842624e15 // 2^50

  /** The HALF_UP rounding to an integer of the decimal number `t` stands
    * for, or [[Undecided]]. `t` is the double product `v·1e6` of a
    * coordinate `v`, standing for the decimal `Double.toString(v)`·1e6
    * that `Decimal(v)` scales (JDK 17's `toString` round-trips but is not
    * always shortest, so that decimal is only known to lie within
    * ulp(v)/2 of `v`), or the objective's `sq·1e6`, standing for
    * `BigDecimal.valueOf(sq·1e6)`. Either decimal lies within
    * 1.5·ulp(t) < |t|·2^-51 of `t`, so when the fraction of |t| is
    * farther than that from 1/2, no half-integer lies between them and
    * both round alike; otherwise (a near tie, |t| ≥ 2^50, NaN) the
    * caller falls back to the `Decimal` conversion. */
  private[kmeans] def halfUp(t: Double): Long = {
    val a = math.abs(t)
    if (!(a < FastBound)) return Undecided
    val f = math.floor(a)
    val frac = a - f // exact below 2^52
    if (math.abs(frac - 0.5) <= a * 4.440892098500626e-16) return Undecided // 2^-51
    val r = f.toLong + (if (frac > 0.5) 1L else 0L)
    if (t < 0) -r else r
  }

  /** The unscaled DECIMAL(28,6) value of coordinate `v`: [[halfUp]] of
    * `v·1e6`, else Spark's `Decimal` cast. */
  private[kmeans] def micros(v: Double): BigInteger = {
    val u = halfUp(v * 1e6)
    if (u != Undecided) BigInteger.valueOf(u) else unscaled(v, 28, 6)
  }

  /** The objective's grid value of a squared distance: round(sq·1e6) as
    * DECIMAL(38,0), the steps of `KMeansOps.sqdistGridSum` (HALF_UP of
    * the double's decimal, back to double, cast). */
  private[kmeans] def gridValue(sq: Double): BigInteger = {
    val t = sq * 1e6
    val u = halfUp(t)
    if (u != Undecided) BigInteger.valueOf(u)
    else unscaled(java.math.BigDecimal.valueOf(t).setScale(0, RoundingMode.HALF_UP).doubleValue, 38, 0)
  }

  /** Adds `u` to `longs(i)`. A sum that would overflow a `Long` first
    * moves the slot's value into `bigs(i)`, so `bigs(i) + longs(i)` is
    * always the exact total. */
  private[kmeans] def addSpilling(longs: Array[Long], bigs: Array[BigInteger], i: Int, u: Long): Unit = {
    val s = longs(i)
    val r = s + u
    if (((s ^ r) & (u ^ r)) < 0) { // the signs of s and u both differ from r's
      bigs(i) = bigs(i).add(BigInteger.valueOf(s))
      longs(i) = u
    } else longs(i) = r
  }

  /** One task's k cluster slots, indexed like the cid-sorted centroids:
    * point count, coordinate sums (plain doubles on the fast path,
    * unscaled DECIMAL(28,6) on the exact one, each a `Long` part that
    * spills into a `BigInteger` part) and, when traced, the partition's
    * objective grid sum (slot 0 of `lg`/`ug`). */
  private final class Slots(k: Int) extends Serializable {
    val n = new Array[Long](k)
    val sx, sy = new Array[Double](k)
    val lx, ly = new Array[Long](k)
    val ux, uy = Array.fill(k)(BigInteger.ZERO)
    val lg = new Array[Long](1)
    val ug = Array(BigInteger.ZERO)
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
    * @return the next centroids (empty only for empty `points`), and the
    *         SSE when `withSse` */
  def step(points: DataFrame, cents: Seq[Cent], exact: Boolean = true,
      withSse: Boolean = false): (Seq[Cent], Option[Double]) =
    step(coordinates(points), cents, exact, withSse, None)

  /** The task side of [[step]], against the cid-sorted centroids (`cx`,
    * `cy`, `cids`, the slot of each in `slot`): one [[Slots]] per
    * partition and, with `labels`, the part of the partition
    * (`TaskContext.partitionId`). A named class rather than a lambda:
    * Spark's `ClosureCleaner` returns at once for anything but a
    * closure, so a superstep reads and parses no class file. */
  private final class Kernel(cx: Array[Double], cy: Array[Double], cids: Array[Int],
      slot: Array[Int], exact: Boolean, withSse: Boolean, labels: Option[graft.Tables.CsvParts])
      extends ((TaskContext, Iterator[Coords]) => Slots) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[Coords]): Slots = {
      val k = cx.length
      val s = new Slots(k)
      val out = labels.map(_.open(ctx.partitionId())).orNull // null: no sink (hot loop)
      try while (it.hasNext) {
        val c = it.next()
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
            val ux = halfUp(x * 1e6)
            if (ux != Undecided) addSpilling(s.lx, s.ux, b, ux) else s.ux(b) = s.ux(b).add(micros(x))
            val uy = halfUp(y * 1e6)
            if (uy != Undecided) addSpilling(s.ly, s.uy, b, uy) else s.uy(b) = s.uy(b).add(micros(y))
          } else { s.sx(b) += x; s.sy(b) += y }
          if (withSse) {
            val g = halfUp(bestSq * 1e6)
            if (g != Undecided) addSpilling(s.lg, s.ug, 0, g) else s.ug(0) = s.ug(0).add(gridValue(bestSq))
          }
          if (out != null) out.write(graft.Tables.csvLine((cids(best), x, y)))
          i += 1
        }
      } finally if (out != null) out.close()
      s
    }
  }

  /** The kernel: one `runJob` of a [[Kernel]] over the partitions of
    * the coordinate cache itself, one job, no shuffle, no RDD made per
    * step. Same arithmetic as the SQL operators:
    * the argmin scans the centroids in cid order and keeps the first
    * strictly smaller squared distance (the `least(struct(sq, cid))`
    * tie-break toward the lowest cid); the exact path converts each
    * coordinate to its unscaled DECIMAL(28,6) value, sums those exactly
    * and divides `Decimal.toDouble` of the DECIMAL(38,6) sum by the
    * count; the objective sums round(sq·1e6) as DECIMAL(38,0) like
    * `KMeansOps.sqdistGridSum`.
    *
    * Both conversions run on primitive arithmetic ([[halfUp]]: floor
    * `v·1e6` and compare the fraction with 1/2) whenever |v·1e6| < 2^50
    * and the fraction is farther from a HALF_UP tie than the error of
    * the product and of `Double.toString` can reach. Anything else — a
    * near tie, a larger value, an overflow that must raise — falls back
    * to Spark's own `Decimal` cast, so each value equals the cast's
    * exactly. The unscaled values sum into `Long` slots that spill into
    * `BigInteger` ones before they overflow. They are recomputed on
    * every step rather than cached beside the coordinates: at 16 B per
    * point that would double the fit's cache, and the conversion costs
    * a few nanoseconds.
    *
    * With `labels`, task i also writes the `cid,x,y` line of each of its
    * points, labelled with its nearest centroid among `cents`, to part i.
    *
    * The `runJob` stays in this method: the benchmark attributes a job
    * to the innermost repository frame of its call site. */
  private[kmeans] def step(coords: RDD[Coords], cents: Seq[Cent], exact: Boolean,
      withSse: Boolean, labels: Option[graft.Tables.CsvParts]): (Seq[Cent], Option[Double]) = {
    require(cents.nonEmpty, "step: empty centroid set")
    val cs = cents.sortBy(_.cid).toArray
    val k = cs.length
    // centroids sharing a cid share its slot, as they share one SQL group
    val slot = cs.map(c => cs.indexWhere(_.cid == c.cid))
    val kernel = new Kernel(cs.map(_.x), cs.map(_.y), cs.map(_.cid), slot, exact, withSse, labels)
    val parts = coords.sparkContext.runJob(coords, kernel, coords.partitions.indices)
    // the exact total of one slot over the tasks: BigInteger + Long parts
    def total(longs: Slots => Array[Long], bigs: Slots => Array[BigInteger], i: Int) =
      parts.foldLeft(BigInteger.ZERO)((t, p) => t.add(bigs(p)(i)).add(BigInteger.valueOf(longs(p)(i))))
    def mean(sum: BigInteger, n: Long): Double =
      decimal(Decimal(new java.math.BigDecimal(sum, 6)), 38, 6).toDouble / n
    val next = (0 until k).filter(i => slot(i) == i).flatMap { i =>
      val n = parts.map(_.n(i)).sum
      if (n == 0) None
      else if (exact) Some(Cent(cs(i).cid, mean(total(_.lx, _.ux, i), n), mean(total(_.ly, _.uy, i), n)))
      else Some(Cent(cs(i).cid, parts.map(_.sx(i)).sum / n, parts.map(_.sy(i)).sum / n))
    }
    val sse = Option.when(withSse)(
      KMeansOps.gridToObjective(decimal(Decimal(total(_.lg, _.ug, 0)), 38, 0)))
    (next, sse)
  }

  /** Full fit. Caches the points' coordinates ([[coordinates]]) for the
    * duration of the loop and of its closing pass (the one real
    * performance decision vs the reference — SURVEY.md §4) and
    * unpersists them on exit. Every superstep is one kernel job over
    * that cache (see [[step]]), and so is the closing pass; the first
    * one also fills the cache.
    *
    * @param trace record the per-iteration objective (SSE vs the freshly
    *              updated centroids) in [[FitResult.objTrace]]. Step i+1
    *              sums the SSE against step i's centroids in its own
    *              pass, so the trace costs one extra kernel pass in total:
    *              a closing pass against the final centroids, whose SSE
    *              is also [[FitResult.objective]].
    * @param exact decimal-exact sums (bit-reproducible across partition
    *              orders, the arithmetic the DuckDB oracle replicates)
    *              when true; the reference's plain double sums when
    *              false. The paths agree to within n·eps of the summed
    *              magnitudes (golden replay passes at 1e-9 relative with
    *              either; KernelParitySpec pins the agreement).
    * @param last  run the closing pass (once, also when traced, and also
    *              after 0 iterations) as [[FinalPass]] asks
    * @throws IllegalArgumentException when a pass finds no points */
  def fit(points: DataFrame, init: Seq[Cent], cfg: KMeansConfig,
      trace: Boolean = false, exact: Boolean = true,
      last: Option[FinalPass] = None): FitResult =
    fit(coordinates(points), init, cfg, trace, exact, last)

  /** [[fit]] over the points `coords` holds, which it caches: the
    * paper job's CSV input comes as [[csvCoordinates]]. */
  private[graft] def fit(coords: RDD[Coords], init: Seq[Cent], cfg: KMeansConfig,
      trace: Boolean, exact: Boolean, last: Option[FinalPass]): FitResult = {
    require(init.nonEmpty, "fit: empty initial centroid set")
    val cache = coords.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      def pass(cents: Seq[Cent], withSse: Boolean,
          labels: Option[graft.Tables.CsvParts] = None): (Seq[Cent], Option[Double]) = {
        val r = step(cache, cents, exact, withSse, labels)
        require(r._1.nonEmpty, "fit: the k-means input holds no points")
        r
      }
      var cents = init
      var iter = 0
      var go = cfg.maxIter > 0
      val objs = Seq.newBuilder[Double]
      while (go) {
        val (next, prevSse) = pass(cents, withSse = trace)
        iter += 1
        // step i+1 measured the SSE of step i's centroids: trace entry
        // i-1; the first step's (the initial centroids') is not traced
        if (iter > 1) objs ++= prevSse
        go = iter < cfg.maxIter &&
          (!cfg.convergence || moved(next, cents, cfg.tol))
        cents = next
      }
      val objective =
        if (trace && iter > 0 || last.isDefined)
          pass(cents, withSse = true, last.flatMap(_.labels))._2
        else None
      if (trace && iter > 0) objs ++= objective
      FitResult(cents, iter, objs.result(), objective)
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
