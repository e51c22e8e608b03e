package graft.kmeans

import java.math.{BigInteger, RoundingMode}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.{FileInputFormat, FileSplit, JobConf, TextInputFormat}
import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.{HadoopRDD, RDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.catalyst.util.{FailFastMode, FailureSafeParser}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{Decimal, DoubleType, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SerializableConfiguration
import scala.collection.mutable.ArrayBuilder
import scala.reflect.ClassTag
import scala.util.Random

import KMeansND.CentND

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
  * points' coordinates are cached once per fit as one primitive array
  * per partition, and each superstep is one `runJob` over that cache.
  * The loop is the same for any number of dimensions: the paper's 2-D
  * points, the `KMeansND` vectors and the m subspace codebooks of PQ
  * training, which it fits in lockstep.
  *
  * 100 TB posture: one iteration is ONE job, with no shuffle and no
  * query planning. Each task scans its partition's array once (nearest
  * centroid, then a count and coordinate sums into k slots), so k·dim
  * slots × partitions cross the wire, and the driver merges them
  * exactly. Driver memory holds the centroids and those slots, never
  * data.
  */
object KMeansFit {

  /** 0.0 + Σ (a(i) − b(i))², the fold in index order (`vecSqDist`). */
  private def sqDist(a: Seq[Double], b: Seq[Double]): Double =
    a.indices.foldLeft(0.0) { (d, i) => val dx = a(i) - b(i); d + dx * dx }

  /** Euclidean displacement between two lists of centroid sets, set by
    * set and by cid; a centroid whose cluster vanished (empty cluster —
    * reference drops the group, SURVEY.md §5) counts as not-moved. */
  private def moved(newSets: Seq[Seq[CentND]], oldSets: Seq[Seq[CentND]], tol: Double): Boolean =
    newSets.zip(oldSets).exists { case (newC, oldC) =>
      val old = oldC.map(c => c.cid -> c.vec).toMap
      newC.exists(n => old.get(n.cid).exists(o => math.sqrt(sqDist(n.vec, o)) > tol)) // STRICT > (KMeans.java:179)
    }

  /** One partition's points, which [[widen]] cuts into contiguous
    * slices. */
  private[kmeans] trait Block[B] {
    def length: Int
    def slice(from: Int, until: Int): B
  }

  /** One partition of the fit's cache: the points' `dim` coordinates
    * each, point after point in `vs`. */
  private[graft] final case class Coords(dim: Int, vs: Array[Double]) extends Block[Coords] {
    def length: Int = vs.length / dim
    def slice(from: Int, until: Int): Coords = Coords(dim, vs.slice(from * dim, until * dim))
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
      val vs = new ArrayBuilder.ofDouble
      it.foreach { r =>
        vs += finite(r, 0, nonFinite("x"))
        vs += finite(r, 1, nonFinite("y"))
      }
      Iterator.single(Coords(2, vs.result()))
    })
  }

  /** The `vec` arrays of `points`, `dim` doubles each, as one [[Coords]]
    * per partition, read from the physical rows and [[widen]]ed. A null
    * vector, a null, NaN or ±Inf element, or a vector of another length
    * raises an `IllegalArgumentException` naming the column, in this
    * same pass. */
  private[kmeans] def vectors(points: DataFrame, dim: Int): RDD[Coords] = {
    val rows = points.select(col("vec").cast("array<double>")).queryExecution.toRdd
    widen(rows.mapPartitions { it =>
      val vs = new ArrayBuilder.ofDouble
      it.foreach { r =>
        if (r.isNullAt(0)) throw new IllegalArgumentException(nonFinite("vec"))
        val v = r.getArray(0)
        if (v.numElements != dim) throw new IllegalArgumentException(
          s"k-means input column vec holds a vector of length ${v.numElements}, not the centroids' $dim")
        var i = 0
        while (i < dim) { vs += finite(v, i, nonFinite("vec")); i += 1 }
      }
      Iterator.single(Coords(dim, vs.result()))
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
      val vs = new ArrayBuilder.ofDouble
      rows.foreach { r =>
        vs += finite(r, 0, graft.Tables.badCsvValue(name, "x"))
        vs += finite(r, 1, graft.Tables.badCsvValue(name, "y"))
      }
      Iterator.single(Coords(2, vs.result()))
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

  /** Value `i` of row or array `r`; `error` is the message of the
    * `IllegalArgumentException` a null, NaN or ±Inf raises. */
  private[kmeans] def finite(r: SpecializedGetters, i: Int, error: => String): Double = {
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

  /** One task's cluster slots, indexed like the rows of the kernel's
    * centroid matrix: point count, sums of each of the `w` coordinates
    * (plain doubles on the fast path, unscaled DECIMAL(28,6) on the exact
    * one, each a `Long` part that spills into a `BigInteger` part) and,
    * when traced, the partition's objective grid sum (slot 0 of
    * `lg`/`ug`). */
  private final class Slots(k: Int, w: Int) extends Serializable {
    val n = new Array[Long](k)
    val sums = new Array[Double](k * w)
    val longs = new Array[Long](k * w)
    val bigs = Array.fill(k * w)(BigInteger.ZERO)
    val lg = new Array[Long](1)
    val ug = Array(BigInteger.ZERO)
  }

  /** `cents` as the kernel's one centroid set of 2 coordinates, and
    * back. */
  private def nd(cents: Seq[Cent]): Seq[Seq[CentND]] = Seq(cents.map(c => CentND(c.cid, Seq(c.x, c.y))))
  private def xy(sets: Seq[Seq[CentND]]): Seq[Cent] = sets.head.map(c => Cent(c.cid, c.vec(0), c.vec(1)))

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
      withSse: Boolean = false): (Seq[Cent], Option[Double]) = {
    val (next, sse) = step(coordinates(points), 2, nd(cents), exact, withSse, None)
    (xy(next), sse)
  }

  /** The task side of [[step]]. The centroid sets, each cid-sorted, are
    * the rows of the row-major, `w`-wide matrix `cv`, set after set: set
    * s is rows `start(s)` until `start(s + 1)` and is matched against
    * coordinates s·w until (s+1)·w of each point. Row g has cid `cids(g)`
    * and sums into slot `slot(g)`. Returns one [[Slots]] per partition
    * and, with `labels`, writes the part of the partition
    * (`TaskContext.partitionId`). A named class rather than a lambda:
    * Spark's `ClosureCleaner` returns at once for anything but a
    * closure, so a superstep reads and parses no class file. */
  private final class Kernel(w: Int, start: Array[Int], cv: Array[Double], cids: Array[Int],
      slot: Array[Int], exact: Boolean, withSse: Boolean, labels: Option[graft.Tables.CsvParts])
      extends ((TaskContext, Iterator[Coords]) => Slots) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[Coords]): Slots = {
      val m = start.length - 1
      val s = new Slots(cids.length, w)
      val out = labels.map(_.open(ctx.partitionId())).orNull // null: no sink (hot loop)
      try while (it.hasNext) {
        val vs = it.next().vs
        var o = 0 // the first coordinate of a point's slice
        var set = 0 // the centroid set of that slice
        while (o < vs.length) {
          val first = start(set)
          var best = first
          var bestSq = 0.0
          var g = first
          while (g < start(set + 1)) {
            var sq = 0.0
            var t = 0
            while (t < w) { val d = vs(o + t) - cv(g * w + t); sq += d * d; t += 1 }
            if (g == first || sq < bestSq) { best = g; bestSq = sq }
            g += 1
          }
          val b = slot(best) * w
          s.n(slot(best)) += 1
          var t = 0
          while (t < w) {
            val v = vs(o + t)
            if (exact) {
              val u = halfUp(v * 1e6)
              if (u != Undecided) addSpilling(s.longs, s.bigs, b + t, u)
              else s.bigs(b + t) = s.bigs(b + t).add(micros(v))
            } else s.sums(b + t) += v
            t += 1
          }
          if (withSse) {
            val u = halfUp(bestSq * 1e6)
            if (u != Undecided) addSpilling(s.lg, s.ug, 0, u) else s.ug(0) = s.ug(0).add(gridValue(bestSq))
          }
          if (out != null)
            out.write(Iterator.range(o, o + w).map(vs(_).toString).mkString(s"${cids(best)},", ",", "\n"))
          o += w
          set = if (set + 1 == m) 0 else set + 1
        }
      } finally if (out != null) out.close()
      s
    }
  }

  /** Whether centroid vector `vec` holds `w` coordinates and none is
    * null (a `Row`'s array can hide one behind `Seq[Double]`), NaN or
    * ±Inf. */
  private def finiteCentroid(vec: Seq[Double], w: Int): Boolean =
    vec != null && vec.length == w && (vec: Seq[Any]).forall {
      case d: Double => !d.isNaN && !d.isInfinite
      case _ => false
    }

  /** The kernel: one `runJob` of a [[Kernel]] over the partitions of
    * the coordinate cache itself, one job, no shuffle, no RDD made per
    * step. The points have `dim` coordinates, and each of the m centroid
    * `sets` is matched against its own slice of every point: set s
    * against the s-th of m consecutive slices of dim/m coordinates (m = 1
    * for a plain fit, one set per subspace for PQ training). Each set
    * assigns, sums and drops its empty clusters independently, as m
    * separate fits over the sliced points would. Same arithmetic as the
    * SQL operators: the argmin scans a set's centroids in cid order and
    * keeps the first strictly smaller squared distance 0.0 + Σ dx² (the
    * `vecSqDist` fold, at dim 2 equal to `KMeansOps.assign`'s dx² + dy²;
    * the `least(struct(sq, cid))` tie-break toward the lowest cid); the exact
    * path converts each coordinate to its unscaled DECIMAL(28,6) value,
    * sums those exactly and divides `Decimal.toDouble` of the
    * DECIMAL(38,6) sum by the count; the objective sums round(sq·1e6) as
    * DECIMAL(38,0) like `KMeansOps.sqdistGridSum`, over every set.
    *
    * Both conversions run on primitive arithmetic ([[halfUp]]: floor
    * `v·1e6` and compare the fraction with 1/2) whenever |v·1e6| < 2^50
    * and the fraction is farther from a HALF_UP tie than the error of
    * the product and of `Double.toString` can reach. Anything else — a
    * near tie, a larger value, an overflow that must raise — falls back
    * to Spark's own `Decimal` cast, so each value equals the cast's
    * exactly. The unscaled values sum into `Long` slots that spill into
    * `BigInteger` ones before they overflow. They are recomputed on
    * every step rather than cached beside the coordinates: at 8 B per
    * coordinate that would double the fit's cache, and the conversion
    * costs a few nanoseconds.
    *
    * With `labels` (one set only), task i also writes the `cid,x,y` line
    * of each of its points, labelled with its nearest centroid, to part
    * i.
    *
    * The `runJob` stays in this method: the benchmark attributes a job
    * to the innermost repository frame of its call site.
    * @throws IllegalArgumentException on the driver, before the job, for
    *         a centroid with a null, NaN or ±Inf coordinate or without
    *         dim/m of them, naming its cid */
  private[kmeans] def step(coords: RDD[Coords], dim: Int, sets: Seq[Seq[CentND]], exact: Boolean,
      withSse: Boolean, labels: Option[graft.Tables.CsvParts]): (Seq[Seq[CentND]], Option[Double]) = {
    require(sets.nonEmpty && sets.forall(_.nonEmpty), "step: empty centroid set")
    val w = dim / sets.length
    sets.flatten.find(c => !finiteCentroid(c.vec, w)).foreach(c => throw new IllegalArgumentException(
      s"k-means centroid cid ${c.cid} does not hold $w finite coordinates (a null, NaN or infinite value, or another length)"))
    require(w > 0 && dim % sets.length == 0, s"step: $dim coordinates do not split into ${sets.length} sets")
    val sorted = sets.map(_.sortBy(_.cid))
    val cs = sorted.flatten.toArray
    val start = sorted.scanLeft(0)(_ + _.length).toArray
    // centroids of a set sharing a cid share its slot, as they share one SQL group
    val slot = sorted.zip(start).flatMap { case (set, s0) => set.map(c => s0 + set.indexWhere(_.cid == c.cid)) }.toArray
    val kernel = new Kernel(w, start, cs.flatMap(_.vec), cs.map(_.cid), slot, exact, withSse, labels)
    val parts = coords.sparkContext.runJob(coords, kernel, coords.partitions.indices)
    // the exact total of one slot over the tasks: BigInteger + Long parts
    def total(longs: Slots => Array[Long], bigs: Slots => Array[BigInteger], i: Int) =
      parts.foldLeft(BigInteger.ZERO)((t, p) => t.add(bigs(p)(i)).add(BigInteger.valueOf(longs(p)(i))))
    def mean(sum: BigInteger, n: Long): Double =
      decimal(Decimal(new java.math.BigDecimal(sum, 6)), 38, 6).toDouble / n
    val next = sorted.indices.map { s =>
      (start(s) until start(s + 1)).filter(g => slot(g) == g).flatMap { g =>
        val n = parts.map(_.n(g)).sum
        Option.when(n > 0)(CentND(cs(g).cid, (g * w until (g + 1) * w).map(i =>
          if (exact) mean(total(_.longs, _.bigs, i), n) else parts.map(_.sums(i)).sum / n)))
      }
    }
    val sse = Option.when(withSse)(
      KMeansOps.gridToObjective(decimal(Decimal(total(_.lg, _.ug, 0)), 38, 0)))
    (next, sse)
  }

  /** Full fit. Caches the points' coordinates ([[coordinates]]) for the
    * duration of the loop and of its closing pass and unpersists them on
    * exit (see [[lloyd]]).
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
    val (sets, iter, objs, objective) =
      lloyd(coords, 2, nd(init), cfg.maxIter, cfg.tol, cfg.convergence, trace, exact, last)
    FitResult(xy(sets), iter, objs, objective)
  }

  /** The Lloyd loop over the points `coords` holds, `dim` coordinates
    * each. It caches them for the duration of the loop and of its closing
    * pass (the one real performance decision vs the reference — SURVEY.md
    * §4) and unpersists them on exit. Every superstep is one kernel job
    * over that cache (see [[step]]), and so is the closing pass; the
    * first one also fills the cache. The m centroid sets `init` step in
    * lockstep. The loop stops after `maxIter` steps or, with
    * `convergence`, at the first step after which no centroid of any set
    * moved more than `tol`.
    * @return the final sets, the iterations run, and [[fit]]'s objective
    *         trace and closing-pass objective */
  private[kmeans] def lloyd(coords: RDD[Coords], dim: Int, init: Seq[Seq[CentND]], maxIter: Int,
      tol: Double, convergence: Boolean, trace: Boolean = false, exact: Boolean = true,
      last: Option[FinalPass] = None): (Seq[Seq[CentND]], Int, Seq[Double], Option[Double]) = {
    val cache = coords.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      def pass(sets: Seq[Seq[CentND]], withSse: Boolean,
          labels: Option[graft.Tables.CsvParts] = None): (Seq[Seq[CentND]], Option[Double]) = {
        val r = step(cache, dim, sets, exact, withSse, labels)
        require(r._1.forall(_.nonEmpty), "fit: the k-means input holds no points")
        r
      }
      var sets = init
      var iter = 0
      var go = maxIter > 0
      val objs = Seq.newBuilder[Double]
      while (go) {
        val (next, prevSse) = pass(sets, withSse = trace)
        iter += 1
        // step i+1 measured the SSE of step i's centroids: trace entry
        // i-1; the first step's (the initial centroids') is not traced
        if (iter > 1) objs ++= prevSse
        go = iter < maxIter && (!convergence || moved(next, sets, tol))
        sets = next
      }
      val objective =
        if (trace && iter > 0 || last.isDefined)
          pass(sets, withSse = true, last.flatMap(_.labels))._2
        else None
      if (trace && iter > 0) objs ++= objective
      (sets, iter, objs.result(), objective)
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
