package graft

import org.apache.spark.sql.SparkSession
import graft.kmeans._

/** CLI entry point mirroring the reference program's argument contract
  * (README.md:10-32 / KMeans.java:58-66) so a user of the reference can
  * run the same invocations against this engine:
  *
  *   -points <csv>        points input (header X,Y): a file, a directory
  *                        or a glob of such files, plain or compressed
  *   -centroids <csv>     centroids input (header Cluster,X,Y) — EP1;
  *                        with -numcentroids it becomes the echo sink
  *                        for the generated centroids (KMeans.java:132)
  *   -numcentroids k      generate k random centroids instead — EP2
  *   -minc a -maxc b      random-init bounds (defaults ±15)
  *   -recompnearest r     re-spacing heuristic passes
  *   -seed s              RNG seed (our addition — the reference is
  *                        unseeded and thus unreproducible)
  *   -iterations n        max Lloyd iterations (default 100)
  *   -custconvergence b   enable the epsilon early exit (default false)
  *   -epsilon e           convergence epsilon
  *   -pointsout <dir>     assigned points sink (cid,x,y — headerless CSV)
  *   -centroidsout <dir>  final centroids sink (cid,x,y)
  *   -objfunout <dir>     objective value sink (single double)
  *   -objtraceout <dir>   per-iteration objective sink (iter,objval rows
  *                        — the reference needs one run PER iteration
  *                        count to build this table, scripts/
  *                        script_3.sh:18-42; we emit it from one run)
  *
  * Sinks are single-file headerless overwrite CSV (O15), and none is a
  * Spark CSV write. The points sink, the one that grows with the data,
  * is written by the fit's closing kernel pass: each task labels its
  * cached points with the final centroids, sums the objective and
  * writes its part, and the driver joins the parts
  * (`Tables.writeCsvParts`), so the CSV is scanned once per run. The
  * trace, the centroids, the objective and the `-centroids` echo are a
  * few driver-held rows, which the driver writes itself
  * (`Tables.writeCsvRows`) without a Spark job. `-pointsout`,
  * `-centroidsout` and `-objfunout` come together: with none of them
  * the centroids and the objective print to stdout (O16,
  * KMeans.java:143,243-245).
  *
  * The points input is no DataFrame query. `-points` resolves on the
  * driver, before anything is written, to its data files
  * (`Tables.dataFiles`: hidden `_*`/`.*` files skipped, path order),
  * and the fit's first kernel job parses their Hadoop text splits in
  * parallel with Spark's own CSV parser straight into its coordinate
  * cache (`KMeansFit.csvCoordinates`): no query planning, and no
  * shuffle on a file split as wide as the cores. A path without data
  * files raises an `IllegalArgumentException` naming `-points` before
  * any Spark job or sink; a file without points (a header alone) raises
  * one saying so; a malformed row, an empty field, NaN or ±Inf fails
  * the run as `Tables.pointsCsv` fails its read.
  *
  * Every flag takes exactly one value. [[run]] raises an
  * `IllegalArgumentException` naming the flag, before any Spark work,
  * rather than fall back to a default or skip a sink: an unknown flag,
  * a flag without a value, a missing `-points`, neither `-centroids`
  * nor `-numcentroids`, a value that does not parse as the flag's type
  * (`-iterations ten`, `-custconvergence yes`), or only some of the
  * three result sinks.
  */
object KMeansMain {

  /** The flags documented above, without their leading `-`. */
  private val Flags: Set[String] = Set(
    "points", "centroids", "numcentroids", "minc", "maxc", "recompnearest",
    "seed", "iterations", "custconvergence", "epsilon",
    "pointsout", "centroidsout", "objfunout", "objtraceout")

  /** `-flag value` pairs to a map keyed by flag name. A value may start
    * with `-` (`-minc -15`) unless it is itself a known flag, which means
    * the flag before it was given without a value.
    * @throws IllegalArgumentException naming an unknown or value-less flag */
  def parseArgs(args: Array[String]): Map[String, String] = {
    def flag(tok: String): Option[String] =
      Some(tok).filter(_.startsWith("-")).map(_.drop(1)).filter(Flags)
    args.toList.grouped(2).map { pair =>
      val name = flag(pair.head).getOrElse(throw new IllegalArgumentException(
        s"unknown flag: ${pair.head} (known: " +
          Flags.toSeq.sorted.map("-" + _).mkString(" ") + ")"))
      pair match {
        case List(_, v) if flag(v).isEmpty => name -> v
        case _ => throw new IllegalArgumentException(s"flag ${pair.head} has no value")
      }
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val p = parseArgs(args)
    val spark = Sessions.create("graft-kmeans")
    try run(spark, p) finally spark.stop()
  }

  def run(spark: SparkSession, p: Map[String, String]): FitResult = {
    def arg[T](name: String, default: String)(parse: String => T): T = {
      val v = p.getOrElse(name, default)
      try parse(v) catch { case _: IllegalArgumentException =>
        throw new IllegalArgumentException(s"flag -$name: cannot parse '$v'") }
    }
    require(p.contains("points"), "flag -points is required")
    require(p.contains("centroids") || p.contains("numcentroids"),
      "one of -centroids or -numcentroids is required")
    val sinks = Seq("pointsout", "centroidsout", "objfunout")
    require(sinks.forall(p.contains) || !sinks.exists(p.contains),
      "flags -pointsout -centroidsout -objfunout come together; missing: " +
        sinks.filterNot(p.contains).map("-" + _).mkString(" "))
    val cfg = KMeansConfig(
      k = arg("numcentroids", "6")(_.toInt),
      maxIter = arg("iterations", "100")(_.toInt),
      tol = arg("epsilon", "0")(_.toDouble),
      convergence = arg("custconvergence", "false")(_.toBoolean),
      minC = arg("minc", "-15")(_.toDouble),
      maxC = arg("maxc", "15")(_.toDouble),
      recompNearest = arg("recompnearest", "0")(_.toInt),
      seed = arg("seed", "42")(_.toLong))

    // -points resolves on the driver before anything is written: the
    // text splits would only fail once the fit's first job runs
    val files = Tables.dataFiles(spark, p("points"))
    require(files.nonEmpty, s"flag -points: no data files at '${p("points")}'")

    // The -centroids path is dual-purpose, as in the reference
    // (KMeans.java:60,132): with -numcentroids it is the ECHO
    // destination for the generated centroids (so the run is
    // reproducible post-hoc); otherwise it is the input file (EP1).
    val init: Seq[Cent] =
      if (p.contains("numcentroids")) {
        val cents = KMeansFit.randomInit(cfg)
        p.get("centroids").foreach(Tables.writeCsvRows(spark, cents, _))
        cents
      } else {
        Tables.centroidsCsv(spark, p("centroids")).collect()
          .map(r => Cent(r.getInt(0), r.getDouble(1), r.getDouble(2)))
          .toSeq.sortBy(_.cid)
      }

    // The fit's closing pass over its cached points measures the
    // objective of the final centroids and, with -pointsout, writes the
    // labelled points: the CSV is scanned once.
    def fit(labels: Option[Tables.CsvParts]) = KMeansFit.fit(
      KMeansFit.csvCoordinates(spark, files), init, cfg,
      trace = p.contains("objtraceout"), exact = true, last = Some(FinalPass(labels)))
    val res = p.get("pointsout").fold(fit(None))(
      Tables.writeCsvParts(spark, _)(parts => fit(Some(parts))))
    val objective = res.objective.get

    p.get("objtraceout").foreach(Tables.writeCsvRows(spark,
      res.objTrace.zipWithIndex.map { case (obj, i) => (i + 1, obj) }, _))

    (p.get("pointsout"), p.get("centroidsout"), p.get("objfunout")) match {
      case (Some(_), Some(co), Some(oo)) =>
        Tables.writeCsvRows(spark, res.centroids, co)
        Tables.writeCsvRows(spark, Seq(Tuple1(objective)), oo)
      case _ =>
        Tables.printSink(Tables.centroidsDF(spark, res.centroids))
        println(s"objective: $objective")
    }
    println(s"iterations run: ${res.iterations}")
    res
  }
}
