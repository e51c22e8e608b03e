package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kmeans._

/** CLI entry point mirroring the reference program's argument contract
  * (README.md:10-32 / KMeans.java:58-66) so a user of the reference can
  * run the same invocations against this engine:
  *
  *   -points <csv>        points input (header X,Y)
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
  * Sinks are single-file headerless overwrite CSV (O15); with no
  * out-paths the results print to stdout (O16, KMeans.java:143,243-245).
  * Every flag takes exactly one value; an unknown flag or a flag without
  * a value is rejected rather than silently falling back to a default.
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
    val cfg = KMeansConfig(
      k = p.getOrElse("numcentroids", "6").toInt,
      maxIter = p.getOrElse("iterations", "100").toInt,
      tol = p.getOrElse("epsilon", "0").toDouble,
      convergence = p.getOrElse("custconvergence", "false").toBoolean,
      minC = p.getOrElse("minc", "-15").toDouble,
      maxC = p.getOrElse("maxc", "15").toDouble,
      recompNearest = p.getOrElse("recompnearest", "0").toInt,
      seed = p.getOrElse("seed", "42").toLong)

    val points = Tables.pointsCsv(spark, p("points"))
      .withColumn("pid", monotonically_increasing_id())
      .select("pid", "x", "y")

    // The -centroids path is dual-purpose, as in the reference
    // (KMeans.java:60,132): with -numcentroids it is the ECHO
    // destination for the generated centroids (so the run is
    // reproducible post-hoc); otherwise it is the input file (EP1).
    val init: Seq[Cent] =
      if (p.contains("numcentroids")) {
        val cents = KMeansFit.randomInit(cfg)
        p.get("centroids").foreach(path =>
          Tables.writeCsvSingle(Tables.centroidsDF(spark, cents), path))
        cents
      } else {
        Tables.centroidsCsv(spark, p("centroids")).collect()
          .map(r => Cent(r.getInt(0), r.getDouble(1), r.getDouble(2)))
          .toSeq.sortBy(_.cid)
      }

    val traced = p.contains("objtraceout")
    val res = KMeansFit.fit(points, init, cfg, trace = traced)
    val assigned = KMeansOps.assign(points, res.centroids)
    // A trace's last entry IS the SSE against the final centroids (the
    // fit computes it exactly as `sse` does, over its cached points), so
    // a traced run takes the objective from it instead of re-scanning
    // the CSV; untraced (or zero-iteration) runs pay the one pass here.
    val objective =
      if (traced && res.objTrace.nonEmpty) res.objTrace.last
      else KMeansFit.sse(points, res.centroids)

    p.get("objtraceout").foreach { path =>
      import spark.implicits._
      val trace = res.objTrace.zipWithIndex
        .map { case (obj, i) => (i + 1, obj) }
      Tables.writeCsvSingle(trace.toDF("iter", "objval"), path)
    }

    val pointsOut = assigned.select("cid", "x", "y")
    val centsOut = Tables.centroidsDF(spark, res.centroids)
    val objOut = {
      import spark.implicits._
      Seq(objective).toDF("objective")
    }

    (p.get("pointsout"), p.get("centroidsout"), p.get("objfunout")) match {
      case (Some(po), Some(co), Some(oo)) =>
        Tables.writeCsvSingle(pointsOut, po)
        Tables.writeCsvSingle(centsOut, co)
        Tables.writeCsvSingle(objOut, oo)
      case _ =>
        Tables.printSink(centsOut)
        println(s"objective: $objective")
    }
    println(s"iterations run: ${res.iterations}")
    res
  }
}
