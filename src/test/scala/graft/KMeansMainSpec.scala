package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** End-to-end CLI contract (EP1/EP2) + CSV sink round-trip (O1/O15). */
class KMeansMainSpec extends SparkSpec {

  private val base = "/root/reference/script_results/script_3"
  private def tmp(name: String) = s"/tmp/graft-test/$name"

  test("EP1: file-init fit reproduces the reference golden objective") {
    assume(new java.io.File(s"$base/input/points.csv").exists())
    KMeansMain.run(spark, Map(
      "points" -> s"$base/input/points.csv",
      "centroids" -> s"$base/input/centroids.csv",
      "iterations" -> "15",
      "pointsout" -> tmp("pts"), "centroidsout" -> tmp("cents"),
      "objfunout" -> tmp("obj")))
    val objFile = Files.list(Paths.get(tmp("obj"))).iterator.asScala
      .find(_.toString.endsWith(".csv")).get
    val obj = Files.readString(objFile).trim.toDouble
    val golden = 264991.66158851766
    assert(math.abs(obj - golden) / golden < 1e-9)
    // points sink: one headerless CSV file with one row per input point
    val ptsFile = Files.list(Paths.get(tmp("pts"))).iterator.asScala
      .filter(_.toString.endsWith(".csv")).toList
    assert(ptsFile.size == 1)
    assert(Files.lines(ptsFile.head).count() == 100000L)
  }

  test("EP2: seeded random init is reproducible and respects the config") {
    assume(new java.io.File(s"$base/input/points.csv").exists())
    val args = Map(
      "points" -> s"$base/input/points.csv",
      "numcentroids" -> "4", "seed" -> "11",
      "iterations" -> "3", "custconvergence" -> "false")
    val a = KMeansMain.run(spark, args)
    val b = KMeansMain.run(spark, args)
    assert(a.centroids == b.centroids)
    assert(a.iterations == 3)
  }

  test("script_1 k-sweep through the CLI: unique-basin cells hit the golden best to 1e-6") {
    // The reference's objective-vs-k sweep (scripts/script_1.sh) did
    // not preserve its per-run random inits, so only the cells with a
    // UNIQUE optimum basin (k = 1..4 on the blob points — every init
    // converges to the same partition, so the converged SSE is
    // init-independent) are exactly comparable. Those four cells
    // replayed through the real CLI contract (KMeansMain.run with
    // seeded generated init, best of 2 seeds) must reproduce the
    // golden file's best objective within 1e-6 relative — the same
    // band the script_3 replay uses. k ≥ 5 scatters with init noise
    // in the goldens themselves (SweepReplay's artifact records the
    // full-curve ratios).
    val s1 = "/root/reference/script_results/script_1"
    assume(new java.io.File(s"$s1/input/points.csv").exists())
    def goldenBest(k: Int): Double = {
      val src = scala.io.Source.fromFile(s"$s1/results_objfun_$k.csv")
      try src.getLines().drop(1)
        .flatMap(_.split(",").lift(1).map(_.toDouble)).min
      finally src.close()
    }
    (1 to 4).foreach { k =>
      val best = (1 to 2).map { i =>
        val res = KMeansMain.run(spark, Map(
          "points" -> s"$s1/input/points.csv",
          "numcentroids" -> k.toString,
          "seed" -> (1000L * k + i).toString,
          "iterations" -> "30", "custconvergence" -> "false"))
        kmeans.KMeansFit.sse(
          Tables.pointsCsv(spark, s"$s1/input/points.csv")
            .withColumn("pid",
              org.apache.spark.sql.functions.monotonically_increasing_id())
            .select("pid", "x", "y"),
          res.centroids)
      }.min
      val g = goldenBest(k)
      assert(math.abs(best - g) / g < 1e-6,
        s"k=$k: best=$best golden=$g")
    }
  }

  test("objtraceout emits the per-iteration objective matching the reference goldens") {
    assume(new java.io.File(s"$base/input/points.csv").exists())
    KMeansMain.run(spark, Map(
      "points" -> s"$base/input/points.csv",
      "centroids" -> s"$base/input/centroids.csv",
      "iterations" -> "5",
      "pointsout" -> tmp("tr_pts"), "centroidsout" -> tmp("tr_cents"),
      "objfunout" -> tmp("tr_obj"), "objtraceout" -> tmp("tr_trace")))
    val traceFile = Files.list(Paths.get(tmp("tr_trace"))).iterator.asScala
      .find(_.toString.endsWith(".csv")).get
    val rows = Files.readAllLines(traceFile).asScala
      .map(_.split(",")).map(a => a(0).toInt -> a(1).toDouble).toMap
    assert(rows.keySet == (1 to 5).toSet)
    // golden from the reference's script_3 per-iteration results
    def golden(n: Int): Double = {
      val src = scala.io.Source.fromFile(s"$base/results_objfun_$n.csv")
      try src.getLines().drop(1).next().split(",")(1).toDouble
      finally src.close()
    }
    for (n <- Seq(1, 2, 5))
      assert(math.abs(rows(n) - golden(n)) / golden(n) < 1e-9, s"iter=$n")
  }

  test("CLI binary path: main(argv) in a fresh JVM replays all 15 script_3 goldens") {
    assume(new java.io.File(s"$base/input/points.csv").exists())
    // The real user entry point — graft.KMeansMain.main with the
    // reference's own flag syntax — in its OWN JVM (main builds and
    // stops its own SparkSession; running it in-process would stop the
    // suite's shared session). Same classpath + JDK17 module flags as
    // this forked test JVM.
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(
      s"${System.getProperty("java.home")}/bin/java", "-Xmx4g",
      "-Dspark.ui.enabled=false", "-cp", System.getProperty("java.class.path")) ++
      addOpens ++ Seq(
      "graft.KMeansMain",
      "-points", s"$base/input/points.csv",
      "-centroids", s"$base/input/centroids.csv",
      "-iterations", "15",
      "-pointsout", tmp("cli_pts"), "-centroidsout", tmp("cli_cents"),
      "-objfunout", tmp("cli_obj"), "-objtraceout", tmp("cli_trace"))
    val pb = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val exit = proc.waitFor()
    assert(exit == 0, s"CLI exited $exit:\n${out.takeRight(2000)}")
    val traceFile = Files.list(Paths.get(tmp("cli_trace"))).iterator.asScala
      .find(_.toString.endsWith(".csv")).get
    val rows = Files.readAllLines(traceFile).asScala
      .map(_.split(",")).map(a => a(0).toInt -> a(1).toDouble).toMap
    assert(rows.keySet == (1 to 15).toSet)
    def golden(n: Int): Double = {
      val src = scala.io.Source.fromFile(s"$base/results_objfun_$n.csv")
      try src.getLines().drop(1).next().split(",")(1).toDouble
      finally src.close()
    }
    for (n <- 1 to 15)
      assert(math.abs(rows(n) - golden(n)) / golden(n) < 1e-6, s"iter=$n")
  }

  test("CSV round-trip: write headerless, read back with positional schema") {
    import spark.implicits._
    val cents = Seq(kmeans.Cent(0, 1.5, -2.5), kmeans.Cent(1, 3.25, 4.75))
    Tables.writeCsvSingle(Tables.centroidsDF(spark, cents), tmp("roundtrip"))
    // reference reader skips the first line (ignoreFirstLine) — our
    // writer emits no header, so prepend one like the notebook does
    val files = Files.list(Paths.get(tmp("roundtrip"))).iterator.asScala
      .filter(_.toString.endsWith(".csv")).toList
    assert(files.size == 1)
    val withHeader = tmp("roundtrip_hdr.csv")
    Files.writeString(Paths.get(withHeader),
      "Cluster,X,Y\n" + Files.readString(files.head))
    val back = Tables.centroidsCsv(spark, withHeader).collect()
      .map(r => kmeans.Cent(r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .toSeq.sortBy(_.cid)
    assert(back == cents)
  }

  test("arg parser handles the reference flag set") {
    val p = KMeansMain.parseArgs(Array(
      "-points", "p.csv", "-numcentroids", "8", "-epsilon", "0.5"))
    assert(p == Map("points" -> "p.csv", "numcentroids" -> "8", "epsilon" -> "0.5"))
    // a negative number is a value, not a flag
    assert(KMeansMain.parseArgs(Array("-minc", "-15", "-maxc", "15")) ==
      Map("minc" -> "-15", "maxc" -> "15"))
    // a typo must not silently run the default 100 iterations
    val unknown = intercept[IllegalArgumentException](
      KMeansMain.parseArgs(Array("-points", "p.csv", "-iteration", "5")))
    assert(unknown.getMessage.contains("-iteration"))
    // a flag without a value must not swallow the next flag as its value
    val noValue = intercept[IllegalArgumentException](
      KMeansMain.parseArgs(Array("-custconvergence", "-epsilon", "0.5")))
    assert(noValue.getMessage.contains("-custconvergence"))
    val trailing = intercept[IllegalArgumentException](
      KMeansMain.parseArgs(Array("-points", "p.csv", "-iterations")))
    assert(trailing.getMessage.contains("-iterations"))
  }

  test("paper anchor: the CLI job on in-repo blob points matches a sequential Lloyd") {
    // Needs no reference download: 4000 deterministic blob points
    // (8 centres, σ = 0.6, FIXTURES.md §1) through KMeansMain.run with
    // seeded random init, 10 iterations and all four sinks.
    val n = 4000; val k = 8; val iters = 10; val seed = 3L
    val pts = Blobs.points(n, seed = 21)
    val dir = Files.createTempDirectory("kmeans-anchor")
    val csv = dir.resolve("points.csv")
    Files.writeString(csv,
      pts.map { case (x, y) => s"$x,$y" }.mkString("X,Y\n", "\n", "\n"))
    def out(name: String) = dir.resolve(name).toString
    def sink(name: String): Seq[Array[String]] = {
      val f = Files.list(Paths.get(out(name))).iterator.asScala
        .filter(_.toString.endsWith(".csv")).toList
      assert(f.size == 1, s"$name: expected one CSV part")
      Files.readAllLines(f.head).asScala.toSeq.map(_.split(","))
    }
    val args = Map(
      "points" -> csv.toString, "numcentroids" -> k.toString,
      "seed" -> seed.toString, "iterations" -> iters.toString,
      "custconvergence" -> "false")
    val res = KMeansMain.run(spark, args ++ Map(
      "pointsout" -> out("pts"), "centroidsout" -> out("cents"),
      "objfunout" -> out("obj"), "objtraceout" -> out("trace")))

    val obj = sink("obj").head(0).toDouble
    val trace = sink("trace").map(a => a(0).toInt -> a(1).toDouble)
    val cents = sink("cents")
      .map(a => kmeans.Cent(a(0).toInt, a(1).toDouble, a(2).toDouble)).sortBy(_.cid)
    assert(trace.map(_._1) == (1 to iters))
    assert(cents == res.centroids)
    // the objective is the trace's last row, and both are the SSE of the
    // written centroids recomputed from the input file
    assert(obj == trace.last._2)
    val points = Tables.pointsCsv(spark, csv.toString)
      .withColumn("pid", org.apache.spark.sql.functions.monotonically_increasing_id())
      .select("pid", "x", "y")
    assert(obj == kmeans.KMeansFit.sse(points, cents))
    trace.map(_._2).sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a, s"trace increased: $a -> $b") }

    // the untraced run computes its objective with its own pass: same value
    KMeansMain.run(spark, args ++ Map(
      "pointsout" -> out("pts2"), "centroidsout" -> out("cents2"),
      "objfunout" -> out("obj2")))
    assert(sink("obj2").map(_.toSeq) == sink("obj").map(_.toSeq))

    // independent sequential Lloyd in plain doubles: the reference's
    // java.util.Random init (x then y per centroid, uniform in ±15),
    // strict-< nearest centroid, empty clusters dropped
    val rnd = new java.util.Random(seed)
    var lc: Seq[(Int, Double, Double)] =
      (0 until k).map(i => (i, -15 + 30 * rnd.nextDouble(), -15 + 30 * rnd.nextDouble()))
    def nearest(x: Double, y: Double) = lc.minBy { case (cid, cx, cy) =>
      ((x - cx) * (x - cx) + (y - cy) * (y - cy), cid) }
    def lloydSse = pts.map { case (x, y) =>
      val (_, cx, cy) = nearest(x, y); (x - cx) * (x - cx) + (y - cy) * (y - cy) }.sum
    val lloydTrace = (1 to iters).map { _ =>
      lc = pts.groupBy { case (x, y) => nearest(x, y)._1 }.toSeq.sortBy(_._1)
        .map { case (cid, ps) =>
          (cid, ps.map(_._1).sum / ps.size, ps.map(_._2).sum / ps.size) }
      lloydSse
    }
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
    assert(cents.map(_.cid) == lc.map(_._1))
    cents.zip(lc).foreach { case (c, (_, x, y)) =>
      assert(close(c.x, x) && close(c.y, y), s"centroid $c vs ($x, $y)") }
    trace.map(_._2).zip(lloydTrace).foreach { case (a, b) =>
      assert(close(a, b), s"trace $a vs $b") }
    assert(sink("pts").size == n)
    assert(sink("pts").groupBy(_(0).toInt).map { case (c, r) => c -> r.size } ==
      pts.groupBy { case (x, y) => nearest(x, y)._1 }.map { case (c, r) => c -> r.size })
  }
}
