package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions.monotonically_increasing_id
import scala.jdk.CollectionConverters._

/** `KMeansMain`'s points sink, written by the fit's closing kernel pass
  * through `Tables.writeCsvParts`, holds the bytes the Spark route
  * (`writeCsvSingle` of `KMeansOps.assign` against the final centroids,
  * kept here as the reference) writes, in the CSV's row order for any
  * number of source partitions. Also pins the part assembly's overwrite,
  * retry and failure behaviour. */
class PointsSinkSpec extends SparkSpec {

  private val n = 4000

  /** A blob-points CSV (header `X,Y`) in a fresh directory, and that
    * directory. */
  private def blobCsv(seed: Long): (Path, Path) = {
    val dir = Files.createTempDirectory("points-sink")
    val csv = dir.resolve("points.csv")
    Files.writeString(csv, Blobs.points(n, seed = seed)
      .map { case (x, y) => s"$x,$y" }.mkString("X,Y\n", "\n", "\n"))
    (dir, csv)
  }

  /** The concatenated content of a sink directory's part files. */
  private def content(path: Path): String =
    Files.list(path).iterator.asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
      .map(Files.readString).mkString

  private def visible(path: Path): Set[String] =
    Files.list(path).iterator.asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toSet

  /** Runs `body` with the CSV scan cut into splits of at most `bytes`. */
  private def withSplits[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def args(csv: Path, iterations: Int): Map[String, String] = Map(
    "points" -> csv.toString, "numcentroids" -> "8", "seed" -> "5",
    "iterations" -> iterations.toString, "custconvergence" -> "false")

  private def sinks(dir: Path, tag: String): Map[String, String] = Map(
    "pointsout" -> dir.resolve(s"pts-$tag").toString,
    "centroidsout" -> dir.resolve(s"cents-$tag").toString,
    "objfunout" -> dir.resolve(s"obj-$tag").toString)

  /** The points CSV as the Spark route reads it. */
  private def points(csv: Path) =
    Tables.pointsCsv(spark, csv.toString)
      .withColumn("pid", monotonically_increasing_id()).select("pid", "x", "y")

  private val width = 4 // SparkSpec's local[4]

  Seq(
    ("1 source partition, widened", Long.MaxValue, 1, 10),
    ("2 source partitions, widened", 0L, 2, 10),
    ("6 source partitions, not widened", 0L, 6, 10),
    ("0 iterations", Long.MaxValue, 1, 0)
  ).foreach { case (name, fixed, partitions, iterations) =>
    test(s"points sink is byte-identical to the Spark route: $name") {
      assert(spark.sparkContext.defaultParallelism == width)
      val (dir, csv) = blobCsv(seed = 31 + partitions)
      val split = if (fixed > 0) fixed else Files.size(csv) / partitions + 1
      withSplits(split) {
        assert(points(csv).rdd.getNumPartitions == partitions)
        val out = sinks(dir, name.filter(_.isLetterOrDigit))
        val res = KMeansMain.run(spark, args(csv, iterations) ++ out)
        val ref = dir.resolve("reference")
        Tables.writeCsvSingle(
          kmeans.KMeansOps.assign(points(csv), res.centroids).select("cid", "x", "y"),
          ref.toString)
        val pts = Paths.get(out("pointsout"))
        assert(content(pts) == content(ref))
        assert(content(pts).linesIterator.size == n)
        assert(visible(pts) == Set("part-00000.csv", "_SUCCESS"))
        assert(content(Paths.get(out("objfunout"))) ==
          s"${kmeans.KMeansFit.sse(points(csv), res.centroids)}\n")
      }
    }
  }

  test("the print path prints the objective the Spark route computes") {
    val (_, csv) = blobCsv(seed = 41)
    Seq(Map.empty[String, String], Map("objtraceout" -> csv.resolveSibling("trace").toString))
      .foreach { extra =>
        val buf = new java.io.ByteArrayOutputStream
        val res = Console.withOut(buf)(KMeansMain.run(spark, args(csv, 10) ++ extra))
        val printed = buf.toString("UTF-8").linesIterator
          .collectFirst { case l if l.startsWith("objective: ") => l.stripPrefix("objective: ") }
        assert(printed.contains(kmeans.KMeansFit.sse(points(csv), res.centroids).toString), extra)
      }
  }

  test("overwriting a sink directory that holds more files leaves the part and _SUCCESS") {
    val (dir, csv) = blobCsv(seed = 43)
    val out = sinks(dir, "over")
    val pts = Paths.get(out("pointsout"))
    Files.createDirectories(pts.resolve("_temporary"))
    Files.writeString(pts.resolve("part-00001.csv"), "9,9.0,9.0\n")
    Files.writeString(pts.resolve("part-00000-stale-c000.csv"), "stale\n")
    Files.writeString(pts.resolve("_temporary/part-00000"), "stale\n")
    KMeansMain.run(spark, args(csv, 2) ++ out)
    assert(visible(pts) == Set("part-00000.csv", "_SUCCESS"))
    assert(Files.size(pts.resolve("_SUCCESS")) == 0L)
    assert(content(pts).linesIterator.size == n)
  }

  test("parts join in partition order, and a rewritten part replaces its first write") {
    val out = Files.createTempDirectory("parts").resolve("out")
    val r = Tables.writeCsvParts(spark, out.toString) { parts =>
      def write(i: Int, text: String): Unit = {
        val w = parts.open(i)
        try w.write(text) finally w.close()
      }
      write(10, "10\n"); write(2, "stale attempt\n"); write(1, "1\n"); write(2, "2\n")
      "done"
    }
    assert(r == "done")
    assert(content(out) == "1\n2\n10\n")
    assert(visible(out) == Set("part-00000.csv", "_SUCCESS"))
  }

  test("a sink that cannot be written raises and leaves no temporary directory or cached RDD") {
    val (dir, csv) = blobCsv(seed = 47)
    val file = Files.writeString(dir.resolve("a-file"), "not a directory")
    val bad = sinks(dir, "bad") + ("pointsout" -> file.resolve("pts").toString)
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    intercept[java.io.IOException](KMeansMain.run(spark, args(csv, 2) ++ bad))
    assert(Files.readString(file) == "not a directory")
    assert(spark.sparkContext.getPersistentRDDs.keySet == cached)

    // a job that fails after writing a part: the error passes through and
    // the temporary parts go
    val out = dir.resolve("failed")
    val e = intercept[IllegalStateException](Tables.writeCsvParts(spark, out.toString) { parts =>
      parts.open(0).close()
      throw new IllegalStateException("job failed")
    })
    assert(e.getMessage == "job failed")
    assert(!Files.exists(out.resolve("_temporary")))
    assert(!Files.exists(out.resolve("part-00000.csv")))
  }
}
