package graft

import java.nio.file.Files

/** The CSV readers reject input that would silently skew a fit: Spark's
  * default PERMISSIVE mode turns a bad token or a short row into nulls,
  * truncates an extra field, and passes NaN and ±Infinity, and a null or
  * NaN coordinate biases the mean of whatever cluster its row lands in.
  * Each case below must fail the read, also through the paper CLI's own
  * points reader (`KMeansFit.csvCoordinates`); a clean file still
  * reads, and every accepted spelling reads alike through both. */
class CsvValidationSpec extends SparkSpec {

  private val dir = Files.createTempDirectory("graft-csv-validation")

  private def csv(name: String, lines: String*): String = {
    val f = dir.resolve(name.replaceAll("[^A-Za-z0-9]", "_") + ".csv")
    Files.writeString(f, lines.mkString("", "\n", "\n"))
    f.toString
  }

  /** Messages of `e` and its causes, outermost first. */
  private def messages(e: Throwable): List[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toList

  // (case, bad x value or row) — the bad row sits between two good ones,
  // the ROADMAP probe's shape: (10,10), (12,12) plus one bad row
  private val badRows = Seq(
    "bad token" -> "abc,1.0",
    "short row" -> "1.0",
    "extra field" -> "1.0,2.0,3.0",
    "empty field" -> ",1.0",
    "NaN" -> "NaN,1.0",
    "Infinity" -> "Infinity,1.0",
    "-Infinity" -> "-Infinity,1.0")

  // the value checks name the file and the column
  private val checked = Set("empty field", "NaN", "Infinity", "-Infinity")

  badRows.foreach { case (label, row) =>
    test(s"pointsCsv rejects a row with: $label") {
      val path = csv(s"points_$label", "X,Y", "10.0,10.0", row, "12.0,12.0")
      val e = intercept[Exception](Tables.pointsCsv(spark, path).collect())
      if (checked(label))
        assert(messages(e).exists(m => m.contains(path) && m.contains("column x")),
          messages(e).mkString(" / "))
    }

    test(s"the CLI's points reader rejects a row with: $label") {
      val path = csv(s"cli_$label", "X,Y", "10.0,10.0", row, "12.0,12.0")
      val e = intercept[Exception](KMeansMain.run(spark, Map(
        "points" -> path, "numcentroids" -> "2", "seed" -> "1", "iterations" -> "1")))
      if (checked(label))
        assert(messages(e).exists(m => m.contains(path) && m.contains("column x")),
          messages(e).mkString(" / "))
    }

    test(s"centroidsCsv rejects a row with: $label") {
      val path = csv(s"cents_$label", "Cluster,X,Y", "0,10.0,10.0", s"1,$row", "2,12.0,12.0")
      val e = intercept[Exception](Tables.centroidsCsv(spark, path).collect())
      if (checked(label))
        assert(messages(e).exists(m => m.contains(path) && m.contains("column x")),
          messages(e).mkString(" / "))
    }
  }

  // accepted spellings: the CLI's reader gives the coordinates
  // pointsCsv gives, in order, also where a file's text splits cut lines
  Seq(
    "quoted fields" -> "\"X\",\"Y\"\n\"10.0\",\"10.0\"\n\"-1.5\",\"2.0\"\n",
    "spaces around values" -> "X,Y\n 10.0 ,10.0\n-1.5, 2.0 \n",
    "exponents" -> "X,Y\n2.25e3,-1.5E-3\n10,1e0\n",
    "CRLF line ends" -> "X,Y\r\n10.0,10.0\r\n-1.5,2.0\r\n12.0,12.0\r\n",
    "blank lines" -> "\nX,Y\n\n10.0,10.0\n   \n\n-1.5,2.0\n\n",
    "no trailing newline" -> "X,Y\n10.0,10.0\n-1.5,2.0",
    // on 4 cores the first two text splits hold blank lines only
    "header past the first split" -> ("\n" * 40 + "X,Y\n10.0,10.0\n-1.5,2.0\n12.0,12.0\n")
  ).foreach { case (label, text) =>
    test(s"the CLI's points reader reads what pointsCsv reads: $label") {
      val f = dir.resolve("accepted_" + label.replaceAll("[^A-Za-z0-9]", "_") + ".csv")
      Files.writeString(f, text)
      val cli = kmeans.KMeansFit.csvCoordinates(spark, Tables.dataFiles(spark, f.toString))
        .collect().toSeq.flatMap(_.vs.grouped(2).map { case Array(x, y) => (x, y) })
      val ref = Tables.pointsCsv(spark, f.toString).collect().toSeq
        .map(r => (r.getDouble(0), r.getDouble(1)))
      assert(ref.size >= 2 && cli == ref)
    }
  }

  test("the CLI reads a file whose header is past its first text split") {
    val path = dir.resolve("late_header.csv")
    Files.writeString(path, "\n" * 40 + "X,Y\n10.0,10.0\n-1.5,2.0\n12.0,12.0\n")
    val splits = kmeans.KMeansFit.csvCoordinates(spark, Tables.dataFiles(spark, path.toString))
    assert(splits.collect().map(_.length).sum == 3)
    KMeansMain.run(spark, Map(
      "points" -> path.toString, "numcentroids" -> "2", "seed" -> "1", "iterations" -> "1"))
  }

  test("centroidsCsv rejects an empty cluster id") {
    val path = csv("cents_empty_cid", "Cluster,X,Y", "0,10.0,10.0", ",1.0,2.0")
    val e = intercept[Exception](Tables.centroidsCsv(spark, path).collect())
    assert(messages(e).exists(m => m.contains(path) && m.contains("column cid")))
  }

  test("clean files read unchanged") {
    val pts = csv("points_clean", "X,Y", "10.0,10.0", "-1.5,2.25e3", "12.0,12.0")
    assert(Tables.pointsCsv(spark, pts).collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq ==
      Seq((10.0, 10.0), (-1.5, 2250.0), (12.0, 12.0)))
    val cents = csv("cents_clean", "Cluster,X,Y", "0,10.0,10.0", "1,-0.5,3.0")
    assert(Tables.centroidsCsv(spark, cents).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).toSeq ==
      Seq((0, 10.0, 10.0), (1, -0.5, 3.0)))
  }
}
