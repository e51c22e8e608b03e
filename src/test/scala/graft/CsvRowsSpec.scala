package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** `Tables.writeCsvRows`, the driver-side CSV sink, writes what Spark's
  * CSV sink (`Tables.writeCsvSingle`) writes for the same Int and Double
  * rows, byte for byte, without a Spark job. */
class CsvRowsSpec extends SparkSpec with JobCounting {
  import spark.implicits._

  private val doubles = Seq(1e-7, 1.0e7, 1e21, -0.0, 0.0, 4.9e-324, Double.MaxValue,
    -Double.MaxValue, 0.1, 1.0 / 3.0, -2.5, 123456.789012345, 1e-300, Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity)
  private val ints = Seq(0, -1, 42, Int.MaxValue, Int.MinValue)
  private val rows: Seq[(Int, Double, Double)] =
    doubles.zipWithIndex.map { case (d, i) => (ints(i % ints.size), d, -d) }

  private def dir(name: String): String =
    Files.createTempDirectory(s"csv-rows-$name").resolve("out").toString

  /** The concatenated content of a sink directory's part files. */
  private def content(path: String): String =
    Files.list(Paths.get(path)).iterator.asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
      .map(Files.readString).mkString

  private def visible(path: String): Set[String] =
    Files.list(Paths.get(path)).iterator.asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toSet

  test("part-file content is byte-identical to Spark's CSV sink for Int and Double rows") {
    val spark1 = dir("spark"); val driver = dir("driver")
    Tables.writeCsvSingle(rows.toDF("i", "a", "b"), spark1)
    val (jobs, _) = counted(Tables.writeCsvRows(spark, rows, driver))
    assert(jobs == 0)
    assert(content(driver) == content(spark1))
    assert(content(driver).linesIterator.next() == "0,1.0E-7,-1.0E-7")
    assert(visible(driver) == Set("part-00000.csv", "_SUCCESS"))
    assert(Files.size(Paths.get(driver, "_SUCCESS")) == 0L)
    // single-column rows, as the objective sink writes them
    val obj = Seq(264991.66158851766, 1e21)
    val objSpark = dir("obj-spark"); val objDriver = dir("obj-driver")
    Tables.writeCsvSingle(obj.toDF("objective"), objSpark)
    Tables.writeCsvRows(spark, obj.map(Tuple1(_)), objDriver)
    assert(content(objDriver) == content(objSpark))
  }

  test("zero rows give an empty part file, as Spark writes for an empty relation") {
    val spark0 = dir("spark0"); val driver0 = dir("driver0")
    Tables.writeCsvSingle(Seq.empty[(Int, Double)].toDF("iter", "objval"), spark0)
    Tables.writeCsvRows(spark, Seq.empty[(Int, Double)], driver0)
    assert(content(driver0) == content(spark0) && content(driver0).isEmpty)
    assert(visible(driver0) == Set("part-00000.csv", "_SUCCESS"))
  }

  test("overwrite replaces a directory that holds more files") {
    val out = dir("overwrite")
    Tables.writeCsvSingle(rows.toDF("i", "a", "b").repartition(3), out + "/nested")
    Files.writeString(Paths.get(out, "part-00001.csv"), "9,9.0,9.0\n")
    Files.writeString(Paths.get(out, "stale.txt"), "stale")
    Tables.writeCsvRows(spark, Seq((1, 2.0)), out)
    assert(visible(out) == Set("part-00000.csv", "_SUCCESS"))
    assert(content(out) == "1,2.0\n")
  }

  test("spark.read.csv reads the rows back value-exact") {
    val out = dir("readback")
    Tables.writeCsvRows(spark, rows, out)
    val back = spark.read.schema("i INT, a DOUBLE, b DOUBLE").csv(out).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).toSeq
    def bits(r: (Int, Double, Double)) =
      (r._1, java.lang.Double.doubleToLongBits(r._2), java.lang.Double.doubleToLongBits(r._3))
    assert(back.map(bits).sorted == rows.map(bits).sorted)
  }

  test("a field of another type is rejected") {
    val e = intercept[IllegalArgumentException](
      Tables.writeCsvRows(spark, Seq((1, "a,b")), dir("string")))
    assert(e.getMessage.contains("a,b"))
  }
}
