package perfbench

import graft.{KMeansMain, SparkEntry}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One benchmark workload: an operation made of one or more timed steps,
  * and where its outputs go. The harness times each step on its own and
  * cleans up between steps (see `Harness`), so an operation's time is
  * the sum of its steps. Each call into a layer's public function runs
  * under a job group named after that function, so traced jobs can fall
  * back to it when their own call site names no repository frame. */
trait Workload {
  /** The steps of one operation, in order. */
  def steps: Seq[String]

  /** Runs one step of the operation `tag`; `tag` names its output location. */
  def step(spark: SparkSession, tag: String, name: String): Unit

  /** Where the checks read the outputs of operation `tag`. */
  def outDir(tag: String): String

  /** Untimed follow-up to an operation: puts its outputs where the checks read them. */
  def saveOutputs(spark: SparkSession, tag: String): Unit = ()

  protected def inGroup[T](spark: SparkSession, group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, null)
    try body finally sc.clearJobGroup()
  }
}

object Workload {
  def apply(name: String, inputs: String, work: String, fixture: String, seed: Long): Workload =
    name match {
      case "paper_job" => new PaperJob(inputs, work, seed)
      case "operator_slice" => new OperatorSlice(work, fixture)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
}

/** The reference CLI job: CSV points in, Lloyd fit, four CSV sinks out. */
final class PaperJob(inputs: String, work: String, seed: Long) extends Workload {
  def steps: Seq[String] = Seq("KMeansMain.run")

  def outDir(tag: String): String = s"$work/ops/$tag"

  def step(spark: SparkSession, tag: String, name: String): Unit = {
    val out = outDir(tag)
    val args = Map(
      "points" -> s"$inputs/points.csv",
      "numcentroids" -> "8",
      "seed" -> seed.toString,
      "iterations" -> "10",
      "custconvergence" -> "false",
      "pointsout" -> s"$out/points",
      "centroidsout" -> s"$out/centroids",
      "objfunout" -> s"$out/objfun",
      "objtraceout" -> s"$out/objtrace")
    inGroup(spark, "KMeansMain.run")(KMeansMain.run(spark, args))
  }
}

/** Three multi-job iterative operators from the query registry, one step
  * each, timed from the registry call to the end of the query's
  * execution. The result rows are collected (they are small) and written
  * to parquet outside the timed region for the DuckDB twin check. */
final class OperatorSlice(work: String, fixture: String) extends Workload {
  private var pending: Seq[(String, Array[Row], StructType)] = Nil

  def steps: Seq[String] = OperatorSlice.Queries

  def outDir(tag: String): String = s"$work/ops/$tag"

  def step(spark: SparkSession, tag: String, q: String): Unit = {
    if (q == steps.head) pending = Nil
    val (rows, schema) = inGroup(spark, s"SparkEntry.queries.$q") {
      val df = SparkEntry.queries(q)(spark, fixture)
      (df.collect(), df.schema)
    }
    pending :+= ((q, rows, schema))
  }

  override def saveOutputs(spark: SparkSession, tag: String): Unit = {
    inGroup(spark, "perfbench.check") {
      pending.foreach { case (q, rows, schema) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"${outDir(tag)}/$q")
      }
    }
    pending = Nil
  }
}

object OperatorSlice {
  val Queries: Seq[String] = Seq("graph_pagerank", "emb_knn_graph", "init_kmeansbb")

  def oracleSql: Map[String, String] = Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
}
