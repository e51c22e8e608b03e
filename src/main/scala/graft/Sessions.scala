package graft

import org.apache.spark.sql.SparkSession

/** The one place a `main` gets its `SparkSession` from, so every entry
  * point (Bench, Verify, KMeansMain and the `graft.tools` mains) runs
  * under the same policy:
  *
  *   - master: `SPARK_MASTER`, else `local[cores]`;
  *   - cores: `SPARK_GRAFT_CPUS`, else the machine's core count (the
  *     rule `local[*]` uses);
  *   - `spark.sql.shuffle.partitions` = cores;
  *   - session time zone UTC, Spark UI off, log level WARN.
  *
  * Adaptive execution is left at Spark's default (on). A caller passes
  * only its app name, plus, where its output depends on it, a fixed core
  * count or extra conf (e.g. AQE off for the static plan audits).
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else the machine's core count. */
  def envCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  def create(
      app: String,
      cores: Int = envCores,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
