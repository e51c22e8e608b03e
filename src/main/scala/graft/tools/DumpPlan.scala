package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Plan dumper for the optimization-round evidence files:
  * runMain graft.tools.DumpPlan <sfDir> <outDir> <suffix> [query...]
  * — writes `<outDir>/<query>_<suffix>.txt` (a registered or
  * bench-only query) with the query's `.explain("formatted")` output
  * (the physical plan with pushed filters, read schemas, join
  * strategies and exchange placement).
  * AQE is disabled so the dumped tree is the static plan the judge can
  * diff across rounds without runtime re-optimization noise; the same
  * setting PlanAudit uses for its shuffle counts. */
object DumpPlan {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: DumpPlan <sfDir> <outDir> <suffix> <query...>")
    val sfDir = args(0)
    val outDir = new java.io.File(args(1))
    val suffix = args(2)
    val names = args.drop(3).toSeq
    outDir.mkdirs()
    val spark = graft.Sessions.create("DumpPlan", cores = 8,
      conf = Map("spark.sql.adaptive.enabled" -> "false"))
    var failed = List.empty[String]
    names.foreach { name =>
      val out = new java.io.File(outDir, s"${name}_$suffix.txt")
      try {
        val df = graft.SparkEntry.queries.getOrElse(name,
          graft.SparkEntry.benchOnly(name))(spark, sfDir)
        val txt = df.queryExecution.explainString(
          ExplainMode.fromString("formatted"))
        val w = new java.io.PrintWriter(out, "UTF-8")
        try w.println(txt) finally w.close()
        println(s"PLAN WRITTEN $name -> ${out.getPath} (${txt.length} chars)")
      } catch { case e: Throwable =>
        println(s"PLAN ERROR $name ${e.getClass.getSimpleName}: ${e.getMessage}")
        failed ::= name
      } finally spark.catalog.clearCache()
    }
    spark.stop()
    // Evidence files must not go silently missing in automated round
    // runs (r16 advice): any failed dump fails the invocation.
    if (failed.nonEmpty) {
      System.err.println(s"DumpPlan: ${failed.size} plan(s) failed: " +
        failed.reverse.mkString(", "))
      sys.exit(1)
    }
  }
}
