package graft.tools

/** Physical-plan audit: runMain graft.tools.PlanAudit <sfDir> [query...]
  * — prints unique Exchange / BroadcastExchange counts and whether the
  * plan contains a Window or TakeOrderedAndProject, per registered
  * query (all queries when none named). Feeds PLANS.md. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.tail.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    // static audit: disable AQE so the executed plan is a plain tree
    // (AdaptiveSparkPlanExec hides its inner plan from collect)
    val spark = graft.Sessions.create("PlanAudit", cores = 8,
      conf = Map("spark.sql.adaptive.enabled" -> "false"))
    names.foreach { name =>
      try {
        val physical = graft.SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.executedPlan
        // count DISTINCT exchange operators: a ReusedExchangeExec
        // reprints its target's subtree in toString, so substring
        // counting double-counts shared exchanges (the bug that inflated
        // early PLANS.md numbers). ReusedExchangeExec is a leaf, so a
        // tree collect sees each real exchange once; dedupe by node id
        // anyway for safety.
        import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
        val shuffles = physical.collect {
          case e: ShuffleExchangeLike => e.id
        }.distinct.size
        val bcasts = physical.collect {
          case e: BroadcastExchangeLike => e.id
        }.distinct.size
        val plan = physical.toString
        // operator-name match anywhere in the tree: the old
        // trim.startsWith probe missed every non-root Window because
        // toString lines keep their "+- "/":- " tree prefixes
        val window = """(?m)^[\s+:*()\d-]*Window(Group)?Exec|^[\s+:*()\d-]*Window\s""".r
          .findFirstIn(plan).isDefined
        val topk = plan.contains("TakeOrderedAndProject")
        println(f"PLAN $name%-22s shuffles=$shuffles%-3d broadcasts=$bcasts%-3d" +
          f" window=$window%-5s takeOrdered=$topk")
      } catch { case e: Throwable =>
        println(s"PLAN $name ERROR ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
    spark.stop()
  }
}
