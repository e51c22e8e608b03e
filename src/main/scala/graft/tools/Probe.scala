package graft.tools

/** Ad-hoc timing probe for individual registered queries:
  * runMain graft.tools.Probe <sfDir> <query> [query...] — times each
  * query end-to-end through the same noop sink as Bench. Pass `@all`
  * as the single query name to sweep every registered query (the sf1
  * at-scale sweep). When SPARK_GRAFT_PROBE_OUT is set, a JSON report
  * {sf_dir, tool, n_queries, total_sec, queries, errors} is rewritten
  * after EVERY query, so a killed sweep leaves a usable partial file.
  * Errors are recorded (sec = -1) instead of aborting the sweep, and
  * persisted RDD blocks are dropped between queries (the Bench lesson:
  * localCheckpoint blocks from CC-style loops otherwise churn the
  * BlockManager for every later query). */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names0 = args.tail
    val out = sys.env.get("SPARK_GRAFT_PROBE_OUT")
    val cpus = graft.Sessions.envCores
    val spark = graft.Sessions.create("Probe")
    val names =
      if (names0.sameElements(Array("@all"))) SparkEntryNames.all
      else names0.toSeq
    var timings = Vector.empty[(String, Double, Option[String])]
    def dump(): Unit = out.foreach { path =>
      val qs = timings.map { case (k, v, _) => f""""$k":$v%.2f""" }
        .mkString("{", ",", "}")
      val errs = timings.collect { case (k, _, Some(e)) =>
        s""""$k":"${e.replace("\\", "\\\\").replace("\"", "'").take(160)}""""
      }.mkString("{", ",", "}")
      val total = timings.map(_._2).filter(_ >= 0).sum
      val j = f"""{"sf_dir":"$sfDir","tool":"graft.tools.Probe (noop sink, local[$cpus], shuffle.partitions=$cpus, AQE on, one timed pass per query, cache+persisted RDDs cleared between)","n_queries":${timings.size},"total_sec":$total%.2f,"queries":$qs,"errors":$errs}"""
      val w = new java.io.PrintWriter(path)
      try w.println(j) finally w.close()
    }
    names.foreach { name =>
      val t0 = System.nanoTime()
      val r =
        try {
          graft.SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          ((System.nanoTime() - t0) / 1e9, None)
        } catch { case e: Throwable =>
          (-1.0, Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(140)}"))
        }
      println(f"PROBE $name ${r._1}%.2f s" + r._2.map(e => s" ERR $e").getOrElse(""))
      timings :+= ((name, r._1, r._2))
      dump()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}

/** The sweep name list, separated so Probe's arg handling stays dumb. */
private object SparkEntryNames {
  def all: Seq[String] = graft.SparkEntry.queries.keys.toSeq.sorted
}
