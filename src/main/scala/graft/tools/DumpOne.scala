package graft.tools

/** Dump a single registered query + its oracle SQL for ad-hoc compare:
  * runMain graft.tools.DumpOne <sfDir> <outDir> <query> [query...] */
object DumpOne {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, names @ _*) = args.toSeq.toArray[String]
    val spark = graft.Sessions.create("DumpOne", cores = 8)
    names.foreach { n =>
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.mode("overwrite").parquet(s"$outDir/$n.parquet")
      graft.SparkEntry.oracleSql.get(n).foreach { sql =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/$n.sql"),
          sql.getBytes("UTF-8"))
      }
      println(s"DUMPED $n")
    }
    spark.stop()
  }
}
