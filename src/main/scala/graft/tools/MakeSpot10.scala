package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf10 spot fixture (r13 verdict item 8): the three tables the heavy
  * operator families read — documents, embeddings, lineitem — at 10×
  * the sf1 fixture, for the scale-cliff spot board ([[Spot10]]).
  *
  * Differences from [[MakeScale]] (which builds FULL fixtures):
  *  - lineitem replicas stride ONLY l_orderkey: at sf10 a p_partkey
  *    stride would overflow Tables.pidExpr's 1e6 radix field (the
  *    documented ~sf10 contract edge), while orderkey-only striding
  *    keeps pid unique (the orderkey term is the top radix) and keeps
  *    every replica's part/supplier references pointing at the shared
  *    sf1 dimensions — valid snowflake semantics (fact grows, dims
  *    don't).
  *  - only the spot tables are written; the spot board never touches
  *    the others.
  *
  *   runMain graft.tools.MakeSpot10 [srcDir] [outDir] [reps]
  */
object MakeSpot10 {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("target/sf1")
    val out = args.lift(1).getOrElse("target/sf10")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Sessions.create("MakeSpot10", cores = 16)
    new java.io.File(out).mkdirs()

    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    def writeOne(df: DataFrame, name: String): Unit = {
      val tmp = s"$out/__tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $name"))
      val dst = new java.io.File(s"$out/$name.parquet")
      if (dst.exists()) dst.delete()
      java.nio.file.Files.move(part.toPath, dst.toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      println(s"MAKESPOT10 $name -> ${dst.length() / 1048576} MiB")
    }

    def rep(df: DataFrame, offsets: Map[String, Long],
        textSuffix: Boolean = false): DataFrame = {
      val r = broadcast(spark.range(reps).toDF("__r"))
      var d = df.crossJoin(r)
      offsets.foreach { case (c, s) =>
        d = d.withColumn(c, col(c) + col("__r") * s)
      }
      if (textSuffix)
        d = d.withColumn("text",
          when(col("__r") === 0, col("text"))
            .otherwise(concat(col("text"), lit(" s"), col("__r"))))
      d.drop("__r")
    }

    def t(name: String) = spark.read.parquet(s"$src/$name.parquet")

    val li = t("lineitem")
    val sOrd = stride(li, "l_orderkey")
    writeOne(rep(li, Map("l_orderkey" -> sOrd)), "lineitem")

    val docs = t("documents")
    writeOne(rep(docs, Map("doc_id" -> stride(docs, "doc_id")),
      textSuffix = true), "documents")

    val embs = t("embeddings")
    writeOne(rep(embs, Map("vec_id" -> stride(embs, "vec_id"))), "embeddings")

    spark.stop()
  }
}
