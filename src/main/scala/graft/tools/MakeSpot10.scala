package graft.tools

import org.apache.spark.sql.DataFrame

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

    import MakeScale.{replicate, stride}
    def put(df: DataFrame, name: String): Unit =
      MakeScale.writeOne(df, out, name, "MAKESPOT10")

    def t(name: String) = spark.read.parquet(s"$src/$name.parquet")

    val li = t("lineitem")
    val sOrd = stride(li, "l_orderkey")
    put(replicate(li, reps, Map("l_orderkey" -> sOrd), None), "lineitem")

    val docs = t("documents")
    put(replicate(docs, reps, Map("doc_id" -> stride(docs, "doc_id")),
      Some("s")), "documents")

    val embs = t("embeddings")
    put(replicate(embs, reps, Map("vec_id" -> stride(embs, "vec_id")), None),
      "embeddings")

    spark.stop()
  }
}
