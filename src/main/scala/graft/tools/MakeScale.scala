package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1 fixture synthesis for the full-board oracle replay (VERDICT r10
  * item 1): replicate the sf0.1 tables `reps`× with consistent key
  * offsets so every foreign key stays internally consistent (each
  * replica references its own replica's dimension rows; nation/region
  * stay shared). The oracle compare is engine-vs-engine over the SAME
  * parquet, so provenance doesn't matter — MAGNITUDE does: sums,
  * counts, and key ranges all grow 10×, exactly the class (r6 decimal
  * break, r7 HUGEINT break) the replay is hunting.
  *
  * Key-width safety: strides are per-table max+1; l_partkey stays
  * below Tables.pidExpr's 1e6 radix field at every produced scale
  * (observed max 199999 at sf10 — partkey does NOT stride with the
  * replica count), and since r16 the packing itself is int64-safe to
  * ~sf10000 (the old suppkey field overflowed at sf10's 15M
  * orderkeys).
  *
  * Document text gets a per-replica suffix (k>0) so near-dedup queries
  * see realistic near-duplicates instead of pathological 10-way
  * identical clusters; embeddings replicate verbatim (tie-breaks are
  * total orders, so ANN results stay deterministic in both engines).
  *
  *   runMain graft.tools.MakeScale [srcDir] [outDir] [reps]
  */
object MakeScale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Sessions.create("MakeScale", cores = 16,
      conf = Map("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
    new java.io.File(out).mkdirs()

    def put(df: DataFrame, name: String): Unit =
      writeOne(df, out, name, "MAKESCALE")
    def rep(df: DataFrame, offsets: Map[String, Long],
        textSuffix: Option[String] = None): DataFrame =
      replicate(df, reps, offsets, textSuffix)

    def t(name: String) = spark.read.parquet(s"$src/$name.parquet")

    // shared dims: one copy
    put(t("region"), "region")
    put(t("nation"), "nation")

    val sCust = stride(t("customer"), "c_custkey")
    val sSupp = stride(t("supplier"), "s_suppkey")
    val sPart = stride(t("part"), "p_partkey")
    val sOrd = stride(t("orders"), "o_orderkey")
    println(s"MAKESCALE strides cust=$sCust supp=$sSupp part=$sPart ord=$sOrd")
    require(reps * sPart < 1000000L && reps * sSupp < 100000L,
      "pid radix fields would overflow (Tables.pidExpr contract)")

    put(rep(t("customer"), Map("c_custkey" -> sCust)), "customer")
    put(rep(t("supplier"), Map("s_suppkey" -> sSupp)), "supplier")
    put(rep(t("part"), Map("p_partkey" -> sPart)), "part")
    put(rep(t("orders"),
      Map("o_orderkey" -> sOrd, "o_custkey" -> sCust)), "orders")
    put(rep(t("lineitem"), Map("l_orderkey" -> sOrd,
      "l_partkey" -> sPart, "l_suppkey" -> sSupp)), "lineitem")

    // ts is written as TIMESTAMP_NTZ to match the driver fixtures'
    // physical encoding (naive timestamp in DuckDB) — a TIMESTAMPTZ
    // source would make every events-derived timestamp column compare
    // tz-aware on the oracle side vs naive in Spark's INT96 results
    val ev = graft.Tables.events(spark, src)
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    val sEvt = stride(ev, "event_id")
    val sUsr = stride(ev, "user_id")
    put(rep(ev, Map("event_id" -> sEvt, "user_id" -> sUsr)), "events")

    val docs = t("documents")
    val sDoc = stride(docs, "doc_id")
    put(rep(docs, Map("doc_id" -> sDoc), textSuffix = Some("r")), "documents")

    val embs = t("embeddings")
    val sVec = stride(embs, "vec_id")
    put(rep(embs, Map("vec_id" -> sVec)), "embeddings")

    spark.stop()
  }

  private[tools] def stride(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).head().getLong(0) + 1L

  /** Write as ONE parquet file named <out>/<name>.parquet (the fixture
    * layout both Tables and the DuckDB views expect), logging its size
    * under `tag`. */
  private[tools] def writeOne(
      df: DataFrame, out: String, name: String, tag: String): Unit = {
    val tmp = s"$out/__tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file for $name"))
    val dst = new java.io.File(s"$out/$name.parquet")
    if (dst.exists()) dst.delete()
    java.nio.file.Files.move(part.toPath, dst.toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    println(s"$tag $name -> ${dst.length() / 1048576} MiB")
  }

  /** `reps` copies of `df`, copy r adding r·stride to each `offsets`
    * column; with a `textSuffix` letter, copies r > 0 append
    * " <letter><r>" to `text`. */
  private[tools] def replicate(df: DataFrame, reps: Int,
      offsets: Map[String, Long], textSuffix: Option[String]): DataFrame = {
    val r = broadcast(df.sparkSession.range(reps).toDF("__r"))
    var d = df.crossJoin(r)
    offsets.foreach { case (c, s) =>
      d = d.withColumn(c, col(c) + col("__r") * s)
    }
    textSuffix.foreach { letter =>
      d = d.withColumn("text",
        when(col("__r") === 0, col("text"))
          .otherwise(concat(col("text"), lit(s" $letter"), col("__r"))))
    }
    d.drop("__r")
  }
}
