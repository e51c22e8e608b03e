package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shaping-at-scale probe: times the corpus-shaping surface (PII scrub,
  * context chunking, sequence packing, and the composed makeSequences)
  * on deterministic synthetic corpora of growing size, so the claimed
  * linearity is measured rather than argued. Scrub and chunk are pure
  * scan-stage work and must scale with tokens; packing adds one
  * per-shard window whose cost is the in-partition sort.
  *
  *   runMain graft.tools.ShapeBench [n1 n2 ...]   (default 50000 200000)
  *
  * Corpus shape: ~120 words/doc (2× the testdata docs) over 16 shards,
  * with a doc_id-derived email/URL planted every 10th doc so the scrub
  * regexes do real work.
  */
object ShapeBench {

  def corpus(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n, 1, 32)
      .select(col("id").as("doc_id"),
        concat_ws(" ",
          concat(
            transform(sequence(lit(1), lit(120)),
              i => conv(pmod(xxhash64(col("id"), i), lit(8000)) + 10000, 10, 36)),
            when(pmod(col("id"), lit(10)) === 0,
              array(concat(lit("u"), col("id").cast("string"),
                lit("@ex.org"), lit(" https://ex.org/"), col("id").cast("string"))))
              .otherwise(array()))).as("text"),
        concat(lit("shard"), pmod(col("doc_id"), lit(16))).as("source"))

  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong) else Seq(50000L, 200000L)
    val spark = graft.Sessions.create("ShapeBench")

    def execute(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    sizes.foreach { n =>
      val path = s"target/shape_corpus_$n.parquet"
      if (!new java.io.File(path, "_SUCCESS").exists())
        corpus(spark, n).write.mode("overwrite").parquet(path)
      val docs = spark.read.parquet(path)
      // warm the codegen paths once per size, then best-of-2
      Seq("warm", "a", "b").foreach { tag =>
        val ops = Seq[(String, () => DataFrame)](
          "scrub" -> (() => graft.ops.PretrainOps.scrubPii(docs)),
          "chunk" -> (() => graft.ops.PretrainOps.chunkDocs(docs)),
          "pack" -> (() => graft.ops.PretrainOps.packSequences(docs)),
          "sequences" -> (() => graft.ops.PretrainOps.makeSequences(docs)))
        ops.foreach { case (label, mk) =>
          val t0 = System.nanoTime()
          execute(mk())
          if (tag != "warm")
            println(f"SHAPE n=$n $label%-10s ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      }
    }
    spark.stop()
  }
}
