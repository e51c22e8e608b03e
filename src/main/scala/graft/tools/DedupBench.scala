package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup-at-scale probe: the testdata documents table tops out at a few
  * thousand rows, which verifies correctness but says nothing about how
  * the dedup operators GROW. This generates a deterministic synthetic
  * corpus of `n` documents (hash-derived words — no RNG state, same
  * corpus every run) with planted near-duplicates, materializes it as
  * parquet scratch, and times the dedup surface end-to-end at each
  * requested size, so the scaling exponent is measured rather than
  * argued from the plan.
  *
  *   runMain graft.tools.DedupBench [n1 n2 ...]   (default 20000 80000)
  *
  * Corpus shape: ~60 words/doc from a 5000-word vocabulary (Zipf-free
  * uniform hashing — worst case for the shingle DF cap, which exists for
  * hot shingles); every 20th doc re-uses the previous doc's words plus
  * one extra word → a planted near-dup pair (~5% dup rate, comparable to
  * web-crawl dedup ratios).
  */
object DedupBench {

  def corpus(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n, 1, 32)
      .select(col("id").as("doc_id"),
        // base: dup docs (id % 20 == 19) borrow the words of id-1
        when(pmod(col("id"), lit(20)) === 19, col("id") - 1)
          .otherwise(col("id")).as("base"))
      .select(col("doc_id"),
        concat_ws(" ",
          concat(
            transform(sequence(lit(1), lit(60)),
              i => conv(pmod(xxhash64(col("base"), i), lit(5000)) + 10000, 10, 36)),
            when(pmod(col("doc_id"), lit(20)) === 19,
              array(conv(pmod(xxhash64(col("doc_id")), lit(5000)) + 20000, 10, 36)))
              .otherwise(array()))).as("text"))

  /** The corpus with a genuinely hot shingle planted: 30% of documents
    * (doc_id % 10 < 3) open with the SAME 8-word boilerplate header —
    * the web-crawl "same site template on every page" shape. Each header
    * contributes 6 identical 3-gram shingles with df = 0.3n, which
    * uncapped would feed the blocking join (0.3n)² candidate pairs per
    * shingle — THE quadratic bomb the DF cap exists for. */
  def skewedCorpus(spark: SparkSession, n: Long): DataFrame = {
    val header = "terms of service apply to all pages here"
    corpus(spark, n).select(col("doc_id"),
      when(pmod(col("doc_id"), lit(10)) < 3,
        concat(lit(header + " "), col("text"))).otherwise(col("text")).as("text"))
  }

  /** The parquet at `path`, written from `gen` only when absent, so the
    * deterministic corpora are generated once per size. */
  private def generated(
      spark: SparkSession, path: String, gen: => DataFrame): DataFrame = {
    if (!new java.io.File(path, "_SUCCESS").exists())
      gen.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** ([[corpus]], [[skewedCorpus]]) of `n` documents, the plain/hot pair
    * the span and text probes time each operator on. */
  def plainAndHot(spark: SparkSession, n: Long): (DataFrame, DataFrame) =
    (generated(spark, s"target/dedup_bench_$n.parquet", corpus(spark, n)),
      generated(spark, s"target/span_bench_hot_$n.parquet",
        skewedCorpus(spark, n)))

  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong) else Seq(20000L, 80000L)
    val spark = graft.Sessions.create("DedupBench")

    def timed(label: String, df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val rows = df.count()
      println(f"DEDUPBENCH $label ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$rows")
    }

    // The editdist probe scales in NAME ROWS (millions — its cost is
    // output-bound), not document count; SPARK_GRAFT_DEDUPBENCH=editdist
    // runs only that section so the doc ops aren't dragged to sizes
    // they were never curve-targeted at.
    val section = sys.env.getOrElse("SPARK_GRAFT_DEDUPBENCH", "all")

    sizes.foreach { n =>
      if (section == "all") {
      val docs = generated(spark, s"target/dedup_bench_$n.parquet",
        corpus(spark, n))
      println(s"DEDUPBENCH === n=$n ===")
      timed(s"n=$n exact          ", graft.ops.Dedup.exact(docs))
      timed(s"n=$n fingerprint    ", graft.ops.Dedup.exactByFingerprint(docs))
      timed(s"n=$n minhash        ", graft.ops.Dedup.minhashNearDups(docs))
      timed(s"n=$n simhash        ", graft.ops.Dedup.simhashNearDups(docs))
      timed(s"n=$n ngram_jaccard  ", graft.ops.Dedup.ngramJaccardPairs(docs))
      timed(s"n=$n groups         ", graft.ops.Dedup.nearDupGroups(docs))
      spark.catalog.clearCache()

      // Skew stress: identical boilerplate header in 30% of docs. The DF
      // cap prunes the hot shingles before the blocking join, so the
      // capped runs must stay ~flat vs the unskewed corpus above;
      // without the cap the same query is a (0.3n)²-pair bomb (run it
      // yourself with maxDf = Int.MaxValue at n=2000 to watch it go off
      // — deliberately not part of the timed sweep).
      val skewed = generated(spark, s"target/dedup_bench_skew_$n.parquet",
        skewedCorpus(spark, n))
      timed(s"n=$n SKEW ngram_jacc", graft.ops.Dedup.ngramJaccardPairs(skewed))
      timed(s"n=$n SKEW minhash   ", graft.ops.Dedup.minhashNearDups(skewed))
      spark.catalog.clearCache()

      // Prefix-filtering join (lossless — no cap): on the uniform
      // corpus its cost should track ngram_jaccard (same verify work,
      // smaller candidate index); under the planted header the hot
      // shingles sort LAST by DF and never enter the ~20% prefix, so
      // the skewed run must stay ~flat too — the self-disarming
      // alternative to the cap, measured under the same stress.
      timed(s"n=$n prefix_jaccard ", graft.ops.Dedup.prefixJaccardPairs(docs))
      timed(s"n=$n SKEW prefix_jac", graft.ops.Dedup.prefixJaccardPairs(skewed))
      spark.catalog.clearCache()
      }

      // Blocked edit-distance fuzzy join: D = n/10 distinct names (10
      // key copies each), ~50 distinct names per block, and every odd
      // name a 1-char typo of its even sibling. The DP count is ~25·D
      // (distinct-domain, block-bounded) and the OUTPUT is ~10n pairs
      // (45 same-name + ~100 typo pairs per name pair) — so ~linear
      // total time demonstrates the DP never sees the n² row domain.
      // A hot NAME (here 1000 extra copies of one name) inflates only
      // the inherent pair OUTPUT (copies²/2), never the DP count.
      def mkNames(rows: Long, extraHot: Long): DataFrame = {
        val dDistinct = rows / 10
        val nBlocks = math.max(dDistinct / 50, 1L)
        val base = spark.range(0, rows, 1, 32).select(
          col("id").as("p_partkey"),
          pmod(col("id"), lit(dDistinct)).as("g"))
        val hot = spark.range(rows, rows + extraHot, 1, 8).select(
          col("id").as("p_partkey"), lit(0L).as("g"))
        // the name stem is a hashed base-36 token (two distinct stems
        // are ~never within edit distance 2 of each other), so the only
        // sub-threshold pairs are the planted same-name (45 per name)
        // and odd/even typo-sibling pairs (g and g^1 share the g/2
        // stem AND the g/2 block) — output stays ~10n, not an
        // accidental near-grid explosion
        base.unionAll(hot).select(
          col("p_partkey"),
          concat(
            lit("b"), pmod((col("g") / 2).cast("long"), lit(nBlocks)),
            lit(" "),
            conv(pmod(xxhash64((col("g") / 2).cast("long")), lit(1L << 40)),
              10, 36),
            when(pmod(col("g"), lit(2)) === 1, lit("x")).otherwise(lit("")))
            .as("p_name"))
      }
      // untimed warm pass so the first timed size measures the
      // operator, not codegen/JIT compilation of its 3-join plan
      graft.ops.Dedup.editDistancePairs(mkNames(50000, 0), maxDist = 2).count()
      timed(s"n=$n editdist       ",
        graft.ops.Dedup.editDistancePairs(mkNames(n, 0), maxDist = 2))
      timed(s"n=$n editdist HOT   ",
        graft.ops.Dedup.editDistancePairs(mkNames(n, 1000), maxDist = 2))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
