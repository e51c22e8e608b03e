package graft.tools

import org.apache.spark.sql.DataFrame

/** Scaling probe for the round-9 text operators (vocab tokenization and
  * unigram-LM scoring) plus the retrieval surface they feed — reuses
  * DedupBench's deterministic synthetic corpus. The claims under test:
  * tokenizeIds is one count agg + TakeOrdered + broadcast (token stream
  * never shuffles), lmScore is two aggs + one token-key join — both
  * should grow ~linearly in corpus size with no skew sensitivity (the
  * skewed corpus plants a 0.3n-hot boilerplate header). The retrieval
  * ops ride the same corpora: tfidf is the (doc_id,term) agg + one term
  * window, bm25TopK is claimed ONE corpus pass (pivoted per-term tf +
  * 1-row broadcast stats + TakeOrderedAndProject) — its time should
  * track the token-agg time, not the query, and the hot header (a
  * planted df=0.3n query term) must not bend the curve.
  *
  *   runMain graft.tools.TextBench [n1 n2 ...]   (default 100000 400000)
  */
object TextBench {

  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong) else Seq(100000L, 400000L)
    val spark = graft.Sessions.create("TextBench")

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def timed(label: String, df: => DataFrame): Unit = {
      val runs = (1 to 2).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        noop(df)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"TEXTBENCH $label ${runs.min}%8.2f s  (runs ${runs.map(r => f"$r%.2f").mkString(" ")})")
    }

    val warm = DedupBench.corpus(spark, 2000)
    noop(graft.ops.TextOps.tokenizeIds(warm))
    noop(graft.ops.TextOps.lmScore(warm))

    sizes.foreach { n =>
      val (docs, docsHot) = DedupBench.plainAndHot(spark, n)
      println(s"TEXTBENCH === n=$n ===")
      timed(s"n=$n tokenize_ids     ", graft.ops.TextOps.tokenizeIds(docs))
      timed(s"n=$n tokenize_ids_hot ", graft.ops.TextOps.tokenizeIds(docsHot))
      timed(s"n=$n lm_score         ", graft.ops.TextOps.lmScore(docs))
      timed(s"n=$n lm_score_hot     ", graft.ops.TextOps.lmScore(docsHot))
      // BM25 query terms must exist in the hash-word corpus: take 4 of
      // doc 0's tokens (deterministic — the corpus is) plus the planted
      // hot-header term, so the skewed run queries a df=0.3n term.
      val terms = (docs.select("text").where(org.apache.spark.sql.functions.col("doc_id") === 0)
        .collect()(0).getString(0).split(" ").distinct.take(4) :+ "terms").toSeq
      timed(s"n=$n tfidf            ", graft.ops.RetrievalOps.tfidf(docs))
      timed(s"n=$n tfidf_hot        ", graft.ops.RetrievalOps.tfidf(docsHot))
      timed(s"n=$n bm25_topk        ", graft.ops.RetrievalOps.bm25TopK(docs, terms))
      timed(s"n=$n bm25_topk_hot    ", graft.ops.RetrievalOps.bm25TopK(docsHot, terms))
      // pair-stream ops (r9 third wave): both are scan-side pair
      // generation + ONE map-side-combined shuffle — the hot header's
      // repeated pairs must collapse map-side, so _hot tracks plain
      timed(s"n=$n bpe_pairs        ", graft.ops.TextOps.bpePairs(docs))
      timed(s"n=$n bpe_pairs_hot    ", graft.ops.TextOps.bpePairs(docsHot))
      timed(s"n=$n skipgrams        ", graft.ops.TextOps.skipgramPairs(docs))
      timed(s"n=$n skipgrams_hot    ", graft.ops.TextOps.skipgramPairs(docsHot))
      // r9 fourth wave: DSIR (two B-bucket-keyed corpus passes — the
      // stats key space is fixed-width, so time must track corpus size,
      // never vocabulary) and per-doc entropy (one (doc,token) agg +
      // doc window). The hot header is shared vocabulary mass — it must
      // shift bucket weights, not the curve's slope.
      import org.apache.spark.sql.functions.{col, concat, lit, pmod}
      def withSource(d: DataFrame) = d.withColumn(
        "source", concat(lit("src"), pmod(col("doc_id"), lit(20))))
      timed(s"n=$n dsir_weights     ",
        graft.ops.Dsir.importanceWeights(withSource(docs), "src0"))
      timed(s"n=$n dsir_weights_hot ",
        graft.ops.Dsir.importanceWeights(withSource(docsHot), "src0"))
      timed(s"n=$n entropy          ", graft.ops.TextOps.tokenEntropy(docs))
      timed(s"n=$n entropy_hot      ", graft.ops.TextOps.tokenEntropy(docsHot))
      // r9 sixth wave: the profiler's distinct shuffle carries deduped
      // (col, value) pairs — the hot corpus repeats one header string
      // 0.3n times, which must collapse map-side (time tracks distinct
      // volume, not row count); sgns negatives' corpus-scale stage is
      // only the unigram count — the vocabulary-sized CDF directory and
      // probe join must not grow with n
      timed(s"n=$n profile          ",
        graft.ops.ProfileOps.profile(docs, Seq("doc_id", "text")))
      timed(s"n=$n profile_hot      ",
        graft.ops.ProfileOps.profile(docsHot, Seq("doc_id", "text")))
      timed(s"n=$n sgns_negatives   ", graft.ops.TextOps.sgnsNegatives(docs))
      timed(s"n=$n sgns_negatives_hot", graft.ops.TextOps.sgnsNegatives(docsHot))
      // r9 seventh wave: the BPE trainer is R=3 full corpus passes
      // (pair-count shuffle + stream rewrite per round) — time must be
      // ~3× bpe_pairs and track corpus size linearly; the hot header
      // only fattens one pair count (map-side collapsed), never the
      // rewrite volume
      timed(s"n=$n bpe_train        ", graft.ops.TextOps.bpeTrain(docs))
      timed(s"n=$n bpe_train_hot    ", graft.ops.TextOps.bpeTrain(docsHot))
    }
    spark.stop()
  }
}
