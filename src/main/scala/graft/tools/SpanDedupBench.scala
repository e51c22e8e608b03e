package graft.tools

import org.apache.spark.sql.DataFrame

/** Scaling probe for the substring-level span dedup (the one r8 surface
  * that shipped without a measured growth curve). Reuses DedupBench's
  * deterministic synthetic corpus — ~60 words/doc, every 20th doc a
  * planted near-dup — plus a boilerplate-heavy variant where 30% of
  * documents share an identical 8-word header, i.e. one white-hot span
  * key occurring 0.3n times. The span pipeline's 100 TB claim is that
  * only fixed-width window HASHES shuffle (never text) and that
  * map-side partial aggregation collapses hot keys before the exchange;
  * this measures both: total time should grow ~linearly in n, and the
  * boilerplate variant should cost about the same as the plain one
  * (a hot key that exploded at the shuffle would show super-linear
  * growth here first).
  *
  *   runMain graft.tools.SpanDedupBench [n1 n2 ...]  (default 25000 100000)
  */
object SpanDedupBench {

  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong) else Seq(25000L, 100000L)
    val spark = graft.Sessions.create("SpanDedupBench")

    // noop sink, not count(): count() lets Catalyst eliminate the
    // cardinality-preserving left joins in span_stats (unique-key agg
    // outputs), timing a bare scan instead of the operator
    // best-of-2 with an explicit GC between runs: these aggregates churn
    // tens of millions of rows per run, and single-shot timings in a
    // shared JVM otherwise measure the PREVIOUS query's garbage as much
    // as this query's cost (observed 73s vs 16s for the same op
    // depending on session position)
    def timed(label: String, df: => DataFrame): Unit = {
      val runs = (1 to 2).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"SPANBENCH $label ${runs.min}%8.2f s  (runs ${runs.map(r => f"$r%.2f").mkString(" ")})")
    }

    // codegen/JVM warmup on a small corpus so size 1 isn't compile-bound
    val warm = DedupBench.corpus(spark, 2000)
    graft.ops.SpanDedup.dupSpans(warm).write.format("noop").mode("overwrite").save()
    graft.ops.SpanDedup.spanStats(warm).write.format("noop").mode("overwrite").save()

    sizes.foreach { n =>
      val (docs, docsHot) = DedupBench.plainAndHot(spark, n)
      println(s"SPANBENCH === n=$n ===")
      timed(s"n=$n dup_spans      ", graft.ops.SpanDedup.dupSpans(docs))
      timed(s"n=$n span_stats     ", graft.ops.SpanDedup.spanStats(docs))
      timed(s"n=$n dup_spans_hot  ", graft.ops.SpanDedup.dupSpans(docsHot))
      timed(s"n=$n span_stats_hot ", graft.ops.SpanDedup.spanStats(docsHot))
    }
    spark.stop()
  }
}
