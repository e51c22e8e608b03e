package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.{TopKPerKey, TopKPerKeyExec}

/** The custom whole-operator extension: per-key top-k via bounded
  * heaps (logical node + strategy + partial/final physical operator)
  * must reproduce the Window+rn formulation exactly while planning as
  * partial→Exchange→final with no Sort/Window. */
class TopKPerKeySpec extends SparkSpec {
  import spark.implicits._

  private def events = spark.read
    .parquet("/root/testdata/sf0.001/events.parquet")
    .select("event_type", "event_id", "value")

  private def windowed(k: Int) = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").desc, col("event_id").asc)
    events.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
  }

  test("matches the Window+row_number formulation row-for-row") {
    for (k <- Seq(1, 3, 10)) {
      val got = TopKPerKey(events, Seq("event_type"),
        Seq("value" -> false, "event_id" -> true), k)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val want = windowed(k).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want, s"k=$k mismatch")
    }
  }

  test("emits best-first within each key") {
    val rows = TopKPerKey(events, Seq("event_type"),
      Seq("value" -> false, "event_id" -> true), 5)
      .collect().map(r => (r.getString(0), r.getDouble(2)))
    rows.groupBy(_._1).foreach { case (_, vs) =>
      val seq = vs.map(_._2).toSeq
      assert(seq == seq.sortBy(-_), s"not best-first: $seq")
    }
  }

  test("plans as partial+final heap operators with one exchange, no Sort/Window") {
    // AQE wraps the plan in AdaptiveSparkPlanExec whose children are
    // opaque to collect(); the static plan shows the real operators
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      planShapeAssertions()
    } finally spark.conf.set(key, prev)
  }

  private def planShapeAssertions(): Unit = {
    val plan = TopKPerKey(events, Seq("event_type"),
      Seq("value" -> false, "event_id" -> true), 3)
      .queryExecution.executedPlan
    val execs = plan.collect { case e: TopKPerKeyExec => e }
    assert(execs.map(_.partial).sorted == Seq(false, true),
      s"expected partial+final, got ${execs.map(_.partial)}")
    val planStr = plan.toString
    assert(!planStr.contains("Window"), "must not plan a Window:\n" + planStr)
    assert(!planStr.contains("Sort "), "must not plan a Sort:\n" + planStr)
    assert(planStr.contains("Exchange") || planStr.contains("ShuffleQueryStage"),
      "final stage needs the key exchange:\n" + planStr)
  }

  test("partition invariance: same rows under any input partitioning") {
    val base = TopKPerKey(events, Seq("event_type"),
      Seq("value" -> false, "event_id" -> true), 3)
      .collect().map(_.toString).sorted
    for (parts <- Seq(1, 7, 32)) {
      val got = TopKPerKey(events.repartition(parts), Seq("event_type"),
        Seq("value" -> false, "event_id" -> true), 3)
        .collect().map(_.toString).sorted
      assert(got.sameElements(base), s"parts=$parts diverged")
    }
  }

  test("rankCol emits row_number()-identical ranks from the heap drain") {
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").desc, col("event_id").asc)
    val want = events.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    val got = TopKPerKey(events, Seq("event_type"),
      Seq("value" -> false, "event_id" -> true), 5, rankCol = Some("rank"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    assert(got == want)
  }

  test("topTokensPerLang routes through TopKPerKey: no Window, no Sort in the plan") {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val docs = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
      val plan = graft.ops.CuratePipeline.topTokensPerLang(docs)
        .queryExecution.executedPlan
      val execs = plan.collect { case e: TopKPerKeyExec => e }
      assert(execs.map(_.partial).sorted == Seq(false, true),
        s"expected partial+final heap operators, got ${execs.map(_.partial)}")
      assert(execs.exists(e => !e.partial && e.rankAttr.isDefined),
        "final stage must emit the rank")
      val planStr = plan.toString
      assert(!planStr.contains("Window"), "must not plan a Window")
      assert(!planStr.contains("Sort "), "must not plan a per-group Sort")
    } finally spark.conf.set(key, prev)
  }

  // the DataFrame formulation of knnGraph, kept as the kernel's reference
  test("knnGraph routes through TopKPerKey: no Window, no Sort in the plan") {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val embs = spark.read
        .parquet("/root/testdata/sf0.001/embeddings.parquet")
      val plan = graft.ops.KnnGraphDataFrame.knnGraph(embs)
        .queryExecution.executedPlan
      val execs = plan.collect { case e: TopKPerKeyExec => e }
      assert(execs.map(_.partial).sorted == Seq(false, true),
        s"expected partial+final heap operators, got ${execs.map(_.partial)}")
      assert(execs.exists(e => !e.partial && e.rankAttr.isDefined),
        "final stage must emit the rank")
      val planStr = plan.toString
      assert(!planStr.contains("Window"), "must not plan a Window")
      assert(!planStr.contains("Sort "), "must not plan a per-group Sort")
    } finally spark.conf.set(key, prev)
  }

  test("groups smaller than k pass through whole; total order breaks ties") {
    val df = Seq(
      ("a", 1L, 5.0), ("a", 2L, 5.0), ("a", 3L, 5.0), ("a", 4L, 1.0),
      ("b", 9L, 2.0)
    ).toDF("event_type", "event_id", "value")
    val got = TopKPerKey(df, Seq("event_type"),
      Seq("value" -> false, "event_id" -> true), 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // ties on value=5.0 resolved by event_id asc -> ids 1,2,3; group b whole
    assert(got == Set(("a", 1L), ("a", 2L), ("a", 3L), ("b", 9L)), s"got $got")
  }
}
