package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{JobCounting, SparkSpec}
import graft.kmeans.{KMeansND, KMeansNDSpec}

class PqIndexSpec extends SparkSpec with JobCounting {

  /** 4 well-separated clusters in 8-dim space, 10 vectors each; cluster
    * centers at 10·e_{2c}, members jittered deterministically. */
  private def clustered: DataFrame = {
    import spark.implicits._
    val rows = for {
      c <- 0 until 4
      i <- 0 until 10
    } yield {
      val v = Array.fill(8)(0.0f)
      v(2 * c) = 10.0f + (i % 3) * 0.1f
      v(2 * c + 1) = (i % 5) * 0.05f
      ((c * 10 + i).toLong, v, c)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("train yields m codebooks of <= nlist codewords with subDim dims") {
    val cb = PqIndex.train(IvfIndex.vectors(clustered), m = 4, nlist = 4, maxIter = 3)
    assert(cb.m == 4 && cb.subDim == 2 && cb.books.length == 4)
    assert(cb.books.forall(b => b.nonEmpty && b.length <= 4))
    assert(cb.books.forall(_.forall(_.vec.length == 2)))
  }

  test("lockstep train equals m per-subspace assign-recompute replays") {
    val vecs = IvfIndex.vectors(spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    val cb = PqIndex.train(vecs, m = 4, nlist = 16, maxIter = 3)
    val want = (0 until 4).map { s =>
      val sub = vecs.select(col("id"), slice(col("vec"), s * 16 + 1, 16).as("vec"))
      KMeansNDSpec.replay(sub, KMeansND.initFromLowestIds(sub, 16), 3)
    }
    assert(cb.subDim == 16 && cb.books == want)
  }

  test("train runs its init query and maxIter kernel jobs, with no shuffle and no leaked cache") {
    val sc = spark.sparkContext
    val vecs = IvfIndex.vectors(clustered)
    assert(vecs.rdd.getNumPartitions == sc.defaultParallelism)
    val init = tally(KMeansND.initFromLowestIds(vecs, 4))
    val before = sc.getPersistentRDDs.keySet
    val train = tally(PqIndex.train(vecs, m = 4, nlist = 4, maxIter = 3))
    assert(train.jobs == init.jobs + 3 && train.shuffleBytes == init.shuffleBytes, s"$train vs $init")
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("encode assigns every vector a code per subspace, from the book") {
    val vecs = IvfIndex.vectors(clustered)
    val cb = PqIndex.train(vecs, m = 4, nlist = 4, maxIter = 3)
    val codes = PqIndex.encode(vecs, cb).collect()
    assert(codes.length == 40)
    for (r <- codes; s <- 0 until 4) {
      val code = r.getInt(r.fieldIndex(s"code$s"))
      assert(cb.books(s).exists(_.cid == code))
    }
  }

  test("ADC top-k returns the query's own cluster on separated data") {
    val top = PqIndex.pqTopK(clustered, m = 4, nlist = 8, maxIter = 3,
      queryId = 0L, k = 10).collect()
    assert(top.length == 10)
    // query 0 is in cluster 0 (ids 0-9); ADC must keep the cluster
    // together: all 10 results from ids 0-9
    assert(top.forall(_.getLong(0) < 10L), top.map(_.getLong(0)).mkString(","))
    // distances are non-negative and sorted ascending with id tiebreak
    val ds = top.map(_.getDouble(1))
    assert(ds.forall(_ >= 0.0))
    assert(ds.sameElements(ds.sorted))
  }

  test("pqTopKRefined: exact-L2 rescore of the ADC shortlist recovers the true top-k") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val vecs = IvfIndex.vectors(embs)
    val q = vecs.filter(col("id") === 0L).head().getSeq[Double](1)
    val qc = array(q.map(lit): _*)
    val exact = vecs
      .select(col("id"), graft.kmeans.KMeansND.sqDistND(col("vec"), qc).as("d"))
      .orderBy(col("d").asc, col("id").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val refined = PqIndex.pqTopKRefined(embs, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the registered operating point (kFactor=50) retrieves the full
    // true top-10 on every measured fixture SF — and the refined dist
    // IS the exact squared L2, not the ADC approximation
    assert(refined == exact)
  }

  test("pq top-k plans as TakeOrderedAndProject over broadcast joins") {
    val plan = PqIndex.pqTopK(clustered, m = 4, nlist = 4, maxIter = 2,
      queryId = 0L, k = 5).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
    assert(plan.contains("BroadcastHashJoin"), "codebook joins must broadcast")
    assert(!plan.contains("CartesianProduct") ||
      plan.contains("BroadcastNestedLoopJoin"))
  }

  test("distortion: total row equals the sum of subspace MSEs; budget reduces error") {
    val embs = clustered
    val rows = PqIndex.pqDistortion(embs, m = 4, nlist = 16, maxIter = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.keySet == Set(-1L, 0L, 1L, 2L, 3L))
    // every subspace covers all 40 vectors
    (0L to 3L).foreach(s => assert(rows(s)._1 == 40L))
    assert(rows(-1L)._1 == 40L)
    // total MSE = Σ subspace MSEs (same exact grid sums, one division)
    val sumParts = (0L to 3L).map(s => rows(s)._2).sum
    assert(math.abs(rows(-1L)._2 - sumParts) < 1e-9)
    // more codebook budget can only reduce the winning distances:
    // nlist=1 (one codeword = the mean) must be strictly worse here
    val tight = PqIndex.pqDistortion(embs, m = 4, nlist = 1, maxIter = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rows(-1L)._2 < tight(-1L))
    rows.values.foreach { case (_, mse) => assert(mse >= 0.0) }
  }

  test("persisted-index probe returns exactly the in-plan pqTopK result") {
    val vecs = IvfIndex.vectors(clustered)
    val cb = PqIndex.train(vecs, m = 4, nlist = 8, maxIter = 3)
    val path = "/tmp/graft-test-pq-index"
    PqIndex.writeIndex(vecs, cb, path)
    val q = vecs.filter(col("id") === 0L).collect()(0).getSeq[Double](1)
    val probed = PqIndex.searchIndex(spark, path, q, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct = PqIndex.pqTopK(clustered, m = 4, nlist = 8, maxIter = 3,
      queryId = 0L, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probed == direct) // parquet round-trip is exact
    // the probe plan reads the codes table, never the embeddings
    val probePlan = PqIndex.searchIndex(spark, path, q, k = 10)
      .queryExecution.executedPlan.toString
    assert(probePlan.contains("codes"))
    assert(!probePlan.contains("embedding"))
  }

  test("registered query/oracle pair exists") {
    for (n <- Seq("pq_topk", "pq_topk_indexed",
        "ivfpq_topk", "ivfpq_topk_indexed", "ivfpq_topk_refined")) {
      assert(graft.SparkEntry.queries.contains(n), n)
      assert(graft.SparkEntry.oracleSql.contains(n), n)
    }
  }

  test("IVFADC keeps the query's cluster on separated data") {
    val top = PqIndex.ivfPqTopK(clustered, nlistC = 4, maxIterC = 3,
      m = 4, nlist = 8, maxIter = 3, queryId = 0L, k = 10, nprobe = 2)
      .collect()
    assert(top.nonEmpty && top.length <= 10)
    // the residual-ADC best match for query 0 is itself
    assert(top.head.getLong(0) == 0L, top.map(_.getLong(0)).mkString(","))
    // candidates are restricted to the probed lists, so every hit on
    // this separated fixture comes from the query's own cluster
    assert(top.forall(_.getLong(0) < 10L), top.map(_.getLong(0)).mkString(","))
    val ds = top.map(_.getDouble(2))
    assert(ds.forall(_ >= 0.0) && ds.sameElements(ds.sorted))
  }

  test("IVFADC+refine degenerates to EXACT search when all lists probed and shortlist covers") {
    import graft.kmeans.KMeansND
    val vecs = IvfIndex.vectors(clustered)
    // exact L2 top-10 computed independently (driver-side)
    val q = vecs.filter(col("id") === 0L).head().getSeq[Double](1).toArray
    val exact = vecs.collect().map { r =>
      val v = r.getSeq[Double](1).toArray
      var d = 0.0; var i = 0
      while (i < v.length) { val dx = v(i) - q(i); d += dx * dx; i += 1 }
      (d, r.getLong(0))
    }.sortBy(identity).take(10).map(_._2).toSeq
    // nprobe = nlistC (probe everything) and kFactor·k >= n (shortlist
    // = the whole corpus): the quantization can no longer lose anyone
    val got = PqIndex.ivfPqTopKRefined(clustered, nlistC = 4, maxIterC = 3,
      m = 4, nlist = 8, maxIter = 3, queryId = 0L, k = 10, nprobe = 4,
      kFactor = 4).collect().map(_.getLong(0)).toSeq
    assert(got == exact, s"got=$got exact=$exact")
  }

  test("persisted IVFADC probe equals the in-plan result and prunes partitions") {
    val path = "/tmp/graft-test-ivfpq-index"
    PqIndex.writeIvfPqIndex(clustered, nlistC = 4, maxIterC = 3,
      m = 4, nlist = 8, maxIter = 3, path)
    val q = IvfIndex.vectors(clustered)
      .filter(col("id") === 0L).head().getSeq[Double](1)
    val probe = PqIndex.searchIvfPqIndex(spark, path, q, k = 10, nprobe = 2)
    val probed = probe.collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val direct = PqIndex.ivfPqTopK(clustered, nlistC = 4, maxIterC = 3,
      m = 4, nlist = 8, maxIter = 3, queryId = 0L, k = 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(probed == direct) // parquet round-trip is exact
    // the probe reads ONLY the probed list_id partitions of the codes
    // table — a partition-pruned scan, and never the raw embeddings
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(800))
    assert(plan.contains("list_id"), plan.take(800))
    assert(!plan.contains("embedding"))
  }
}
