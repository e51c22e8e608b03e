package graft.ops

import graft.SparkSpec

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("two-node cycle keeps the uniform fixed point exactly") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = GraphOps.pageRank(edges, iters = 5).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // 0.5 is the fixed point: contrib = 0.5/1, snap-to-grid is exact,
    // 0.15*0.5 + 0.85*0.5 = 0.5 in IEEE
    assert(r(1L) == 0.5 && r(2L) == 0.5)
  }

  test("symmetrized chain: the middle node outranks the ends, ends tie") {
    // a - b - c, both directions
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val r = GraphOps.pageRank(edges, iters = 10).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(2L) > r(1L))
    assert(r(1L) == r(3L), s"symmetry: ${r(1L)} vs ${r(3L)}")
    // rank mass conserved up to grid truncation
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("personalized PR: teleport mass stays seed-centered, far nodes decay") {
    // seed 1 on a symmetric chain 1-2-3-4: the seed keeps the largest
    // rank, the far end the smallest (strict hop-monotonicity does NOT
    // hold on a path — even/odd bounce parity), and total mass is
    // conserved (symmetrized graph, no dangling nodes)
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
      (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val r = GraphOps.pageRank(
      edges, iters = 8, isSource = node => node === 1L).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) == r.values.max, s"seed must lead: $r")
    assert(r(4L) == r.values.min, s"far end must trail: $r")
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    // uniform seed set == plain PageRank teleport: all-nodes predicate
    // reproduces the classic fixed point on the 2-cycle
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val u = GraphOps.pageRank(cyc, iters = 5,
      isSource = _ => org.apache.spark.sql.functions.lit(true))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(u(1L) == 0.5 && u(2L) == 0.5)
  }

  test("duplicate edges collapse; reruns are bit-identical") {
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val a = GraphOps.pageRank(edges, iters = 3).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val noDup = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val b = GraphOps.pageRank(noDup, iters = 3).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(a == b)
    val rerun = GraphOps.pageRank(edges, iters = 3).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(a.forall { case (k, v) =>
      java.lang.Double.doubleToLongBits(v) ==
        java.lang.Double.doubleToLongBits(rerun(k)) })
  }

  test("triangle counts: K4 minus an edge has exactly two triangles") {
    // K4 on {1,2,3,4} without (3,4): triangles {1,2,3} and {1,2,4}.
    // Nodes 1,2 sit in both; 3,4 in one each.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("a", "b")
    val t = GraphOps.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("triangle counts: a star has none; result is partition-invariant") {
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("a", "b")
    assert(GraphOps.triangleCounts(star).count() == 0)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    val one = GraphOps.triangleCounts(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val many = GraphOps.triangleCounts(edges.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(one == many)
  }

  test("clustering coefficient: K4-minus-an-edge hand values; star is all zero") {
    // K4 on {1,2,3,4} without (3,4): deg(1)=deg(2)=3, deg(3)=deg(4)=2;
    // T_1=T_2=2, T_3=T_4=1 → cc(1)=cc(2)=4/6, cc(3)=cc(4)=1.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("a", "b")
    val cc = GraphOps.clusteringCoefficient(edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(cc(1L) == ((3L, 2L, 2.0 * 2.0 / (3.0 * 2.0))))
    assert(cc(3L) == ((2L, 1L, 1.0)))
    // star center deg 4, no triangles → 0; leaves deg 1 → 0 (not dropped)
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("a", "b")
    val sc = GraphOps.clusteringCoefficient(star).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(sc.size == 5 && sc.values.forall(_ == 0.0), s"$sc")
  }

  test("basket lift: hand-computed lifts, support floor, dedup within order") {
    // 4 orders; (1,2) co-occur twice (incl. a duplicated line for part 1
    // in order 100 — order-distinct counting must collapse it), (1,3)
    // once (below the floor), (5,6) once
    val li = Seq(
      (100L, 1L), (100L, 1L), (100L, 2L), (100L, 3L),
      (101L, 1L), (101L, 2L),
      (102L, 5L), (102L, 6L),
      (103L, 3L))
      .toDF("l_orderkey", "l_partkey")
    val r = GraphOps.basketLift(li, minSupport = 2, k = 10).collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(4), x.getDouble(5))).toMap
    assert(r.keySet == Set((1L, 2L)))
    // supp(1)=2, supp(2)=2, supp(1,2)=2, n=4 → lift = 2·4/(2·2) = 2.0
    assert(r((1L, 2L)) == ((2L, 2L, 2L, 2.0)))
    // floor of 1 admits the single-co-occurrence pairs too
    val all = GraphOps.basketLift(li, minSupport = 1, k = 10).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(all == Set((1L, 2L), (1L, 3L), (2L, 3L), (5L, 6L)))
  }

  test("BFS: a symmetric chain relaxes one hop per superstep; unreached absent") {
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val r = GraphOps.bfsDistances(edges, seeds, iters = 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    // node 5 is 4 hops out — not yet reached after 3 supersteps
    assert(r == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("BFS: min over alternate paths, and the nearer of two seeds wins") {
    val edges = Seq(
      (1L, 2L), (2L, 4L), (1L, 3L), (3L, 4L), // diamond: 4 at dist 2
      (1L, 5L), (5L, 6L), (6L, 4L))           // long way round: dist 3
      .toDF("src", "dst")
    val r = GraphOps.bfsDistances(edges, Seq(1L).toDF("node"), iters = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(4L) == 2L && r(6L) == 2L)
    val r2 = GraphOps.bfsDistances(edges, Seq(1L, 6L).toDF("node"), iters = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r2(4L) == 1L, "seed 6 is one hop from 4")
    assert(r2(6L) == 0L)
  }

  test("co-order edges honor the support threshold") {
    val li = Seq(
      (100L, 1L), (100L, 2L), (100L, 3L),
      (101L, 1L), (101L, 2L),
      (102L, 5L), (102L, 6L))
      .toDF("l_orderkey", "l_partkey")
    val e2 = GraphOps.coOrderEdges(li, minSupport = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e2 == Set((1L, 2L)))                 // only pair seen twice
    val e1 = GraphOps.coOrderEdges(li, minSupport = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e1 == Set((1L, 2L), (1L, 3L), (2L, 3L), (5L, 6L)))
  }

  test("k-core peel: a clique survives, pendant chains cascade away") {
    // K4 on 1..4 (deg 3 inside) with a pendant chain 4-5-6: at k=2 the
    // chain peels over TWO rounds (6 first, then 5), the clique stays
    def sym(e: Seq[(Long, Long)]) = (e ++ e.map(_.swap)).toDF("src", "dst")
    val edges = sym(Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)))
    val core2 = GraphOps.kCore(edges, k = 2, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(core2.keySet == Set(1L, 2L, 3L, 4L))
    assert(core2.values.toSet == Set(3L), "clique degrees after peel")
    // one round is NOT enough: node 5 still had degree 2 before 6 left
    val oneRound = GraphOps.kCore(edges, k = 2, rounds = 1).collect()
      .map(_.getLong(0)).toSet
    assert(oneRound == Set(1L, 2L, 3L, 4L, 5L))
    // k above the max degree empties the graph
    assert(GraphOps.kCore(edges, k = 4, rounds = 2).collect().isEmpty)
  }

  test("label propagation separates two bridged triangles into communities") {
    def sym(e: Seq[(Long, Long)]) = (e ++ e.map(_.swap)).toDF("src", "dst")
    val edges = sym(Seq(
      (1L, 2L), (1L, 3L), (2L, 3L),      // triangle A
      (4L, 5L), (4L, 6L), (5L, 6L),      // triangle B
      (3L, 4L)))                          // bridge
    val got = GraphOps.labelPropagation(edges, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // hand-traced synchronous rounds with (cnt DESC, label ASC) argmax
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L), s"got $got")
  }

  // The one-aggregate LP round (mode instead of count+argmax) was tried
  // and REVERTED in r17: the TypedImperativeAggregate falls back to
  // sort-based aggregation past 128 keys/partition and measured 16→119 s
  // at sf1. This pin documents the semantic equivalence that made the
  // experiment valid, should the fallback threshold ever be revisited.
  test("deterministic mode ties equal the (cnt DESC, label ASC) argmax " +
      "(the rejected r17 one-aggregate LP round)") {
    import org.apache.spark.sql.functions._
    // node 1: labels 5 and 2 tie at 2 occurrences -> argmax picks 2;
    // node 2: label 7 strictly wins; node 3: all singletons -> smallest
    val rows = Seq((1L, 5L), (1L, 5L), (1L, 2L), (1L, 2L), (1L, 9L),
      (2L, 7L), (2L, 7L), (2L, 1L), (3L, 8L), (3L, 4L), (3L, 6L))
      .toDF("node", "label")
    val viaMode = rows.groupBy("node")
      .agg(mode(col("label"), deterministic = true).as("label"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaArgmax = rows.groupBy("node", "label")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("node")
      .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
      .select(col("node"), (-col("m.nl")).as("label"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaMode == Map(1L -> 2L, 2L -> 7L, 3L -> 4L))
    assert(viaMode == viaArgmax)
  }

  test("modularity: two clean triangles Q = 1/2 exactly; one community Q = 0") {
    def sym(e: Seq[(Long, Long)]) = (e ++ e.map(_.swap)).toDF("src", "dst")
    val edges = sym(Seq(
      (1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L)))
    val twoComms = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 2L), (5L, 2L), (6L, 2L)).toDF("node", "label")
    val r = GraphOps.modularity(edges, twoComms).collect()(0)
    // m_d = 12, per community intra_d = 6, d_c = 6:
    // Q = (12·12 − 2·36)/144 = 72/144 = 1/2 exactly
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4)) == ((12L, 2L, 72L, 144L, 0.5)))
    // the degenerate single community always scores 0
    val oneComm = (1L to 6L).map(n => (n, 0L)).toDF("node", "label")
    val r1 = GraphOps.modularity(edges, oneComm).collect()(0)
    assert(r1.getLong(2) == 0L && r1.getDouble(4) == 0.0)
  }

  test("hits: symmetric bipartite fixpoint is exact on the grid") {
    // 1→10, 2→10, 2→11, 3→11: node 2 feeds both authorities.
    // Fixpoint after one superstep: a(10)=a(11)=1, h=(0.5, 1, 0.5).
    val edges = Seq((1L, 10L), (2L, 10L), (2L, 11L), (3L, 11L))
      .toDF("src", "dst")
    val m = GraphOps.hits(edges, iters = 3).collect()
      .map(r => (r.getLong(0), r.getString(2)) -> r.getDouble(1)).toMap
    assert(m((1L, "hub")) == 0.5 && m((2L, "hub")) == 1.0 &&
      m((3L, "hub")) == 0.5)
    assert(m((10L, "authority")) == 1.0 && m((11L, "authority")) == 1.0)
  }

  test("hits: mutual reinforcement ranks the shared-authority hub highest") {
    // 10 has three in-edges, 11 one; hub 1 links both authorities
    val edges = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L))
      .toDF("src", "dst")
    val rows = GraphOps.hits(edges, iters = 3).collect()
      .map(r => (r.getLong(0), r.getString(2)) -> r.getDouble(1)).toMap
    assert(rows((1L, "hub")) == 1.0)                      // max-normalized
    assert(rows((2L, "hub")) == rows((3L, "hub")))
    assert(rows((2L, "hub")) < 1.0)
    assert(rows((10L, "authority")) == 1.0)
    assert(rows((11L, "authority")) < rows((10L, "authority")))
  }

  test("connected components: two islands and a bridge collapse correctly") {
    import spark.implicits._
    // island {1,2,3} (path), island {7,9} — comp = min id of the island
    val pairs = Seq((1L,2L),(2L,3L),(7L,9L)).toDF("da","db")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L->1L, 2L->1L, 3L->1L, 7L->7L, 9L->7L))
    // adding a bridge 3-7 merges the islands into comp 1
    val merged = Dedup.connectedComponents(
        pairs.union(Seq((3L,7L)).toDF("da","db")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged.values.toSet == Set(1L))
  }

  test("link prediction: shared-neighborhood non-edges rank by Jaccard") {
    import spark.implicits._
    // square 1-2-4-3-1: the two diagonals (1,4) and (2,3) are the only
    // non-edges; each shares both neighbors -> J = 2/2 = 1.0
    val edges = Seq((1L,2L),(2L,4L),(3L,4L),(1L,3L)).toDF("a","b")
    val r = GraphOps.jaccardLinkPrediction(edges, k = 10).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getAs[Double]("jaccard")))
    assert(r.toSet == Set((1L,4L,1.0), (2L,3L,1.0)))
    // an existing edge never appears even with a full shared hood
    assert(!r.exists(p => (p._1,p._2) == (1L,2L)))
  }

  test("assortativity: a star is perfectly disassortative, a cycle is degenerate") {
    import spark.implicits._
    // star: hub 1 to leaves 2..5 -> every edge links deg-4 to deg-1: r = -1
    val star = Seq((1L,2L),(1L,3L),(1L,4L),(1L,5L)).toDF("a","b")
    val r = GraphOps.assortativity(star).collect()(0)
    assert(r.getLong(0) == 8L)
    assert(math.abs(r.getAs[Double]("assortativity") - (-1.0)) < 1e-12)
    // cycle: all degrees equal -> zero variance -> NULL by contract
    val cyc = Seq((1L,2L),(2L,3L),(3L,1L)).toDF("a","b")
    val c = GraphOps.assortativity(cyc).collect()(0)
    assert(c.isNullAt(c.fieldIndex("assortativity")))
  }

  test("auto support: replicated corpus recovers the base co-order graph") {
    // base: order 1 = {10,11,12}, order 2 = {10,11} (so (10,11) has
    // supp 2), plus six single-pair orders diluting the mean toward 1
    // — the duplication estimator assumes the TYPICAL pair is unique
    // (true of the fixtures: mean support 1.00-1.03), and rounds the
    // corpus-wide mean to the replication factor
    val base = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 10L), (2L, 11L),
      (3L, 20L), (3L, 21L), (4L, 22L), (4L, 23L), (5L, 24L), (5L, 25L),
      (6L, 26L), (6L, 27L), (7L, 28L), (7L, 29L), (8L, 30L), (8L, 31L)
    ).toDF("l_orderkey", "l_partkey")
    val fixedEdges = GraphOps.coOrderEdges(base).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fixedEdges == Set((10L, 11L)))
    val autoBase = GraphOps.coOrderEdgesAuto(base).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(autoBase == fixedEdges)
    // replicate 3x under fresh order keys: every pair's support
    // triples, dup = 3 exactly, threshold 6 — the auto edge set is the
    // base edge set (supp s survives iff 3s >= 6 iff s >= 2), where
    // fixed support 2 would admit EVERY pair
    import org.apache.spark.sql.functions.{col, lit}
    val rep = (0 until 3).map(i =>
      base.select((col("l_orderkey") + lit(i * 100L)).as("l_orderkey"),
        col("l_partkey"))).reduce(_ unionAll _)
    val autoRep = GraphOps.coOrderEdgesAuto(rep).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(autoRep == fixedEdges, s"auto=$autoRep")
    val fixedRep = GraphOps.coOrderEdges(rep).collect()
    assert(fixedRep.length == 9) // the saturation the auto threshold fixes:
    // fixed support 2 admits EVERY replicated pair (9) vs the real 1
  }
}
