package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge relations (PageRank — Brin &
  * Page 1998). Complements the label-propagation connected components
  * in [[Dedup.connectedComponents]]: that one converges a partition,
  * this one converges a per-node score.
  *
  * 100 TB posture: each PageRank superstep is the canonical
  * shuffle-pair — join ranks (keyed by node) to edges (keyed by src),
  * then re-key the contributions by dst with a map-side-combined sum.
  * Ranks are |V|-sized, edges |E|-sized; nothing driver-side grows
  * with the graph (the only collect-like op is the 1-row node count,
  * broadcast). Fixed iteration counts compose the whole run into ONE
  * lazy plan (like the unrolled Lloyd fit); long runs checkpoint every
  * `CkptEvery` supersteps to truncate lineage.
  *
  * There is one PageRank loop, [[pageRank]]: plain PageRank is the
  * personalized one whose seed predicate holds for every node (Jeh &
  * Widom 2003), and one SQL generator, [[pageRankSql]], emits its
  * unrolled-CTE twins. The registered supplier↔part queries share one
  * edge builder (`supplierPartEdges`, `symmetric`) and one SQL
  * prelude (`supplierPartEdgesSql`).
  *
  * Determinism: contributions are IEEE divisions snapped to a 1e-12
  * integer grid before the per-dst sum (the corpusJsDivergence
  * recipe), so accumulation order can't shift a bit and every
  * iteration stays hash-exact against the oracle's unrolled CTEs.
  */
object GraphOps {

  private val Grid = 1.0e12

  /** Supersteps between the lazy loops' lineage cuts ([[pageRank]],
    * [[labelPropagation]]): plan depth and optimizer time stay bounded
    * on long runs, and the registered 3-superstep queries never cut. */
  private val CkptEvery = 8

  /** PageRank with `iters` fixed supersteps at the given damping.
    * `edges0` carries (src, dst) node ids; duplicate edges are
    * collapsed. Nodes without out-edges (dangling) contribute nothing
    * — feed a symmetrized edge set if the graph has sinks.
    *
    * Teleport (Jeh & Widom 2003, "Scaling Personalized Web Search"):
    * the teleport mass goes to the seed set S, the nodes `isSource`
    * holds for, as base/|S| on each seed and 0 elsewhere; rank(v) then
    * measures proximity to the seeds (the "related items from this
    * seed set" query recommendation and curation pipelines run).
    * `isSource` is a predicate column over `node`, so the seed set is
    * declarative (a filter, never a driver-side list). The default
    * seeds every node: plain PageRank, whose `when(true, …)` teleport
    * and `count(when(true, 1))` seed count the optimizer folds to
    * `1.0 / n` and `count(1)`. The initial rank is the teleport vector
    * itself.
    *
    * Loop shape (the r10→r11 rework, measured 8.0 → 3.7 s at sf0.1):
    *   - The out-degree is folded onto the edge relation ONCE (ewd =
    *     edges ⋈ deg, checkpointed) — the degree-annotated adjacency
    *     list — so each superstep is a single |E|-row join + one
    *     dst-keyed sum instead of rank⋈deg followed by edges⋈perSrc.
    *   - Supersteps chain LAZILY: unlike kCore (3 self-references per
    *     round → exponential lazy lineage), each superstep references
    *     the previous rank exactly once, so lineage is linear and the
    *     per-superstep eager checkpoint was pure job-scheduling
    *     overhead. Long runs checkpoint every `CkptEvery` supersteps
    *     to bound plan depth/optimizer time.
    *   - Contributions accumulate as LONGs on the 1e-12 grid, not
    *     DECIMAL(38,0): every term round(c·1e12) ≤ 1e12 and a dst's
    *     sum is bounded by the TOTAL rank mass (Σ ranks ≈ 1) × 1e12
    *     ≪ 2^63, so long accumulation is exact and order-independent
    *     with none of the decimal aggregate's cost (measured 1.7 →
    *     0.8 s per superstep).
    * 100 TB posture unchanged: ranks stay |V|-sized and distributed,
    * ewd |E|-sized with one extra long; broadcasting the rank relation
    * would be wrong at scale, so join strategy is left to AQE stats. */
  def pageRank(
      edges0: DataFrame, iters: Int = 3, damping: Double = 0.85,
      isSource: Column => Column = _ => lit(true)): DataFrame = {
    val base = 1.0 - damping
    val edges = edges0.select("src", "dst").distinct()
    val deg = edges.groupBy(col("src").as("dnode"))
      .agg(count(lit(1)).as("deg"))
    val ewd = edges.join(deg, col("src") === col("dnode"))
      .select(col("src"), col("dst"), col("deg")).localCheckpoint(true)
    // ewd keeps every (src, dst) pair (deg covers every src), so the
    // node set derives from it without re-scanning the base relation
    val nodes = ewd.select(col("src").as("node"))
      .union(ewd.select(col("dst").as("node"))).distinct().localCheckpoint(true)
    val seed = isSource(col("node"))
    val nRow = nodes.agg(count(when(seed, lit(1))).as("n"))
    val teleport =
      when(seed, lit(1.0) / col("n").cast("double")).otherwise(lit(0.0))
    def freshRank(sums: Option[DataFrame]): DataFrame = sums match {
      case None =>
        nodes.crossJoin(broadcast(nRow)).select(col("node"), teleport.as("rank"))
      case Some(sg) =>
        nodes.crossJoin(broadcast(nRow))
          .join(sg, Seq("node"), "left")
          .select(col("node"),
            (lit(base) * teleport +
              lit(damping) *
                // long→double is exact here (sums ≤ ~1e12 < 2^53)
                (coalesce(col("sg").cast("double"), lit(0.0))
                  / lit(Grid))).as("rank"))
    }
    var rank = freshRank(None)
    for (i <- 1 to iters) {
      val sums = ewd.join(rank, col("src") === col("node"))
        .select(col("dst"),
          round(col("rank") / col("deg").cast("double") * Grid)
            .cast("long").as("g"))
        .groupBy(col("dst").as("node")).agg(sum(col("g")).as("sg"))
      rank = freshRank(Some(sums))
      if (i % CkptEvery == 0 && i < iters) rank = rank.localCheckpoint(true)
    }
    rank
  }

  /** DuckDB twin of [[pageRank]], unrolled as `iters` chained CTEs
    * after `edgeCtes`, which must define the distinct (src, dst)
    * relation `edges`. `seed` is the SQL twin of `isSource` over the
    * column `node` (None seeds every node); `out` selects the result
    * from the last rank relation, (node, rank). */
  private[ops] def pageRankSql(
      edgeCtes: String, iters: Int, damping: Double,
      seed: Option[String] = None,
      out: String => String = r => s"SELECT node, rank FROM $r"): String = {
    val base = 1.0 - damping
    val uniform = "CAST(1 AS DOUBLE) / CAST(nn.n AS DOUBLE)"
    val (count, tele) = seed match {
      case None => ("COUNT(*)", uniform)
      case Some(p) =>
        (s"COUNT(CASE WHEN $p THEN 1 END)", s"CASE WHEN $p THEN $uniform ELSE 0.0 END")
    }
    def stepSql(i: Int): String =
      s"""c$i AS (
         |  SELECT e.dst AS node,
         |    SUM(CAST(ROUND(r.rank / CAST(d.deg AS DOUBLE)
         |        * 1000000000000.0) AS BIGINT)) AS sg
         |  FROM edges e
         |  JOIN r${i - 1} r ON e.src = r.node
         |  JOIN deg d ON e.src = d.dnode
         |  GROUP BY 1),
         |r$i AS (
         |  SELECT nd.node,
         |    $base * ($tele)
         |    + $damping * (COALESCE(CAST(c$i.sg AS DOUBLE), 0.0)
         |                  / 1000000000000.0) AS rank
         |  FROM nodes nd LEFT JOIN c$i USING (node), nn)""".stripMargin
    s"""WITH $edgeCtes,
       |deg AS (SELECT src AS dnode, COUNT(*) AS deg FROM edges GROUP BY 1),
       |nodes AS (SELECT src AS node FROM edges
       |          UNION SELECT dst FROM edges),
       |nn AS (SELECT $count AS n FROM nodes),
       |r0 AS (SELECT node, $tele AS rank
       |       FROM nodes, nn),
       |${(1 to iters).map(stepSql).mkString(",\n")}
       |${out(s"r$iters")}""".stripMargin
  }

  /** The registered-query graph: the bipartite supplier→part relation
    * from lineitem (suppliers at 2k, parts at 2k+1), directed. HITS
    * reads it as it is; every other supplier↔part query reads it
    * `symmetric`, so no node dangles. */
  private def supplierPartEdges(lineitem: DataFrame): DataFrame =
    lineitem.select(
      (col("l_suppkey") * 2).as("src"),
      (col("l_partkey") * 2 + 1).as("dst"))

  /** `e` with each edge in both directions. */
  private def symmetric(e: DataFrame): DataFrame =
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))

  /** SQL twin of `supplierPartEdges` as the distinct CTE `name`. */
  private def supplierPartDirectedSql(name: String): String =
    s"""$name AS (
       |  SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst
       |  FROM lineitem)""".stripMargin

  /** SQL twin of `symmetric(supplierPartEdges(lineitem))`: the CTEs
    * `base_e` (directed) and `name` (both directions, distinct). */
  private def supplierPartEdgesSql(name: String = "edges"): String =
    s"""${supplierPartDirectedSql("base_e")},
       |$name AS (SELECT src, dst FROM base_e
       |${" " * (name.length + 5)}UNION SELECT dst, src FROM base_e)""".stripMargin

  /** Registered-query PageRank over the symmetric supplier↔part graph:
    * rank concentrates on parts stocked by many suppliers and suppliers
    * stocking popular parts. */
  def supplierPartRank(lineitem: DataFrame, iters: Int = 3): DataFrame =
    pageRank(symmetric(supplierPartEdges(lineitem)), iters)

  def supplierPartRankSql(iters: Int = 3, damping: Double = 0.85): String =
    pageRankSql(supplierPartEdgesSql(), iters, damping)

  /** Registered-query personalized PageRank over the same graph, seeded
    * at the supplier nodes (even ids) — "parts reachable from the
    * supplier side", the bipartite proximity ranking. */
  def supplierPartPPR(lineitem: DataFrame, iters: Int = 3): DataFrame =
    pageRank(symmetric(supplierPartEdges(lineitem)), iters,
      isSource = node => node % 2 === 0)

  def supplierPartPPRSql(iters: Int = 3, damping: Double = 0.85): String =
    pageRankSql(supplierPartEdgesSql(), iters, damping, seed = Some("node % 2 = 0"))

  /** K-core peeling (Batagelj-Zaveršnik by rounds): each superstep
    * drops every node whose CURRENT degree is below k, then restricts
    * the edge set to surviving endpoints — the standard dense-subgraph
    * extractor (community cores, spam/boilerplate hub detection in
    * link graphs). `rounds` fixed supersteps, so the whole peel is one
    * lazy integer-only plan, bit-exact against the unrolled-CTE twin;
    * once the peel reaches a fixpoint further rounds are no-ops, so
    * with rounds >= the cascade depth the result IS the k-core.
    *
    * 100 TB posture: per round one degree agg + two semi joins, all
    * keyed on node ids (the same key), nothing driver-side; the edge
    * relation only SHRINKS per round. For deep cascades, checkpoint
    * every few rounds exactly as connectedComponents does. */
  def kCore(edges0: DataFrame, k: Int = 26, rounds: Int = 4): DataFrame = {
    // Eager localCheckpoint per round, exactly as connectedComponents:
    // round r references edges_{r-1} THREE times (degree agg + two semi
    // joins), so an unchecked lazy plan re-derives the base relation
    // 3^rounds times (measured: 16.6 s for 4 rounds at sf0.1 lazy,
    // 1.3 s checkpointed). The peel state is the shrinking edge set —
    // constant plan depth, one materialization per round.
    var edges = edges0.select("src", "dst").distinct().localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("src")
      edges = edges
        .join(keep, Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
        .localCheckpoint(true)
    }
    edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** kCore over the supplier↔part bipartite graph (same node encoding
    * as supplierPartRank). */
  def supplierPartKCore(lineitem: DataFrame, k: Int = 26, rounds: Int = 4): DataFrame =
    kCore(symmetric(supplierPartEdges(lineitem)), k, rounds)

  def supplierPartKCoreSql(k: Int = 26, rounds: Int = 4): String = {
    val steps = (1 to rounds).map { i =>
      s"""k$i AS (SELECT src FROM e${i - 1} GROUP BY src HAVING COUNT(*) >= $k),
         |e$i AS (SELECT e.src, e.dst FROM e${i - 1} e
         |  WHERE e.src IN (SELECT src FROM k$i)
         |    AND e.dst IN (SELECT src FROM k$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH ${supplierPartEdgesSql("e0")},
       |$steps
       |SELECT src AS node, COUNT(*) AS deg FROM e$rounds GROUP BY 1""".stripMargin
  }

  /** Per-node triangle counts over an undirected simple graph given as
    * (a, b) edges with a < b (Schank & Wagner 2005 node-iterator with
    * degree orientation). Orienting every edge from its (degree, id)-
    * smaller endpoint bounds each node's out-degree by O(√|E|) even on
    * skewed graphs, so the wedge join's fan-out — the only quadratic
    * risk — is capped structurally, not by sampling. All three stages
    * are keyed shuffles on node ids (degree agg, wedge join, closure
    * semi join); nothing is driver-side and no stage carries payload
    * beyond two longs. */
  def triangleCounts(edges0: DataFrame): DataFrame = {
    // The edge relation feeds THREE consumers (degree agg + both sides
    // of the orientation join) and the oriented relation feeds three
    // more (both wedge sides + the closure probe) — without an eager
    // cut, each consumer re-evaluates the whole upstream pipeline (the
    // co-order self-join for the registered query), which is where the
    // r9-audited 9-exchange plan came from. Checkpoint each once (the
    // same discipline as labelPropagationModularity): edges is the
    // SUPPORT-PRUNED pair set and oriented is the same rows re-keyed —
    // both |E|-sized with two-long rows, safe to materialize at any
    // scale.
    val edges = edges0.localCheckpoint(true)
    val deg = edges.select(col("a").as("n"))
      .union(edges.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val da = deg.select(col("n").as("a"), col("d").as("dda"))
    val db = deg.select(col("n").as("b"), col("d").as("ddb"))
    // a < b always, so equal degrees orient a→b
    val oriented = edges.join(da, "a").join(db, "b").select(
      when(col("dda") <= col("ddb"), col("a")).otherwise(col("b")).as("u"),
      when(col("dda") <= col("ddb"), col("b")).otherwise(col("a")).as("v"))
      .localCheckpoint(true)
    val w1 = oriented.select(col("u").as("x"), col("v").as("y"))
    val w2 = oriented.select(col("u").as("y"), col("v").as("z"))
    val wedges = w1.join(w2, "y").select(col("x"), col("y"), col("z"))
    val closed = wedges.join(
      oriented.select(col("u").as("x"), col("v").as("z")), Seq("x", "z"))
    closed
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** The registered-query graph: parts co-ordered in at least
    * `minSupport` distinct orders (the market-basket support
    * threshold). The support filter is what keeps the graph sparse at
    * any scale — raw co-order pairs grow with corpus size, but pairs
    * that recur ≥2× are rare, so the triangle stage always runs on a
    * pruned edge set. */
  def coOrderEdges(lineitem: DataFrame, minSupport: Int = 2): DataFrame = {
    val a = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("a"))
    val b = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("b"))
    a.join(b, "ok").filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= minSupport)
      .select("a", "b")
  }

  def coOrderTriangles(lineitem: DataFrame, minSupport: Int = 2): DataFrame =
    triangleCounts(coOrderEdges(lineitem, minSupport))

  /** Data-dependent support threshold for the co-order graph — the
    * auto-width-LSH pattern applied to market-basket support.
    * minSupport=2 is calibrated to a corpus where a pair recurring AT
    * ALL is signal; under replication/densification every pair recurs
    * `dup` times by construction and the fixed threshold stops pruning
    * (SF10_SPOT r15: 38.5k edges at sf1 → 12.0M at sf10 under support
    * 2, and the wedge join downstream is |E|^1.5 — graph_triangles
    * 6.2→192.5 s). The duplication factor is the round-half-up mean
    * pair multiplicity, computed in PURE INTEGERS ((2S + C) ÷ 2C,
    * floor division) from the same pair aggregate the edge relation
    * already materializes — both engines derive it from their own
    * counts, so the threshold is data-dependent AND hash-exact. dup=1
    * on the gate fixtures and at sf1 (threshold stays baseSupport,
    * results unchanged); dup=10 at sf10, where threshold 20 recovers
    * exactly the sf1-equivalent 38.5k-edge graph. */
  def coOrderEdgesAuto(
      lineitem: DataFrame, baseSupport: Int = 2): DataFrame = {
    val a = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("a"))
    val b = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("b"))
    // fixed-width (a, b, supp) relation, checkpointed once: it feeds
    // the 1-row duplication statistic AND the threshold filter
    val pairs = a.join(b, "ok").filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("supp"))
      .localCheckpoint(true)
    val st = pairs.agg(sum("supp").as("s"), count(lit(1)).as("c")).head()
    val dup =
      if (st.isNullAt(0) || st.getLong(1) == 0L) 1L
      else math.max(1L, (2L * st.getLong(0) + st.getLong(1)) /
        (2L * st.getLong(1)))
    pairs.filter(col("supp") >= lit(baseSupport * dup)).select("a", "b")
  }

  /** The duplication-calibrated `p/st/e` CTE chain — the SQL twin of
    * [[coOrderEdgesAuto]] (DuckDB `//` is integer floor division; the
    * whole staircase is integer arithmetic, so both engines agree at
    * every corpus size). */
  private def coOrderEdgesAutoCteSql(baseSupport: Int): String =
    s"""p AS MATERIALIZED (
       |  SELECT x.l_partkey AS a, y.l_partkey AS b, COUNT(*) AS supp
       |  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
       |    AND x.l_partkey < y.l_partkey
       |  GROUP BY 1, 2),
       |st AS (SELECT GREATEST(1, (2 * COALESCE(SUM(supp), 0) + COUNT(*))
       |    // GREATEST(1, 2 * COUNT(*))) AS dup FROM p),
       |e AS (SELECT a, b FROM p, st WHERE supp >= $baseSupport * st.dup)""".stripMargin

  def coOrderTrianglesAuto(
      lineitem: DataFrame, baseSupport: Int = 2): DataFrame =
    triangleCounts(coOrderEdgesAuto(lineitem, baseSupport))

  /** The CTEs the triangle twins share over [[coOrderEdgesAuto]]'s `e`:
    * degrees `deg`, the degree-oriented edges `o`, the wedges `w` and
    * the closed wedges `t`, one row per triangle. */
  private def trianglesCtesSql(baseSupport: Int): String =
    s"""WITH ${coOrderEdgesAutoCteSql(baseSupport)},
       |deg AS (SELECT n, COUNT(*) AS d FROM (
       |    SELECT a AS n FROM e UNION ALL SELECT b FROM e) q GROUP BY n),
       |o AS (SELECT
       |    CASE WHEN da.d <= db.d THEN e.a ELSE e.b END AS u,
       |    CASE WHEN da.d <= db.d THEN e.b ELSE e.a END AS v
       |  FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n),
       |w AS (SELECT o1.u AS x, o1.v AS y, o2.v AS z
       |  FROM o o1 JOIN o o2 ON o1.v = o2.u),
       |t AS (SELECT w.x, w.y, w.z
       |  FROM w JOIN o ON w.x = o.u AND w.z = o.v)""".stripMargin

  def coOrderTrianglesAutoSql(baseSupport: Int = 2): String =
    s"""${trianglesCtesSql(baseSupport)}
       |SELECT node, COUNT(*) AS n_tri FROM (
       |  SELECT x AS node FROM t
       |  UNION ALL SELECT y FROM t
       |  UNION ALL SELECT z FROM t) q
       |GROUP BY node""".stripMargin

  /** Local clustering coefficient per node: cc(v) = 2·T_v / (d_v·(d_v−1))
    * — "how close is v's neighborhood to a clique", the standard local
    * cohesion metric (Watts–Strogatz). Pure derivative of the triangle
    * machinery: the SAME checkpointed pruned-edge/oriented relations
    * produce degrees and per-node triangle counts, one broadcast-sized
    * left join stitches them (nodes in no triangle get coefficient 0),
    * and the ratio is a single IEEE division of exact integers. Degree-1
    * nodes are reported with coefficient 0 rather than dropped. */
  def clusteringCoefficient(edges0: DataFrame): DataFrame = {
    val edges = edges0.localCheckpoint(true)
    val deg = edges.select(col("a").as("n"))
      .union(edges.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val tri = triangleCounts(edges)
    deg.join(tri.withColumnRenamed("node", "n"), Seq("n"), "left")
      .select(col("n").as("node"), col("d").as("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("d") >= 2L,
          (lit(2.0) * coalesce(col("n_tri"), lit(0L)).cast("double")) /
            (col("d").cast("double") * (col("d") - 1L).cast("double")))
          .otherwise(lit(0.0)).as("coef"))
  }

  /** [[clusteringCoefficient]] over the duplication-calibrated edge set
    * (see [[coOrderEdgesAuto]]) — clustering shares the triangle
    * machinery's wedge join, so it walks the same |E|^1.5 cliff under
    * a saturated fixed threshold. */
  def coOrderClusteringAuto(
      lineitem: DataFrame, baseSupport: Int = 2): DataFrame =
    clusteringCoefficient(coOrderEdgesAuto(lineitem, baseSupport))

  def coOrderClusteringAutoSql(baseSupport: Int = 2): String =
    s"""${trianglesCtesSql(baseSupport)},
       |cnt AS (SELECT node, COUNT(*) AS n_tri FROM (
       |  SELECT x AS node FROM t
       |  UNION ALL SELECT y FROM t
       |  UNION ALL SELECT z FROM t) q
       |GROUP BY node)
       |SELECT deg.n AS node, deg.d AS deg,
       |  CAST(COALESCE(cnt.n_tri, 0) AS BIGINT) AS n_tri,
       |  CASE WHEN deg.d >= 2
       |       THEN (2.0 * CAST(COALESCE(cnt.n_tri, 0) AS DOUBLE)) /
       |            (CAST(deg.d AS DOUBLE) * CAST(deg.d - 1 AS DOUBLE))
       |       ELSE 0.0 END AS coef
       |FROM deg LEFT JOIN cnt ON deg.n = cnt.node""".stripMargin

  /** Connected components of the co-order graph: comp(v) = the smallest
    * part id reachable from v through support-filtered co-order edges —
    * the graph-native face of [[Dedup.connectedComponents]] (min-label
    * propagation with pointer doubling, O(log diameter) rounds, eager
    * per-round checkpoint). Output (node, comp) for every node with at
    * least one edge; isolated parts never enter the edge relation so
    * they carry no row, matching the recursive-closure twin.
    *
    * 100 TB posture: the iterative labels are |V|-sized and every round
    * shuffles only node-keyed joins of the PRUNED edge set (support
    * filter first); the oracle's O(n·|comp|) transitive closure is a
    * DuckDB-side test artifact, not the production algorithm. */
  def coOrderComponents(lineitem: DataFrame, minSupport: Int = 2): DataFrame =
    Dedup.connectedComponents(
        coOrderEdges(lineitem, minSupport)
          .select(col("a").as("da"), col("b").as("db")))
      .select(col("doc_id").as("node"), col("group_id").as("comp"))

  /** DuckDB twin: transitive closure by recursive CTE (UNION dedup
    * terminates cycles), then min over each reach set — the
    * nearDupGroupsSql shape over the co-order edge relation. */
  def coOrderComponentsSql(minSupport: Int = 2): String =
    s"""WITH RECURSIVE e0 AS (
       |  SELECT x.l_partkey AS a, y.l_partkey AS b
       |  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
       |    AND x.l_partkey < y.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
       |edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
       |SELECT a AS node, LEAST(a, MIN(b)) AS comp
       |FROM reach GROUP BY a""".stripMargin

  /** Link prediction by neighborhood Jaccard (Liben-Nowell & Kleinberg
    * 2003): for every NON-edge pair sharing at least one neighbor,
    * J = |N(a)∩N(b)| / |N(a)∪N(b)|, top-k strongest predictions — "these
    * parts are never co-ordered but their co-order neighborhoods nearly
    * coincide", the complete-the-graph recommender primitive.
    *
    * Candidate pairs are generated through the wedge join (x—n—y), so
    * the pair space is Σ_n d(n)² over the SUPPORT-PRUNED graph, never
    * |V|² — the same fan-out bound the triangle counter lives on (a hub
    * cap or the degree orientation would bound it further on power-law
    * graphs). Existing edges drop via one left-anti join against the
    * |E|-row relation; selection is TakeOrderedAndProject. Jaccard is a
    * single IEEE division of exact integer counts. */
  def jaccardLinkPrediction(edges0: DataFrame, k: Int = 100): DataFrame = {
    val edges = edges0.select("a", "b").distinct().localCheckpoint(true)
    val nbrs = edges.select(col("a").as("n"), col("b").as("nbr"))
      .union(edges.select(col("b").as("n"), col("a").as("nbr")))
    val deg = nbrs.groupBy("n").agg(count(lit(1)).as("d"))
    val common = nbrs.select(col("n").as("pa"), col("nbr"))
      .join(nbrs.select(col("n").as("pb"), col("nbr")), Seq("nbr"))
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("common"))
    common
      .join(edges.select(col("a").as("pa"), col("b").as("pb")),
        Seq("pa", "pb"), "left_anti")
      .join(deg.select(col("n").as("pa"), col("d").as("da")), Seq("pa"))
      .join(deg.select(col("n").as("pb"), col("d").as("db")), Seq("pb"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("da") + col("db") - col("common")))
      .orderBy(col("jaccard").desc, col("pa").asc, col("pb").asc)
      .limit(k)
      .select("pa", "pb", "common", "jaccard")
  }

  def coOrderLinkPrediction(
      lineitem: DataFrame, minSupport: Int = 2, k: Int = 100): DataFrame =
    jaccardLinkPrediction(coOrderEdges(lineitem, minSupport), k)

  def coOrderLinkPredictionSql(minSupport: Int = 2, k: Int = 100): String =
    s"""WITH e AS (
       |  SELECT x.l_partkey AS a, y.l_partkey AS b
       |  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
       |    AND x.l_partkey < y.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
       |nbrs AS (SELECT a AS n, b AS nbr FROM e
       |         UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT n, COUNT(*) AS d FROM nbrs GROUP BY n),
       |common AS (
       |  SELECT x.n AS pa, y.n AS pb, COUNT(*) AS common
       |  FROM nbrs x JOIN nbrs y ON x.nbr = y.nbr AND x.n < y.n
       |  GROUP BY 1, 2),
       |ne AS (SELECT pa, pb, common FROM common
       |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = pa AND e.b = pb))
       |SELECT pa, pb, common,
       |  CAST(common AS DOUBLE) / (da.d + db.d - common) AS jaccard
       |FROM ne JOIN deg da ON pa = da.n JOIN deg db ON pb = db.n
       |ORDER BY jaccard DESC, pa ASC, pb ASC LIMIT $k""".stripMargin

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the symmetrized edge relation — do hubs
    * link to hubs (r > 0, social-network shape) or to leaves (r < 0,
    * technological/dependency shape)? Degrees are exact integers, so
    * ALL sufficient statistics (Σx, Σy, Σxy, Σx², Σy², m) accumulate in
    * DECIMAL(38,0)/HUGEINT with zero grid-snapping, and r is the one
    * closed-form IEEE expression of exact numbers — the corrMatrix
    * recipe specialized to the graph. Two node-keyed joins to annotate
    * degrees + one 1-row aggregate; |E|-sized throughout. */
  def assortativity(edges0: DataFrame): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val edges = edges0.select("a", "b").distinct().localCheckpoint(true)
    val sym = edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("a").as("v")))
    val deg = sym.groupBy(col("u").as("n")).agg(count(lit(1)).as("d"))
    val pairs = sym
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
    val st = pairs.agg(
      count(lit(1)).as("m"),
      sum(col("du").cast(Dec)).as("sx"),
      sum(col("dv").cast(Dec)).as("sy"),
      sum((col("du") * col("dv")).cast(Dec)).as("sxy"),
      sum((col("du") * col("du")).cast(Dec)).as("sxx"),
      sum((col("dv") * col("dv")).cast(Dec)).as("syy"))
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val mD = col("m").cast(Dec)
    val num = mD * col("sxy") - col("sx") * col("sy")
    val dx = mD * col("sxx") - col("sx") * col("sx")
    val dy = mD * col("syy") - col("sy") * col("sy")
    st.select(col("m").as("m_directed"),
      when(dx === lit(0).cast(Dec) || dy === lit(0).cast(Dec),
        lit(null).cast("double"))
        .otherwise(dbl(num) / (sqrt(dbl(dx)) * sqrt(dbl(dy))))
        .as("assortativity"))
  }

  def coOrderAssortativity(
      lineitem: DataFrame, minSupport: Int = 2): DataFrame =
    assortativity(coOrderEdges(lineitem, minSupport))

  def coOrderAssortativitySql(minSupport: Int = 2): String =
    s"""WITH e AS (
       |  SELECT x.l_partkey AS a, y.l_partkey AS b
       |  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
       |    AND x.l_partkey < y.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
       |sym AS (SELECT a AS u, b AS v FROM e
       |        UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT u AS n, COUNT(*) AS d FROM sym GROUP BY u),
       |st AS (SELECT COUNT(*) AS m,
       |    SUM(CAST(da.d AS HUGEINT)) AS sx,
       |    SUM(CAST(db.d AS HUGEINT)) AS sy,
       |    SUM(CAST(da.d * db.d AS HUGEINT)) AS sxy,
       |    SUM(CAST(da.d * da.d AS HUGEINT)) AS sxx,
       |    SUM(CAST(db.d * db.d AS HUGEINT)) AS syy
       |  FROM sym JOIN deg da ON sym.u = da.n JOIN deg db ON sym.v = db.n)
       |SELECT CAST(m AS BIGINT) AS m_directed,
       |  CASE WHEN (CAST(m AS HUGEINT) * sxx - sx * sx) = 0
       |         OR (CAST(m AS HUGEINT) * syy - sy * sy) = 0 THEN NULL
       |    ELSE CAST(CAST(CAST(m AS HUGEINT) * sxy - sx * sy AS VARCHAR) AS DOUBLE)
       |      / (SQRT(CAST(CAST(CAST(m AS HUGEINT) * sxx - sx * sx AS VARCHAR) AS DOUBLE))
       |         * SQRT(CAST(CAST(CAST(m AS HUGEINT) * syy - sy * sy AS VARCHAR) AS DOUBLE)))
       |  END AS assortativity
       |FROM st""".stripMargin

  /** Association-rule mining, the 2-itemset stage: top-k co-ordered
    * part pairs ranked by lift = P(a,b)/(P(a)P(b)) with a minimum
    * support floor (Agrawal & Srikant 1994's Apriori counting stage,
    * done as joins instead of candidate generation). All counts are
    * order-distinct integers, lift's numerator/denominator are exact
    * long products, and the single division is one IEEE op — so the
    * ranking is deterministic and oracle-exact (ties broken by pair).
    *
    * 100 TB posture: the basket self-join is keyed on order id
    * (bounded fan-out = items-per-basket², not corpus²), the item
    * support relation is |parts|-sized and broadcast, selection is
    * TakeOrderedAndProject. The support floor prunes the pair space
    * before ranking — the same role the DF cap plays in ngram dedup. */
  def basketLift(
      lineitem: DataFrame, minSupport: Int = 2, k: Int = 100): DataFrame = {
    val items = lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("item"))
      .distinct()
    val nOrders = items.select(countDistinct("ok").as("n"))
    val itemSupp = items.groupBy(col("item")).agg(count(lit(1)).as("supp"))
    val pairs = items.select(col("ok"), col("item").as("a"))
      .join(items.select(col("ok"), col("item").as("b")), "ok")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("supp_ab"))
      .filter(col("supp_ab") >= minSupport)
    pairs
      .join(broadcast(itemSupp.select(col("item").as("a"), col("supp").as("supp_a"))), "a")
      .join(broadcast(itemSupp.select(col("item").as("b"), col("supp").as("supp_b"))), "b")
      .crossJoin(broadcast(nOrders))
      .select(col("a"), col("b"), col("supp_ab"), col("supp_a"), col("supp_b"),
        ((col("supp_ab") * col("n")).cast("double") /
          (col("supp_a") * col("supp_b")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("a"), col("b"))
      .limit(k)
  }

  def basketLiftSql(minSupport: Int = 2, k: Int = 100): String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
       |n_orders AS (SELECT COUNT(DISTINCT ok) AS n FROM items),
       |item_supp AS (SELECT item, COUNT(*) AS supp FROM items GROUP BY item),
       |pairs AS (
       |  SELECT x.item AS a, y.item AS b, COUNT(*) AS supp_ab
       |  FROM items x JOIN items y ON x.ok = y.ok AND x.item < y.item
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport)
       |SELECT p.a, p.b, p.supp_ab, sa.supp AS supp_a, sb.supp AS supp_b,
       |  CAST(p.supp_ab * n.n AS DOUBLE)
       |    / CAST(sa.supp * sb.supp AS DOUBLE) AS lift
       |FROM pairs p
       |JOIN item_supp sa ON p.a = sa.item
       |JOIN item_supp sb ON p.b = sb.item, n_orders n
       |ORDER BY lift DESC, p.a, p.b LIMIT $k""".stripMargin

  /** Multi-source BFS hop distances — the third member of the
    * iterative-graph family (label propagation converges a partition,
    * PageRank a score, BFS a DISTANCE). Each superstep relaxes
    * `dist(v) = min(dist(v), 1 + min over in-edges of dist(u))`: one
    * keyed join frontier→edges and one map-side-combined MIN agg, both
    * shuffling on node ids only — the Bellman-Ford relaxation
    * restricted to unit weights. Integer distances make every
    * superstep bit-exact with no grid snapping at all. Unreached nodes
    * are absent (not ∞), so the output is frontier-sized, never
    * graph-sized, in the sparse early rounds.
    *
    * 100 TB posture: identical to PageRank's — per-superstep state is
    * one (node, dist) row per REACHED node, edges are streamed from
    * their own shuffle partitioning each round, nothing driver-side.
    * For high-diameter graphs checkpoint every few supersteps exactly
    * as connectedComponents does; `iters` fixed supersteps compose
    * into one lazy plan like the unrolled Lloyd fit. */
  def bfsDistances(
      edges0: DataFrame, seeds: DataFrame, iters: Int = 3): DataFrame = {
    val edges = edges0.select("src", "dst").distinct()
    var dist = seeds.select(col("node"), lit(0L).as("dist"))
    for (_ <- 1 to iters) {
      val next = dist.join(edges, dist("node") === edges("src"))
        .select(col("dst").as("node"), (col("dist") + 1).as("dist"))
      dist = dist.unionByName(next)
        .groupBy("node").agg(min(col("dist")).as("dist"))
    }
    dist
  }

  /** BFS over the symmetrized supplier↔part bipartite graph (same node
    * encoding as [[supplierPartRank]]: suppliers even, parts odd),
    * seeded at suppliers 1-3 — "which parts/suppliers are within k
    * co-supply hops of these suppliers". */
  def supplierPartBfs(lineitem: DataFrame, iters: Int = 3): DataFrame = {
    val seeds = lineitem.filter(col("l_suppkey") <= 3)
      .select((col("l_suppkey") * 2).as("node")).distinct()
    bfsDistances(symmetric(supplierPartEdges(lineitem)), seeds, iters)
  }

  /** Synchronous label propagation (Raghavan et al. 2007) — the
    * COMMUNITY member of the iterative-graph family (CC converges a
    * partition by min-id, PageRank a score, BFS a distance, LP a
    * neighbor-majority community). Each superstep every node adopts
    * its neighbors' most frequent label, ties by smallest label — a
    * deterministic total order, so fixed supersteps are bit-exact
    * against the unrolled twin (integer labels, integer counts; the
    * argmax is max(struct(cnt, -label)) = the ROW_NUMBER twin's
    * (cnt DESC, label ASC) head).
    *
    * 100 TB posture: per superstep one edge⋈labels join and two
    * node-keyed aggs, all shuffling on node ids; state is one
    * (node, label) row per node. Per-round eager checkpoint keeps the
    * plan depth constant exactly as kCore/connectedComponents. */
  def labelPropagation(edges0: DataFrame, rounds: Int = 3): DataFrame = {
    val edges = edges0.select("src", "dst").distinct().localCheckpoint(true)
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    // Rounds chain LAZILY (the pagerank r11 lesson): the label relation
    // is referenced exactly once per round (the edge join), so lineage
    // is linear and a per-round eager checkpoint is pure job-scheduling
    // overhead; CkptEvery bounds plan depth on long runs. Integer-only
    // arithmetic — nothing to snap.
    for (i <- 1 to rounds) {
      val counts = edges.join(labels, edges("dst") === labels("node"))
        .select(edges("src").as("node"), col("label"))
        .groupBy("node", "label").agg(count(lit(1)).as("cnt"))
      labels = counts.groupBy("node")
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
      if (i % CkptEvery == 0 && i < rounds) labels = labels.localCheckpoint(true)
    }
    labels
  }

  /** LP over the supplier↔part bipartite graph (same encoding as
    * [[supplierPartRank]]). */
  def supplierPartLabelProp(lineitem: DataFrame, rounds: Int = 3): DataFrame =
    labelPropagation(symmetric(supplierPartEdges(lineitem)), rounds)

  /** SQL twin of [[labelPropagation]]'s rounds over the CTE `edges`:
    * `l0` (every src its own label) through `l<rounds>`. */
  private def labelPropRoundsSql(rounds: Int): String = {
    def stepSql(i: Int): String =
      s"""l$i AS (SELECT node, label FROM (
         |  SELECT e.src AS node, l.label, COUNT(*) AS cnt,
         |    ROW_NUMBER() OVER (PARTITION BY e.src
         |      ORDER BY COUNT(*) DESC, l.label ASC) AS rn
         |  FROM edges e JOIN l${i - 1} l ON e.dst = l.node
         |  GROUP BY e.src, l.label) t WHERE rn = 1)""".stripMargin
    s"""l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
       |${(1 to rounds).map(stepSql).mkString(",\n")}""".stripMargin
  }

  def supplierPartLabelPropSql(rounds: Int = 3): String =
    s"""WITH ${supplierPartEdgesSql()},
       |${labelPropRoundsSql(rounds)}
       |SELECT node, label FROM l$rounds""".stripMargin

  /** Newman modularity Q of a community assignment over a symmetric
    * edge relation (both directions stored) — the "did the clustering
    * find real structure?" eval for [[labelPropagation]] /
    * [[Dedup.connectedComponents]] output. With m_d = |directed
    * edges|, intra_c = directed intra-community edges, and d_c = the
    * community's degree sum:
    *
    *   Q = Σ_c [ intra_c/m_d − (d_c/m_d)² ]
    *     = (m_d·Σ intra_c − Σ d_c²) / m_d²
    *
    * so the numerator and denominator are EXACT integers
    * (DECIMAL(38,0) here, HUGEINT in the twin — exact while
    * m_d ≲ 3e9, guarded loudly at the output cast like aucExact) and
    * Q itself is one correctly-rounded IEEE division. Output 1 row:
    * (m_edges, n_comms, q_num, q_den, q).
    *
    * Scale: degree agg + two label joins (node-keyed, map-side
    * partials) + per-community sums — everything keyed on node/label
    * ids; the community relation is ≤|V| rows and the final algebra is
    * a 1-row agg. Nothing data-sized crosses a broadcast. */
  def modularity(edges0: DataFrame, labels: DataFrame): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val edges = edges0.select("src", "dst").distinct()
    val m = edges.agg(count(lit(1)).as("md"))
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val dc = deg.join(labels, Seq("node"))
      .groupBy("label").agg(sum("deg").as("dc"))
    val intra = edges
      .join(labels.select(col("node").as("src"), col("label").as("ls")),
        Seq("src"))
      .join(labels.select(col("node").as("dst"), col("label").as("ld")),
        Seq("dst"))
      .filter(col("ls") === col("ld"))
      .groupBy(col("ls").as("label")).agg(count(lit(1)).as("intra"))
    val sums = dc.join(intra, Seq("label"), "left")
      .select(col("dc"), coalesce(col("intra"), lit(0L)).as("intra"))
      .agg(count(lit(1)).as("n_comms"), sum("intra").as("si"),
        sum(col("dc").cast(Dec) * col("dc").cast(Dec)).as("sd2"))
    val num = col("md").cast(Dec) * col("si").cast(Dec) - col("sd2")
    val den = col("md").cast(Dec) * col("md").cast(Dec)
    val guard = coalesce(
      assert_true(den < lit(Long.MaxValue).cast(Dec),
        lit("modularity: m_d^2 exceeds BIGINT — widen the output " +
          "columns (internal decimal math is still exact)"))
        .cast("long"),
      lit(0L))
    sums.crossJoin(broadcast(m)).select(
      col("md").as("m_edges"), col("n_comms"),
      (num.cast("long") + guard).as("q_num"),
      den.cast("long").as("q_den"),
      (num.cast("string").cast("double") /
        den.cast("string").cast("double")).as("q"))
  }

  /** Modularity of the [[supplierPartLabelProp]] communities — LP and
    * the Q algebra in ONE declarative plan/oracle pair.
    *
    * The label relation is eagerly checkpointed before the Q algebra:
    * modularity references it THREE times (degree join + both
    * endpoint joins), so a lazy LP lineage would replay all its
    * per-round shuffles per reference (the kCore/pagerank multi-ref
    * lesson — 29 shuffles measured lazy vs 12 checkpointed). Same for
    * the symmetric edge relation (m / degree / intra references). */
  def supplierPartModularity(lineitem: DataFrame, rounds: Int = 3): DataFrame = {
    val edges = symmetric(supplierPartEdges(lineitem)).distinct().localCheckpoint(true)
    modularity(edges, labelPropagation(edges, rounds).localCheckpoint(true))
  }

  def supplierPartModularitySql(rounds: Int = 3): String =
    s"""WITH ${supplierPartEdgesSql()},
       |${labelPropRoundsSql(rounds)},
       |m AS (SELECT COUNT(*) AS md FROM edges),
       |deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
       |dc AS (SELECT l.label, SUM(d.deg) AS dc
       |  FROM deg d JOIN l$rounds l USING (node) GROUP BY l.label),
       |intra AS (SELECT ls.label, COUNT(*) AS intra
       |  FROM edges e
       |  JOIN l$rounds ls ON e.src = ls.node
       |  JOIN l$rounds ld ON e.dst = ld.node
       |  WHERE ls.label = ld.label GROUP BY ls.label),
       |sums AS (SELECT COUNT(*) AS n_comms,
       |    SUM(COALESCE(i.intra, 0)) AS si,
       |    SUM(CAST(d.dc AS HUGEINT) * d.dc) AS sd2
       |  FROM dc d LEFT JOIN intra i USING (label))
       |SELECT CAST(md AS BIGINT) AS m_edges, n_comms,
       |  CAST(CAST(md AS HUGEINT) * si - sd2 AS BIGINT) AS q_num,
       |  CAST(CAST(md AS HUGEINT) * md AS BIGINT) AS q_den,
       |  CAST(CAST(CAST(md AS HUGEINT) * si - sd2 AS VARCHAR) AS DOUBLE)
       |    / CAST(CAST(CAST(md AS HUGEINT) * md AS VARCHAR) AS DOUBLE) AS q
       |FROM sums CROSS JOIN m""".stripMargin

  // -------------------------------------------------------------------
  // HITS hubs & authorities (Kleinberg 1999, "Authoritative sources in
  // a hyperlinked environment") — the mutual-reinforcement member of
  // the iterative-graph family (PageRank converges a random-walk score,
  // HITS a pair of coupled eigenvectors): per superstep
  //   auth(v) = Σ_{(u,v)} hub(u),   hub(u) = Σ_{(u,v)} auth(v),
  // each renormalized by its max. Over the DIRECTED supplier→part
  // graph the hubs are broad-sourcing suppliers, authorities the
  // widely-sourced parts.
  //
  // Exactness recipe: scores live on a 1e6 integer grid —
  // round(score·1e6) per edge contribution, exact BIGINT sums, and the
  // max-normalization is one long/long → double division, identical in
  // both engines (sums ≤ 1e6 · max-degree stay far under 2^53 here; at
  // larger scale the long→double cast rounds, but round-to-nearest
  // identically in JVM and DuckDB). Fixed supersteps → unrolled-CTE
  // oracle, hash-exact.
  //
  // 100 TB posture: each superstep is two keyed joins + two map-side-
  // combined aggs on node ids plus a 1-row broadcast max; hub state is
  // checkpointed per superstep (the a→h→a lineage would otherwise
  // double per round). No driver-side state beyond the 1-row maxima.
  // -------------------------------------------------------------------
  private val HitsGrid = 1.0e6

  def hits(edges0: DataFrame, iters: Int = 3): DataFrame = {
    val edges = edges0.select("src", "dst").distinct().localCheckpoint(true)
    var hub: DataFrame = edges.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1.0).as("h"))
    var auth: DataFrame = null
    for (i <- 1 to iters) {
      val asums = edges.join(hub, col("src") === col("node"))
        .select(col("dst"),
          round(col("h") * HitsGrid).cast("long").as("g"))
        .groupBy(col("dst").as("node")).agg(sum("g").as("sa"))
      val amax = asums.agg(max("sa").as("ma"))
      auth = asums.crossJoin(broadcast(amax))
        .select(col("node"),
          (col("sa").cast("double") / col("ma").cast("double")).as("a"))
      val hsums = edges.join(auth, col("dst") === col("node"))
        .select(col("src"),
          round(col("a") * HitsGrid).cast("long").as("g"))
        .groupBy(col("src").as("node")).agg(sum("g").as("sh"))
      val hmax = hsums.agg(max("sh").as("mh"))
      hub = hsums.crossJoin(broadcast(hmax))
        .select(col("node"),
          (col("sh").cast("double") / col("mh").cast("double")).as("h"))
      // hub state closes the superstep; cut the a->h->a lineage here
      // (auth's own lineage is then one join off the checkpointed hub)
      if (i < iters) hub = hub.localCheckpoint(true)
    }
    hub.select(col("node"), col("h").as("score"), lit("hub").as("kind"))
      .unionAll(auth.select(
        col("node"), col("a").as("score"), lit("authority").as("kind")))
  }

  /** HITS over the directed supplier→part sourcing graph (same node
    * encoding as supplierPartRank; edges stay DIRECTED — hub and
    * authority sides are disjoint by construction). */
  def supplierPartHits(lineitem: DataFrame, iters: Int = 3): DataFrame =
    hits(supplierPartEdges(lineitem), iters)

  def supplierPartHitsSql(iters: Int = 3): String = {
    def stepSql(i: Int): String = {
      val prevH = if (i == 1) "h0" else s"h${i - 1}"
      s"""as$i AS (
         |  SELECT e.dst AS node,
         |    SUM(CAST(ROUND(h.h * 1000000.0) AS BIGINT)) AS sa
         |  FROM edges e JOIN $prevH h ON e.src = h.node
         |  GROUP BY 1),
         |a$i AS (
         |  SELECT node, CAST(sa AS DOUBLE)
         |    / CAST((SELECT MAX(sa) FROM as$i) AS DOUBLE) AS a
         |  FROM as$i),
         |hs$i AS (
         |  SELECT e.src AS node,
         |    SUM(CAST(ROUND(a.a * 1000000.0) AS BIGINT)) AS sh
         |  FROM edges e JOIN a$i a ON e.dst = a.node
         |  GROUP BY 1),
         |h$i AS (
         |  SELECT node, CAST(sh AS DOUBLE)
         |    / CAST((SELECT MAX(sh) FROM hs$i) AS DOUBLE) AS h
         |  FROM hs$i)""".stripMargin
    }
    s"""WITH ${supplierPartDirectedSql("edges")},
       |h0 AS (SELECT DISTINCT src AS node, 1.0 AS h FROM edges),
       |${(1 to iters).map(stepSql).mkString(",\n")}
       |SELECT node, h AS score, 'hub' AS kind FROM h$iters
       |UNION ALL
       |SELECT node, a AS score, 'authority' AS kind FROM a$iters""".stripMargin
  }

  def supplierPartBfsSql(iters: Int = 3): String = {
    def stepSql(i: Int): String =
      s"""d$i AS (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, d.dist + 1 AS dist
         |    FROM d${i - 1} d JOIN edges e ON e.src = d.node)
         |  GROUP BY 1)""".stripMargin
    s"""WITH ${supplierPartEdgesSql()},
       |d0 AS (SELECT DISTINCT l_suppkey * 2 AS node, CAST(0 AS BIGINT) AS dist
       |       FROM lineitem WHERE l_suppkey <= 3),
       |${(1 to iters).map(stepSql).mkString(",\n")}
       |SELECT node, dist FROM d$iters""".stripMargin
  }
}
