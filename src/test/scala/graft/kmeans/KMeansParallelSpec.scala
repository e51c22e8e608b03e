package graft.kmeans

import graft.{Blobs, JobCounting, SparkSpec}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import scala.util.Try

/** k-means|| (Bahmani 2012) — determinism, boundedness, the
  * weighted-recluster contract, equality with the DataFrame
  * implementation ([[KMeansParallelDataFrame]]), the kernel's job shape
  * and its input contract. The cross-engine hash match is the driver's
  * oracle gate (`init_kmeansbb`, `init_kmeansbb_final`). */
class KMeansParallelSpec extends SparkSpec with JobCounting {

  private val sf = "/root/testdata/sf0.001"

  private def pointsOf(ps: Seq[(Long, Double, Double)]): DataFrame = {
    import spark.implicits._
    ps.toDF("pid", "x", "y")
  }

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getInt(0))

  /** The result of `f`, or its error's class and message. */
  private def outcome(f: => DataFrame): Either[(Class[_], String), (String, Seq[Row])] =
    Try(f).toEither.left.map(e => (e.getClass, e.getMessage)).map(df => (df.schema.toDDL, sorted(df)))

  /** sweep, candidates and finalCenters equal the DataFrame form's. */
  private def assertParity(pts: DataFrame, k: Int = KMeansParallel.K, l: Int = KMeansParallel.L,
      rounds: Int = KMeansParallel.Rounds, seed: Int = KMeansParallel.Seed,
      cap: Int = KMeansParallel.Cap, what: String = ""): Unit = {
    val sweep = KMeansParallel.sweep(pts, l, rounds, seed, cap)
    assert(sweep == KMeansParallelDataFrame.sweep(pts, l, rounds, seed, cap), s"sweep $what")
    val cands = outcome(KMeansParallel.candidates(pts, l, rounds, seed, cap))
    assert(cands == outcome(KMeansParallelDataFrame.candidates(pts, l, rounds, seed, cap)),
      s"candidates $what")
    assert(cands.exists(_._2.map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3),
      r.getDouble(4))) == sweep.map(c => (c.cidx, c.rnd, c.pid, c.x, c.y))), s"candidates $what")
    assert(outcome(KMeansParallel.finalCenters(pts, k, l, rounds, seed, cap)) ==
      outcome(KMeansParallelDataFrame.finalCenters(pts, k, l, rounds, seed, cap)),
      s"finalCenters $what")
  }

  test("the kernel's draws equal Dedup.md5Hash60 on 10k pids") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val pids = Seq(0L, -1L, 1L, Long.MinValue, Long.MaxValue, Long.MinValue + 1) ++
      Seq.fill(10000)(rnd.nextLong()) ++ (-50L to 50L)
    val seed = KMeansParallel.Seed
    val viaCol = (0 to 2).map { r =>
      pids.toDF("pid").select(graft.ops.Dedup.md5Hash60(seed + r, col("pid").cast("string")))
        .as[Long].collect().toSeq
    }
    val blocks = KMeansParallel.read(pointsOf(pids.map((_, 1.0, 2.0))), seed, 3).collect()
    assert(blocks.length == spark.sparkContext.defaultParallelism)
    assert(blocks.flatMap(_.pids).toSeq == pids)
    (0 to 2).foreach(r => assert(blocks.flatMap(_.hs(r)).toSeq == viaCol(r), s"round $r"))
    assert(pids.map(p => KMeansParallel.md5Hash60Jvm(seed + 1, p.toString)) == viaCol(1))
  }

  test("md5Hash60Jvm is bit-identical to the Column form") {
    import spark.implicits._
    val ids = Seq("0", "17", "123456789012345", "f|3")
    val viaCol = ids.toDF("s")
      .select(graft.ops.Dedup.md5Hash60(71, col("s")))
      .collect().map(_.getLong(0))
    val viaJvm = ids.map(KMeansParallel.md5Hash60Jvm(71, _))
    assert(viaCol.toSeq == viaJvm)
  }

  test("candidates: deterministic, enumeration-ordered, weights sum to n") {
    val pts = graft.Tables.points(spark, sf)
    val a = KMeansParallel.candidates(pts).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5))).sortBy(_._1)
    val b = KMeansParallel.candidates(pts).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5))).sortBy(_._1)
    assert(a.toSeq == b.toSeq, "pure function of the data")
    // cidx is a contiguous enumeration in (rnd, pid, x, y) order
    assert(a.map(_._1).toSeq == a.indices.toSeq)
    assert(a.map(t => (t._2, t._3, t._4, t._5)).toSeq ==
      a.map(t => (t._2, t._3, t._4, t._5)).sortBy(t => (t._1, t._2, t._3, t._4)).toSeq)
    // exactly one round-0 (uniform) pick; every round stays under cap
    assert(a.count(_._2 == 0) == 1)
    val perRound = a.groupBy(_._2).view.mapValues(_.length)
    (1 to KMeansParallel.Rounds).foreach { r =>
      assert(perRound.getOrElse(r, 0) <= KMeansParallel.Cap)
    }
    // weights partition the point set
    assert(a.map(_._6).sum == pts.count())
    // every candidate is a real point
    val byKey = pts.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    a.foreach { t => assert(byKey.contains((t._3, t._4, t._5))) }
  }

  test("candidates are partitioning-invariant") {
    val pts = graft.Tables.points(spark, sf)
    val a = KMeansParallel.sweep(pts)
    val b = KMeansParallel.sweep(pts.repartition(7))
    assert(a == b)
  }

  test("hard cap binds deterministically under adversarial uniformity") {
    import spark.implicits._
    // 60 near-equidistant points: after the first pick, l*d2 ~ l*cost/n
    // with l(16) << n(60) would normally select ~l — push acceptance up
    // by making every d2 equal so the Bernoulli clamp binds for many
    // draws; with cap=4 the per-round acceptance must be EXACTLY the 4
    // lowest-pid acceptors, run-to-run identical.
    val pts = (0 until 60).map(i => (i.toLong, math.cos(i * 0.1) * 1e3,
      math.sin(i * 0.1) * 1e3)).toDF("pid", "x", "y")
    val a = KMeansParallel.sweep(pts, l = 64, rounds = 2, seed = 5, cap = 4)
    val b = KMeansParallel.sweep(pts, l = 64, rounds = 2, seed = 5, cap = 4)
    assert(a == b)
    val perRound = a.groupBy(_.rnd).view.mapValues(_.length).toMap
    assert(perRound(1) == 4 && perRound(2) == 4, s"cap must bind: $perRound")
    // within each round the kept acceptors are pid-ordered (truncation
    // is ORDER BY pid,x,y LIMIT cap in both engines)
    Seq(1, 2).foreach { r =>
      val pids = a.filter(_.rnd == r).map(_.pid)
      assert(pids == pids.sorted)
    }
  }

  test("finalCenters: k distinct positively-weighted candidates, deterministic") {
    val pts = graft.Tables.points(spark, sf)
    val cand = KMeansParallel.candidates(pts).collect()
      .map(r => r.getInt(0) -> r.getLong(5)).toMap
    val a = KMeansParallel.finalCenters(pts).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    val b = KMeansParallel.finalCenters(pts).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    assert(a.map(_._1).toSeq == (0 until KMeansParallel.K))
    assert(a.map(_._2).distinct.length == KMeansParallel.K, "k distinct seeds")
    a.foreach { case (_, cidx, _, _) =>
      assert(cand(cidx) > 0L, s"cidx=$cidx must carry positive weight")
    }
  }

  test("registered query/oracle pairs exist") {
    Seq("init_kmeansbb", "init_kmeansbb_final").foreach { q =>
      assert(graft.SparkEntry.queries.contains(q))
      assert(graft.SparkEntry.oracleSql.contains(q))
    }
  }

  test("degenerate corpus: engine raises, SQL twin goes loudly empty") {
    import spark.implicits._
    // a 1-point corpus: every candidate after the first pick has d²=0
    // (duplicate coordinates) and/or weight 0 — fewer than k pickable
    val one = Seq((0L, 1.0, 2.0)).toDF("pid", "x", "y")
    val e = intercept[IllegalArgumentException] {
      KMeansParallel.finalCenters(one)
    }
    assert(e.getMessage.contains("k-means||"))
    // the SQL twin mirrors the guard (r13 advice): -inf keys are never
    // picked and a <k pick count empties the whole result, so the
    // oracle compare fails on rows_match instead of silently diverging
    val sql = KMeansParallel.finalCentersSql()
    assert(sql.contains("WHERE key > CAST('-infinity' AS DOUBLE)"))
    assert(sql.contains(s"(SELECT COUNT(*) FROM allg) = ${KMeansParallel.K}"))
  }

  test("sweep, candidates and finalCenters equal the DataFrame form") {
    val fixture = graft.Tables.points(spark, "perfbench/fixture")
    assertParity(fixture, what = "perfbench fixture")
    val pts = graft.Tables.points(spark, sf)
    assertParity(pts, what = "sf0.001")
    assertParity(pts.repartition(7), what = "repartition(7)")
    assertParity(pts.coalesce(1), what = "coalesce(1)")
    val blobs = pointsOf(Blobs.points(3000, 7).zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) })
    assertParity(blobs, what = "blobs")
    // the cap binds: the 4 lowest-pid acceptors of each round
    val ring = pointsOf((0 until 60).map(i => (i.toLong, math.cos(i * 0.1) * 1e3, math.sin(i * 0.1) * 1e3)))
    assertParity(ring, l = 64, rounds = 2, seed = 5, cap = 4, what = "cap binds")
  }

  test("duplicates and ties: equal to the DataFrame form on generated corpora") {
    // few distinct coordinates and pids: duplicate points, equidistant
    // candidates, repeated pids, and φ = 0 corpora
    val gen = for {
      n <- Gen.choose(1, 30)
      ps <- Gen.listOfN(n, Gen.zip(Gen.choose(-3L, 3L), Gen.choose(-1, 2), Gen.choose(0, 1)))
    } yield ps.map { case (p, x, y) => (p, x.toDouble, y.toDouble) }
    (1 to 6).foreach { i =>
      val ps = gen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      assertParity(pointsOf(ps).repartition(3), k = 2, l = 4, rounds = 2, cap = 3,
        what = s"sample $i: $ps")
    }
  }

  test("candidates and finalCenters run 2R+2 jobs over one cache and shuffle nothing") {
    val width = spark.sparkContext.defaultParallelism
    val jobs = 2 * KMeansParallel.Rounds + 2
    def pts(partitions: Int) = spark.range(0, 4000, 1, partitions)
      .select(col("id").as("pid"), (col("id") % 97).cast("double").as("x"),
        (col("id") % 89 * 1.5).as("y"))
    val wide = tally(KMeansParallel.candidates(pts(width)).collect())
    assert(wide.jobs == jobs && wide.shuffleBytes == 0L, s"$wide")
    // the d² of each round is persisted beside the one cache
    assert(wide.cachedRdds.size == 1 + KMeansParallel.Rounds, s"$wide")
    val narrow = tally(KMeansParallel.candidates(pts(1)).collect())
    assert(narrow.jobs == jobs && narrow.shuffleBytes > 0L, s"$narrow")
    val (finalJobs, finalShuffle) = counted(KMeansParallel.finalCenters(pts(width)).collect())
    assert(finalJobs == jobs && finalShuffle == 0L, s"$finalJobs jobs, $finalShuffle B")
  }

  test("every cache is unpersisted, also when the input is rejected") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    KMeansParallel.candidates(graft.Tables.points(spark, sf))
    assert(sc.getPersistentRDDs.keySet == before)
    val bad = pointsOf(Seq((0L, 1.0, 2.0), (1L, Double.NaN, 0.0)))
    intercept[Exception](KMeansParallel.finalCenters(bad))
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("a null pid or a null, NaN or infinite coordinate is rejected, naming the column") {
    import spark.implicits._
    val clean = Seq[(Option[Long], Option[Double], Option[Double])](
      (Some(0L), Some(0.0), Some(0.0)), (Some(1L), Some(1.0), Some(0.0)),
      (Some(2L), Some(10.0), Some(10.0)))
    val bads = Seq(("pid", (None, Some(1.0), Some(1.0)))) ++ (for {
      column <- Seq("x", "y")
      v <- Seq(Some(Double.NaN), Some(Double.PositiveInfinity), Some(Double.NegativeInfinity), None)
    } yield (column, if (column == "x") (Some(3L), v, Some(1.0)) else (Some(3L), Some(1.0), v)))
    bads.foreach { case (column, row) =>
      val df = (clean :+ row).toDF("pid", "x", "y")
      Seq[DataFrame => Any](KMeansParallel.sweep(_), KMeansParallel.candidates(_),
        KMeansParallel.finalCenters(_)).foreach { run =>
        val e = intercept[Exception](run(df))
        val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case iae: IllegalArgumentException => iae }
        assert(cause.exists(_.getMessage.contains(s"k-means input column $column holds a null")),
          s"$column $row: $e")
      }
    }
  }

  test("empty input raises a named error") {
    val empty = pointsOf(Seq((0L, 1.0, 2.0))).where(lit(false))
    Seq[DataFrame => Any](KMeansParallel.sweep(_), KMeansParallel.candidates(_),
      KMeansParallel.finalCenters(_)).foreach { run =>
      val e = intercept[IllegalArgumentException](run(empty))
      assert(e.getMessage == "k-means||: the input holds no points")
    }
  }

  test("an all-duplicate corpus keeps one candidate and finalCenters raises") {
    val dup = pointsOf((0L until 50L).map(p => (p % 7, 3.0, -2.0)))
    val cands = sorted(KMeansParallel.candidates(dup))
    assert(cands.map(r => (r.getInt(1), r.getLong(5))) == Seq((0, 50L)), "φ = 0: no acceptances")
    val e = intercept[IllegalArgumentException](KMeansParallel.finalCenters(dup))
    assert(e.getMessage.contains("fewer than 8 positively-weighted candidates"))
  }
}
