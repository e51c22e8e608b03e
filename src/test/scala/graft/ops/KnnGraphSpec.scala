package graft.ops

import graft.{JobCounting, SparkSpec}
import org.apache.spark.sql.{DataFrame, Row}
import scala.util.{Random, Try}

/** The [[KnnGraph]] kernel behind [[EmbeddingOps.knnGraph]],
  * [[EmbeddingOps.hardNegatives]] and their auto-width forms equals the
  * DataFrame chain it replaced ([[KnnGraphDataFrame]]) row for row and
  * bit for bit, and rejects bad input rows by name. */
class KnnGraphSpec extends SparkSpec with JobCounting {
  import spark.implicits._

  private def fixture(sf: String): DataFrame =
    spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")

  /** The schema's names and types, and the rows in (vec_id, rank) order
    * with every double as its raw bits. */
  private def canon(df: DataFrame): (Seq[(String, String)], Seq[Seq[Any]]) = {
    val rank = df.schema.fieldIndex("rank")
    (df.schema.map(f => (f.name, f.dataType.simpleString)),
      df.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(rank))).map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case v => v
      }))
  }

  /** The result of `f`, or the DIVIDE_BY_ZERO or input error it raised. */
  private def outcome(f: => DataFrame): Either[String, (Seq[(String, String)], Seq[Seq[Any]])] =
    Try(canon(f)).toEither.left.map { e =>
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      msgs.find(m => m != null && m.contains("DIVIDE_BY_ZERO")).map(_ => "DIVIDE_BY_ZERO")
        .getOrElse(throw e)
    }

  private def assertGraphParity(embs: DataFrame, k: Int, dim: Int, numBits: Int,
      numTables: Int, what: String): Unit = {
    val got = outcome(EmbeddingOps.knnGraph(embs, k, dim, numBits, numTables))
    assert(got == outcome(KnnGraphDataFrame.knnGraph(embs, k, dim, numBits, numTables)),
      s"knnGraph $what")
    val neg = outcome(EmbeddingOps.hardNegatives(embs, k, dim, numBits, numTables))
    assert(neg == outcome(KnnGraphDataFrame.hardNegatives(embs, k, dim, numBits, numTables)),
      s"hardNegatives $what")
  }

  test("equals the DataFrame chain on the sf0.001 and sf0.01 fixtures, auto width and 6 and 10 bits") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val embs = fixture(sf)
      val auto = canon(EmbeddingOps.knnGraphAuto(embs))
      assert(auto._2.nonEmpty && auto == canon(KnnGraphDataFrame.knnGraphAuto(embs)), s"$sf auto")
      assert(canon(EmbeddingOps.hardNegativesAuto(embs)) ==
        canon(KnnGraphDataFrame.hardNegativesAuto(embs)), s"$sf hard negatives auto")
      for (bits <- Seq(6, 10)) assertGraphParity(embs, 3, 64, bits, 8, s"$sf at $bits bits")
    }
  }

  /** `n` seeded Gaussian 8-dim vectors with labels 0..2, plus exact
    * duplicates under other ids, scaled copies (exact cosine ties with
    * their originals), and a vector with a null label. */
  private def corpus(n: Int, seed: Long): Seq[(Long, Array[Float], Option[Int])] = {
    val rnd = new Random(seed)
    val base = (0 until n).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat), Some(i % 3)))
    val dups = base.take(4).map { case (id, v, l) => (id + 100L, v.clone(), l.map(_ + 1)) }
    val scaled = base.slice(4, 8).map { case (id, v, l) => (id + 200L, v.map(_ * 2f), l) }
    base ++ dups ++ scaled :+ ((300L, Array.fill(8)(rnd.nextGaussian().toFloat), None))
  }

  private def df(rows: Seq[(Long, Array[Float], Option[Int])]): DataFrame =
    rows.toDF("vec_id", "embedding", "label")

  test("equals the DataFrame chain on corpora with duplicates, ties, lone vectors and k past the candidates") {
    val embs = df(corpus(30, 7L))
    // one table of 4 bits: some vectors share their bucket with no other
    val buckets = EmbeddingOps.lshBuckets(embs, 8, 4, 1).collect().map(r => (r.getLong(0), r.getLong(2)))
    val sizes = buckets.groupBy(_._2).view.mapValues(_.length).toMap
    val lone = buckets.filter(b => sizes(b._2) == 1).map(_._1).toSet
    assert(lone.nonEmpty, "the corpus must hold a vector with no co-bucketed partner")
    val one = canon(EmbeddingOps.knnGraph(embs, 3, 8, 4, 1))
    assert(one._2.nonEmpty && one._2.forall(r => !lone(r(0).asInstanceOf[Long])))
    assertGraphParity(embs, 3, 8, 4, 1, "1 table of 4 bits")
    // exact ties: a scaled copy scores its original's cosine bit for bit
    // and ranks first by its smaller id
    val full = canon(EmbeddingOps.knnGraph(embs, 50, 8, 2, 3))._2
    val at = full.map(r => (r(0), r(1)) -> (r(2), r(3))).toMap
    val ties = for {
      ((a, b: Long), (cos, rank: Long)) <- at.toSeq if b >= 4L && b < 8L
      (cos2, rank2: Long) <- at.get((a, b + 200L))
    } yield (cos == cos2, rank < rank2)
    assert(ties.nonEmpty && ties.forall(_ == ((true, true))), ties)
    assert(full.groupBy(_(0)).values.forall(_.length < 50))
    assertGraphParity(embs, 50, 8, 2, 3, "k = 50 past every candidate list")
    for (k <- Seq(1, 2, 5); bits <- Seq(1, 3)) assertGraphParity(embs, k, 8, bits, 4, s"k $k, $bits bits")
  }

  test("a zero vector: DIVIDE_BY_ZERO under ANSI as in the chain, else a null cosine ranked last") {
    val rows = corpus(12, 11L) :+ ((400L, Array.fill(8)(0f), Some(1)))
    val embs = df(rows)
    // the zero vector's dots are all 0.0, so every bit is set: two bits
    // and one table put it with every vector of the all-ones bucket
    assertGraphParity(embs, 4, 8, 2, 1, "zero vector, ANSI")
    assert(outcome(EmbeddingOps.knnGraph(embs, 4, 8, 2, 1)) == Left("DIVIDE_BY_ZERO"))
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      assertGraphParity(embs, 4, 8, 2, 1, "zero vector, ANSI off")
      val g = canon(EmbeddingOps.knnGraph(embs, 20, 8, 2, 1))._2
      val zero = g.filter(_(0) == 400L)
      assert(zero.nonEmpty && zero.forall(_(2) == null))
      // a null cosine sorts after every number
      g.groupBy(_(0)).values.foreach { rs =>
        assert(rs.dropWhile(_(2) != null).forall(_(2) == null), rs)
      }
    } finally spark.conf.set(key, prev)
  }

  test("hard negatives pair only vectors whose labels are both non-null and differ") {
    val embs = df(corpus(30, 3L))
    val label = corpus(30, 3L).map(r => r._1 -> r._3).toMap
    val got = canon(EmbeddingOps.hardNegatives(embs, 10, 8, 2, 2))._2
    assert(got.nonEmpty)
    got.foreach { r =>
      val (a, b, lb) = (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long], r(2))
      assert(label(a).nonEmpty && label(b).contains(lb) && !label(a).contains(lb), r)
    }
  }

  test("the auto-width graph runs its count and one job, and caches nothing") {
    val embs = fixture("sf0.001")
    val t = tally(EmbeddingOps.knnGraphAuto(embs).collect())
    assert(t.jobs == 2 && t.cachedBlocks == 0, s"$t")
  }

  private def rejected(rows: DataFrame, message: String): Unit =
    Seq[DataFrame => DataFrame](EmbeddingOps.knnGraph(_, 3, 8, 2, 2),
      EmbeddingOps.hardNegativesAuto(_, 3, 8, 2)).foreach { run =>
      val e = intercept[Exception](run(rows).collect())
      val iae = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case iae: IllegalArgumentException => iae }
      assert(iae.exists(_.getMessage.startsWith(s"kNN graph input column $message")), s"$e")
    }

  private val clean = Seq[(Option[Long], Option[Array[Option[Float]]], Option[Int])](
    (Some(0L), Some(Array.fill(8)(Some(1f))), Some(0)),
    (Some(1L), Some(Array.tabulate(8)(i => Some(i.toFloat))), Some(1)))

  private def withRow(row: (Option[Long], Option[Array[Option[Float]]], Option[Int])): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize((clean :+ row).map { case (id, v, l) =>
      Row(id.map(Long.box).orNull, v.map(_.map(_.map(Float.box).orNull).toSeq).orNull,
        l.map(Int.box).orNull)
    }), org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"))

  test("a null vec_id is rejected by name") {
    rejected(withRow((None, Some(Array.fill(8)(Some(2f))), Some(1))), "vec_id holds a null value")
  }

  test("a null embedding is rejected by name") {
    rejected(withRow((Some(5L), None, Some(1))), "embedding holds a null vector")
  }

  test("a null, NaN or infinite component is rejected by name") {
    for (x <- Seq(None, Some(Float.NaN), Some(Float.PositiveInfinity), Some(Float.NegativeInfinity)))
      rejected(withRow((Some(5L), Some(Array.fill(7)(Some(1f)) :+ x), Some(1))),
        "embedding holds a null, NaN or infinite component at vec_id 5")
  }

  test("a vector whose length is not dim is rejected by name") {
    for (n <- Seq(0, 7, 9))
      rejected(withRow((Some(5L), Some(Array.fill(n)(Some(1f))), Some(1))),
        s"embedding holds a vector of length $n at vec_id 5, not dim 8")
  }
}
