package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Dedup family over planted duplicates: exact keeps the lowest id,
  * MinHash-LSH and SimHash recover planted near-dups, Jaccard math is
  * exact. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away home tonight " +
      "while the moon rises slowly over the quiet hills and the river bends north"

  // doc 2 = exact copy of 0; doc 3 = near-dup of 0 (one word changed);
  // docs 10/11 unrelated
  private def docs: DataFrame = Seq(
    (0L, base),
    (2L, base),
    (3L, base.replace("lazy", "sleepy")),
    (10L, "completely different content about spark catalyst optimizer rules and codegen stages for big shuffles"),
    (11L, "yet another unrelated document mentioning parquet bloom filters and columnar page compression schemes")
  ).toDF("doc_id", "text")

  test("exact dedup keeps the lowest doc_id per identical text") {
    val kept = Dedup.exact(docs).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 3L, 10L, 11L))
  }

  test("fingerprint dedup groups exact copies only") {
    val m = Dedup.exactByFingerprint(docs).collect()
      .map(r => r.getLong(2) -> r.getLong(1)).toMap // keeper -> n_copies
    assert(m(0L) == 2L) // docs 0 and 2
    assert(m(3L) == 1L && m(10L) == 1L && m(11L) == 1L)
  }

  test("ngram Jaccard finds the planted near-dup pair with the exact similarity") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) == 1.0) // exact copy
    assert(pairs.contains((0L, 3L)) && pairs((0L, 3L)) > 0.5 && pairs((0L, 3L)) < 1.0)
    assert(pairs.contains((2L, 3L)))
    assert(!pairs.keys.exists { case (a, b) => a >= 10L || b >= 10L })
  }

  test("shingle DF cap leaves results unchanged below the threshold, prunes hot shingles above it") {
    // at the default cap (1000) nothing on the fixtures is dropped —
    // capped and uncapped pipelines produce identical pairs+similarities
    val uncapped = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5, maxDf = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    val default = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(default == uncapped)
    // a cap of 2 drops every shingle shared by all three near-dup docs
    // (the corpus-"hot" ones) — the exact-copy pair survives on the
    // remaining discriminative shingles, similarity stays 1.0
    val tight = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(tight.get((0L, 2L)).contains(1.0))
  }

  test("planted hot shingle: DF cap removes the quadratic candidate work, not the answer") {
    // DedupBench.skewedCorpus at n=400: 120 docs (30%) open with the
    // SAME 8-word boilerplate header; planted near-dup pairs
    // (doc_id % 20 == 19 borrows id-1's words) are all header-free, so
    // the cap cannot change their similarity — only the work.
    val skewed = graft.tools.DedupBench.skewedCorpus(spark, 400).cache()
    val sh = Dedup.shingles(skewed, n = 3).cache()

    // the header's 6 3-grams are corpus-hot (df = 120), everything else
    // is cold (60-word docs over a 5000-word hashed vocabulary)
    val dfs = sh.groupBy("shingle").count()
    val hot = dfs.filter($"count" > 50).collect()
    assert(hot.length == 6, s"expected the 6 header shingles hot, got ${hot.length}")
    assert(hot.forall(_.getLong(1) == 120L))

    // capping prunes exactly those 6 shingles → the blocking join loses
    // its 6 * C(120,2) = 42 840 boilerplate candidate pairs
    def candidates(s: DataFrame): Long = {
      val a = s.select($"doc_id".as("da"), $"shingle")
      val b = s.select($"doc_id".as("db"), $"shingle")
      a.join(b, "shingle").filter($"da" < $"db").count()
    }
    val uncappedCand = candidates(sh)
    val cappedCand = candidates(Dedup.cappedShingles(sh, maxDf = 50))
    assert(uncappedCand - cappedCand >= 6L * (120L * 119L / 2),
      s"cap removed only ${uncappedCand - cappedCand} candidates")

    // ...while the RESULT is bit-identical: boilerplate-only pairs share
    // 6 of ~120 shingles (jaccard ~0.05, far under threshold) and the
    // planted pairs carry no header
    def resultSet(maxDf: Int) =
      Dedup.ngramJaccardPairs(skewed, n = 3, threshold = 0.8, maxDf = maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    val capped = resultSet(50)
    assert(capped == resultSet(Int.MaxValue))
    assert(capped.size == 20) // n/20 planted pairs, nothing spurious
    assert(capped.forall { case (da, db, j) => db == da + 1 && j >= 0.8 })
    skewed.unpersist(); sh.unpersist()
  }

  test("prefix filtering is lossless: same pairs and similarities as the full blocking join") {
    for (t <- Seq(0.5, 0.8)) {
      val full = Dedup.ngramJaccardPairs(docs, n = 3, threshold = t, maxDf = Int.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val pref = Dedup.prefixJaccardPairs(docs, n = 3, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(pref == full, s"threshold $t")
    }
  }

  test("prefix filtering: hot boilerplate shingles rank last and stay out of the index") {
    val skewed = graft.tools.DedupBench.skewedCorpus(spark, 400).cache()
    // result identical to the exact uncapped join — losslessness under skew
    val full = Dedup.ngramJaccardPairs(skewed, n = 3, threshold = 0.8, maxDf = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    val pref = Dedup.prefixJaccardPairs(skewed, n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(pref == full && pref.size == 20)
    // the mechanism: rarest-first ordering pushes the 6 df=120 header
    // shingles to the END of each doc's ranking, so the ~20% prefix of a
    // ~120-shingle doc never reaches them — the quadratic key disarms
    // itself without any cap
    val sh = Dedup.shingles(skewed, n = 3)
    val dfreq = sh.groupBy("shingle").agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("df"))
    val ranked = sh.join(dfreq, Seq("shingle"))
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy($"df".asc, $"shingle".asc)))
      .withColumn("sz", org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
    val prefix = ranked.filter($"rk" <= $"sz" - org.apache.spark.sql.functions.ceil(
      org.apache.spark.sql.functions.lit(0.8) * $"sz") + 1)
    val hotInPrefix = prefix.join(
      dfreq.filter($"df" > 50).select("shingle"), Seq("shingle"), "left_semi").count()
    assert(hotInPrefix == 0L, s"$hotInPrefix hot shingles leaked into the prefix index")
    // and the index is ~20% of the full shingle relation
    val ratio = prefix.count().toDouble / sh.count()
    assert(ratio < 0.3, s"prefix index ratio $ratio")
    skewed.unpersist()
  }

  test("connected components collapse a transitive near-dup chain into one group") {
    // A~B and B~C clear the threshold; A~C (two words apart) does NOT —
    // only transitive closure puts all three in one group
    val chain = Seq(
      (5L, base),
      (6L, base.replace("lazy", "sleepy")),
      (7L, base.replace("lazy", "sleepy").replace("quick", "swift")),
      (20L, "totally separate corpus entry about distributed query planning and exchanges")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(chain, n = 3, threshold = 0.7)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(pairs.contains((5L, 6L)) && pairs.contains((6L, 7L)))
    assert(!pairs.contains((5L, 7L))) // below threshold — chain only
    val groups = Dedup.nearDupGroups(chain, n = 3, threshold = 0.7)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups == Map(5L -> 5L, 6L -> 5L, 7L -> 5L)) // 20 untouched (no pair)
    // the cleaned corpus keeps the group keeper + untouched docs only
    val kept = Dedup.dedupedCorpus(chain, n = 3, threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(5L, 20L))
  }

  test("keep-best dedup retains the LONGEST group member, not the lowest id") {
    import org.apache.spark.sql.functions.{col, length}
    // 6 is a near-dup of 5 but longer (extra tail words survive the
    // 0.7 Jaccard gate) — dedupedCorpus keeps 5, keepBest must keep 6
    val chain = Seq(
      (5L, base),
      (6L, base + " with two extra trailing words"),
      (20L, "totally separate corpus entry about distributed query planning and exchanges")
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")).cast("long"))
    assert(Dedup.dedupedCorpus(chain, n = 3, threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet == Set(5L, 20L))
    assert(Dedup.dedupKeepBest(chain, n = 3, threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet == Set(6L, 20L))
    // equal lengths fall back to the lowest id — same answer as corpus
    val tie = Seq(
      (5L, base), (6L, base.replace("lazy", "hazy")),
      (20L, "totally separate corpus entry about distributed query planning and exchanges")
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")).cast("long"))
    assert(Dedup.dedupKeepBest(tie, n = 3, threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet == Set(5L, 20L))
  }

  test("connected components match a union-find reference on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val nNodes = 60 + trial * 20
      val edges = Seq.fill(nNodes / 2)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // driver-side union-find ground truth (min id per component)
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v)).toMap
      val got = Dedup.connectedComponents(edges.toDF("da", "db"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial=$trial")
    }
  }

  test("digest dedup groups agree with exact text dedup") {
    val byText = Dedup.exact(docs).select("doc_id").as[Long].collect().toSet
    val byDigest = Dedup.exactByDigest(docs)
      .select("keeper").as[Long].collect().toSet
    assert(byDigest == byText) // md5: no collisions → identical keepers
  }

  test("pointer doubling resolves a 300-hop chain within the default round budget") {
    // a path graph 0-1-2-...-300: diameter 300 >> maxIter=20, so plain
    // min-label propagation could never converge — only the O(log d)
    // doubling path can (and non-convergence now throws, so reaching
    // the assert proves it)
    val chain = (0L until 300L).map(i => (i, i + 1))
    val got = Dedup.connectedComponents(chain.toDF("da", "db"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == (0L to 300L).toSet)
    assert(got.values.toSet == Set(0L))
  }

  test("MinHash LSH recovers planted near-dups without all-pairs comparison") {
    val found = Dedup.minhashNearDups(docs, threshold = 0.5)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(found.contains((0L, 2L)))
    assert(found.contains((0L, 3L)))
    assert(!found.exists { case (a, b) => a >= 10L || b >= 10L })
  }

  test("identical docs collide in every MinHash band") {
    val cands = Dedup.lshCandidatePairs(docs)
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((0L, 2L))) // identical signature → guaranteed
  }

  test("SimHash finds near-identical docs within the Hamming radius") {
    val found = Dedup.simhashNearDups(docs, maxHamming = 10)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(found.contains((0L, 2L))) // identical → hamming 0
    assert(!found.contains((0L, 10L)) && !found.contains((10L, 11L)))
  }

  test("simhash of identical text is identical, unrelated text differs") {
    val hs = Dedup.simhashes(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(0L) == hs(2L))
    assert(hs(0L) != hs(10L))
  }

  test("md5-60 MinHash pipeline recovers the same planted near-dups as production") {
    val md5Found = Dedup.minhashNearDupsMd5(docs, threshold = 0.5)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(md5Found.contains((0L, 2L)))
    assert(md5Found.contains((0L, 3L)))
    assert(!md5Found.exists { case (a, b) => a >= 10L || b >= 10L })
    // verified pairs carry the EXACT Jaccard — identical to the n-gram
    // truth path on the same pairs (the hash family only gates
    // candidacy, never the verified similarity)
    val md5J = Dedup.minhashNearDupsMd5(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val truth = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    md5J.foreach { case (pair, j) => assert(truth(pair) == j) }
  }

  test("md5-60 SimHash pipeline finds near-identical docs within the Hamming radius") {
    val found = Dedup.simhashNearDupsMd5(docs, maxHamming = 10)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(found.contains((0L, 2L))) // identical → hamming 0
    assert(!found.contains((0L, 10L)) && !found.contains((10L, 11L)))
    val hs = Dedup.simhashesMd5(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(0L) == hs(2L))
    assert(hs(0L) != hs(10L))
    // 60-bit signatures: top 4 bits clear
    hs.values.foreach(h => assert(h >= 0L && h < (1L << 60)))
  }

  test("the xxhash64 and md5 families plan the same physical operators") {
    // the bench-only xxhash64 queries are timed but never oracle-checked:
    // their correctness rests on running the DAG of their gated md5 twin;
    // no relation an earlier test cached may stand in for a subtree
    spark.catalog.clearCache()
    def operators(df: DataFrame): Seq[String] = {
      val key = "spark.sql.adaptive.enabled"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "false")
      try df.queryExecution.executedPlan.collect { case p => p.nodeName }
      finally spark.conf.set(key, prev)
    }
    val sigs = operators(Dedup.minhashSignatures(docs))
    assert(sigs.contains("Exchange"), sigs)
    assert(sigs == operators(Dedup.minhashSignaturesMd5(docs)))
    val sim = operators(Dedup.simhashNearDups(docs))
    assert(sim.contains("BroadcastHashJoin"), sim)
    assert(sim == operators(Dedup.simhashNearDupsMd5(docs)))
  }

  test("incremental dedup drops batch docs whose text exists in history") {
    val history = Seq(
      (1L, "seen before"), (2L, "also seen"), (3L, "history only")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "seen before"),   // exact dup of history → dropped
      (11L, "brand new"),     // survives
      (12L, "also seen"),     // dropped
      (13L, "brand new")      // batch-internal dup of 11 — KEPT (the op
                              // dedups against history, not within batch)
    ).toDF("doc_id", "text")
    val got = Dedup.dedupAgainstExact(history, batch).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq == Seq((11L, "brand new"), (13L, "brand new")))
  }

  test("incremental near-dup drops batch docs near history, keeps batch-internal near-dups") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearA = (1 to 40).map(i => if (i == 40) "changed" else s"tok$i").mkString(" ")
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val otherNear = (100 to 140).map(i => if (i == 140) "x" else s"w$i").mkString(" ")
    val history = Seq((1L, base), (2L, "unrelated " + (200 to 230).map("z" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, nearA),     // near-dup of history doc 1 → dropped
      (11L, other),     // fresh → kept
      (12L, otherNear)  // near-dup of BATCH doc 11 only → kept
    ).toDF("doc_id", "text")
    val got = Dedup.dedupAgainstNearMd5(history, batch)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(11L, 12L))

    // the persisted-index probe is the identical computation staged
    // through disk: same survivors, bit for bit
    val path = "/tmp/graft-test-dedup-index"
    DedupIndex.write(history, path)
    val probed = DedupIndex.probe(spark, path, batch)
      .collect().map(_.getLong(0)).sorted
    assert(probed.toSeq == got.toSeq)
  }

  test("blocked edit-distance join finds typo pairs, never cross-block pairs") {
    val part = Seq(
      (1L, "small ring"),   // dist("ring","rings") = 1 → pair (1,2)
      (2L, "small rings"),
      (3L, "small gear"),   // dist to ring = 3 → no pair at maxDist 2
      (4L, "Small Ring"),   // case-insensitive exact dup of 1 → dist 0
      (5L, "red ring")      // same noun, different block → never compared
    ).toDF("p_partkey", "p_name")
    val got = Dedup.editDistancePairs(part, maxDist = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got == Seq((1L, 2L, 1), (1L, 4L, 0), (2L, 4L, 1)))
  }

  test("edit-distance DP runs on the distinct-name domain, rows only expand at the end") {
    // 100 copies of two names: the name-pair relation must stay at
    // D²-scale (3 pairs incl. self-pairs) while the output holds all
    // C(100,2)-per-name + 100·100 cross pairs
    val part = (0L until 100L).flatMap(i =>
      Seq((2 * i, "small ring"), (2 * i + 1, "small rings")))
      .toDF("p_partkey", "p_name")
    val out = Dedup.editDistancePairs(part, maxDist = 2)
    assert(out.count() == 100L * 99 / 2 * 2 + 100L * 100)
    // every pair is ordered and within the distance bound
    val sample = out.limit(50).collect()
    sample.foreach { r =>
      assert(r.getLong(0) < r.getLong(1) && r.getInt(2) <= 2)
    }
  }

  test("editdist hard cap bounds the per-block DP under an adversarial single block") {
    // adversarial fixture: 200 distinct names, ALL in one block with
    // near-equal lengths — uncapped this is C(200,2) = 19 900 DPs
    val part = (0L until 200L)
      .map(i => (i, f"acme w$i%03d")).toDF("p_partkey", "p_name")
    val capped = Dedup.editDistancePairs(part, maxDist = 99, maxBlock = 50)
    // the (length, name)-ranked survivor set is exactly w000..w049, so
    // every emitted key is < 50 and the pair count is exactly C(50,2)
    assert(capped.count() == 50L * 49 / 2)
    capped.collect().foreach { r =>
      assert(r.getLong(0) < 50 && r.getLong(1) < 50)
    }
    // the truncation flag fires for exactly that block, and only when
    // the cap is actually exceeded
    val stats = Dedup.editDistanceBlockStats(part, maxBlock = 50).collect()
    assert(stats.map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      .toSeq == Seq(("acme", 200L, true)))
    assert(Dedup.editDistanceBlockStats(part).collect()
      .forall(!_.getBoolean(2)))
  }

  test("editdist cap is self-disarming: below the ceiling the result is bit-identical") {
    val part = Seq(
      (1L, "small ring"), (2L, "small rings"), (3L, "small gear"),
      (4L, "Small Ring"), (5L, "red ring")).toDF("p_partkey", "p_name")
    val dflt = Dedup.editDistancePairs(part, maxDist = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val uncapped = Dedup
      .editDistancePairs(part, maxDist = 2, maxBlock = Int.MaxValue)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(dflt == uncapped)
  }

  test("containment: a quote inside a long doc scores 1.0 one-way") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "gamma delta epsilon zeta"),          // fully inside doc 1
      (3L, "completely different words here now")
    ).toDF("doc_id", "text")
    val r = Dedup.ngramContainmentPairs(docs, n = 3, threshold = 0.9)
      .collect().map(x => (x.getLong(0), x.getLong(1),
        x.getAs[Double]("cont_ab"), x.getAs[Double]("cont_ba")))
    // doc 2's two 3-shingles both occur in doc 1: containment(2→1)=1.0,
    // while Jaccard is only 2/8 — the asymmetric detector fires where
    // resemblance would not
    assert(r.toSeq == Seq((1L, 2L, 2.0, 0.25, 1.0))
      .map(t => (t._1, t._2, t._4, t._5)))
  }

  test("minhash eval: counts agree with the two pipelines run directly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val r = Dedup.minhashEval(docs).collect()(0)
    val truth = Dedup.ngramJaccardPairs(docs).select("da", "db").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val found = Dedup.minhashNearDupsMd5(docs).select("da", "db").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r.getAs[Long]("n_truth") == truth.size)
    assert(r.getAs[Long]("n_found") == found.size)
    assert(r.getAs[Long]("n_hit") == (truth intersect found).size)
    // verified candidates are a subset of truth -> precision is 1.0
    assert(r.getAs[Double]("precision") == 1.0)
    assert(r.getAs[Double]("recall") <= 1.0 && r.getAs[Double]("recall") > 0.0)
  }

  test("auto-sampled eval: mod staircase, and mod=1 is the identity") {
    import Dedup.evalAutoMod
    assert(evalAutoMod(500L) == 1L && evalAutoMod(100000L) == 1L)
    assert(evalAutoMod(100001L) == 4L && evalAutoMod(400000L) == 4L)
    assert(evalAutoMod(400001L) == 16L && evalAutoMod(1600000L) == 16L)
    assert(evalAutoMod(1600001L) == 64L)
    // the sampled subcorpus never exceeds the full-eval threshold
    // (until the 64 cap at >6.4M docs)
    for (n <- Seq(100001L, 399999L, 500000L, 1599999L, 6400000L))
      assert(n / evalAutoMod(n) <= 100000L, s"n=$n")
    // below the threshold the registered auto form IS the full eval
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val auto = Dedup.minhashEvalAuto(docs).collect()(0)
    val full = Dedup.minhashEval(docs).collect()(0)
    assert(auto.toSeq == full.toSeq)
  }

  test("b-bit minhash: identical docs estimate 1 under both widths; " +
      "estimators track the signature algebra") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = Dedup.bbitMinhash(docs).collect()
    assert(rows.nonEmpty)
    val sigs = Dedup.minhashSignaturesMd5(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    rows.foreach { r =>
      val (da, db) = (r.getLong(0), r.getLong(1))
      val (sa, sb) = (sigs(da), sigs(db))
      val full = sa.zip(sb).count { case (x, y) => x == y }.toLong
      val bbit = sa.zip(sb).count { case (x, y) => x % 2 == y % 2 }.toLong
      assert(r.getLong(2) == full && r.getLong(3) == bbit, s"($da,$db)")
      assert(r.getDouble(4) == full / 64.0)
      assert(r.getDouble(5) == (bbit / 64.0 - 0.5) / 0.5)
      // chance collisions only inflate: b-bit agreement >= full-width
      assert(bbit >= full)
    }
    // a pair of byte-identical texts agrees on every position at both
    // widths (dup docs exist in the corpus — make sure one showed up)
    assert(rows.exists(r => r.getLong(2) == 64L && r.getDouble(5) == 1.0))
  }

  test("weighted jaccard: repetition separates docs that set-jaccard conflates") {
    // doc 1 and doc 2 share the identical shingle SET, but doc 2
    // repeats the whole block — multiset similarity must drop below 1
    // while byte-identical docs 1 and 3 stay at exactly 1
    val base = "alpha beta gamma delta epsilon zeta"
    val d = Seq(
      (1L, base), (3L, base),
      (2L, base + " " + base + " " + base + " " + base)
    ).toDF("doc_id", "text")
    val got = Dedup.weightedJaccardPairs(d, threshold = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 3L)) == 1.0)
    got.get((1L, 2L)).foreach(w => assert(w < 0.5, s"got $w"))
    // set-jaccard on the capped shingle sets would call (1,2) a
    // perfect dup — the whole point of the multiset view
    val setJ = Dedup.ngramJaccardPairs(d, threshold = 0.0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard"))
      .toMap
    setJ.get((1L, 2L)).foreach(j => assert(j > got.getOrElse((1L, 2L), 0.0)))
  }

  test("threshold curve: cumulative counts agree with direct filtering") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val curve = Dedup.thresholdCurve(docs).collect()
      .map(r => r.getDouble(0) -> r.getLong(2)).toMap
    val all = Dedup.ngramJaccardPairs(docs, threshold = 0.7)
      .select("jaccard").collect().map(_.getDouble(0))
    curve.foreach { case (t, nGe) =>
      assert(nGe == all.count(_ >= t), s"threshold $t")
    }
    // the curve is monotone nonincreasing in the threshold
    val sorted = curve.toSeq.sortBy(_._1).map(_._2)
    assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
  }

  test("novelty curve: dup iff an EARLIER doc had the same text, bucketed by id") {
    import spark.implicits._
    // ids 0-4 land in bucket 0, 5-9 in bucket 1 (buckets = 2).
    // 3 copies 2 (same-bucket dup); 5 and 6 copy 0 (cross-bucket dups);
    // the copy SOURCES (0, 2) are novel — first occurrence wins.
    val planted = Seq(
      0L -> "alpha beta gamma", 1L -> "uniq one", 2L -> "delta epsilon",
      3L -> "delta epsilon", 4L -> "uniq two",
      5L -> "alpha beta gamma", 6L -> "alpha beta gamma",
      7L -> "uniq three", 8L -> "uniq four", 9L -> "uniq five"
    ).toDF("doc_id", "text")
    val rows = Dedup.noveltyCurve(planted, buckets = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(rows(0L) == ((5L, 1L, 0.2)))
    assert(rows(1L) == ((5L, 2L, 0.4)))
  }

  test("source matrix counts near-dup pairs by unordered source pair") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog tonight"
    val b = "parquet bloom filters and columnar page compression schemes"
    val planted = Seq(
      (0L, a, "web"), (1L, a, "wiki"),     // cross-source pair
      (2L, b, "web"), (3L, b, "web"),      // within-source pair
      (4L, "totally unrelated text about catalyst rules", "forum")
    ).toDF("doc_id", "text", "source")
    val m = Dedup.sourceMatrix(planted).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m == Map(("web", "wiki") -> 1L, ("web", "web") -> 1L))
  }
}
