package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs: DataFrame = Seq(
    (1L, "The quick the LAZY dog"),
    (2L, "a b  c") // double space → empty token must be dropped
  ).toDF("doc_id", "text")

  test("token counts lowercase, split, and drop empty tokens") {
    val m = TextOps.tokenCounts(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("the") == 2L && m("lazy") == 1L && m("a") == 1L)
    assert(!m.contains(""))
    assert(m.values.sum == 5L + 3L)
  }

  test("quality score computes exact ratios") {
    val r = TextOps.qualityScore(docs).filter("doc_id = 1").collect()(0)
    assert(r.getAs[Long]("n_tokens") == 5L)
    // tokens: the, quick, the, lazy, dog → stopwords {the, the} = 2/5
    assert(r.getAs[Double]("stopword_ratio") == 0.4)
    // distinct: the, quick, lazy, dog = 4/5
    assert(r.getAs[Double]("type_token_ratio") == 0.8)
    // total len = 3+5+3+4+3 = 18
    assert(r.getAs[Double]("avg_token_len") == 18.0 / 5)
  }

  test("language ID picks the best marker lexicon with deterministic tie-break") {
    val d = Seq(
      (1L, "the cat and the dog is in a house"),
      (2L, "der hund und die katze ist ein tier"),
      (3L, "el perro y la casa es un lugar")
    ).toDF("doc_id", "text")
    val m = TextOps.langId(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "en" && m(2L) == "de" && m(3L) == "es")
  }

  test("langid eval: per-language counts and ratios, incl. the 'und' row") {
    val d = Seq(
      (1L, "the cat and the dog is in a house", "en"),   // hit
      (2L, "der hund und die katze ist ein tier", "de"), // hit
      (3L, "el perro y la casa es un lugar", "fr"),      // pred es, gold fr
      (4L, "zzz qqq www", "en")                          // no markers → und
    ).toDF("doc_id", "text", "lang")
    val rows = TextOps.langIdEval(d).collect()
      .map(r => r.getString(0) -> r).toMap
    // gold en: 2 docs, 1 hit (doc 4 → und); pred en: 1
    val en = rows("en")
    assert(en.getLong(1) == 2L && en.getLong(2) == 1L && en.getLong(3) == 1L)
    assert(en.getAs[Double]("precision") == 1.0)
    assert(en.getAs[Double]("recall") == 0.5)
    assert(en.getAs[Double]("f1") == 2.0 / 3.0)
    // fr: gold 1, predicted 0 → precision NULL, recall 0
    val fr = rows("fr")
    assert(fr.getLong(2) == 0L && fr.isNullAt(4) && fr.getAs[Double]("recall") == 0.0)
    // es: predicted once, never gold → recall NULL, precision 0
    val es = rows("es")
    assert(es.getLong(1) == 0L && es.getLong(2) == 1L && es.isNullAt(5))
    // und: the quarantine row exists with 1 prediction, no gold
    val und = rows("und")
    assert(und.getLong(1) == 0L && und.getLong(2) == 1L && und.getLong(3) == 0L)
  }

  test("fingerprint equals the hand-computed rolling hash and is order-sensitive") {
    val fp = TextOps.fingerprints(Seq((1L, "ab"), (2L, "ba")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // "ab": ((0*31+97) * 31 + 98) % p = 97*31+98 = 3105
    assert(fp(1L) == 3105L)
    assert(fp(2L) == 98L * 31 + 97)
    assert(fp(1L) != fp(2L))
  }

  test("token stats: whitespace vs BPE-ish regex segmentation") {
    val d = Seq((1L, "hello world42 x-y")).toDF("doc_id", "text")
    val r = TextOps.tokenStats(d).collect()(0)
    assert(r.getAs[Long]("ws_tokens") == 3L)
    // hello | world | 42 | x | - | y
    assert(r.getAs[Long]("bpe_ish_tokens") == 6L)
  }

  test("repetition stats: top-token, top-bigram, and dup-bigram fractions") {
    // tokens a,a,a,b → top token 3/4
    // bigrams "a a","a a","a b" → top 2/3, duplicated mass 2/3
    val d = Seq((1L, "a A a b"), (2L, "x y z"), (3L, "solo")).toDF("doc_id", "text")
    val m = TextOps.repetitionStats(d).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(m(1L) == ((3.0 / 4, 2.0 / 3, 2.0 / 3)))
    // all-distinct doc: top token 1/3, top bigram 1/2, no duplicated bigram
    assert(m(2L) == ((1.0 / 3, 1.0 / 2, 0.0)))
    // single-token doc: no bigrams at all → 0.0, not a dropped row
    assert(m(3L) == ((1.0, 0.0, 0.0)))
  }

  test("tokenize ids: frequency-ranked vocab, OOV -> 0, 1-based positions") {
    // counts: b=3, a=2, c=1, z=1 → vocab(2): b=1, a=2; c,z OOV
    val d = Seq((1L, "a b c B"), (2L, "b a z")).toDF("doc_id", "text")
    val got = TextOps.tokenizeIds(d, vocabSize = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (1L, 1L) -> 2L, (1L, 2L) -> 1L, (1L, 3L) -> 0L, (1L, 4L) -> 1L,
      (2L, 1L) -> 1L, (2L, 2L) -> 2L, (2L, 3L) -> 0L))
  }

  test("lm score: common-token docs outscore rare-token docs; uniform doc is exact") {
    val d = Seq((1L, "the the the the"), (2L, "qq zz"),
      (3L, "the the")).toDF("doc_id", "text")
    val m = TextOps.lmScore(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // corpus: the=6, qq=1, zz=1, T=8
    assert(m(1L)._1 == 4L && m(2L)._1 == 2L)
    assert(m(1L)._2 > m(2L)._2, "common tokens must score higher")
    // docs 1 and 3 are all-'the' → identical mean log p(the)
    assert(m(1L)._2 == m(3L)._2)
    // p(the) = 6/8 → mean = -plog(8/6); plog tracks ln to ~1e-12
    assert(math.abs(m(1L)._2 - math.log(6.0 / 8.0)) < 1e-9)
  }

  test("bigram lm: plausible word order outscores scrambled; n_bigrams = len-1") {
    // bigram "the cat" dominates the pair counts; doc 3 uses the same
    // UNIGRAMS in an order whose bigrams are rare -> lower lm2 score
    // even though lmScore (bag of words) ties the two
    val d = Seq(
      (1L, "the cat the cat the cat"),
      (2L, "the cat the cat"),
      (3L, "cat cat the the")).toDF("doc_id", "text")
    val m = TextOps.lm2Score(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(m(1L)._1 == 5L && m(2L)._1 == 3L && m(3L)._1 == 3L)
    assert(m(2L)._2 > m(3L)._2, s"word order must matter: $m")
    val uni = TextOps.lmScore(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(uni(2L) == uni(3L), "unigram score is order-blind by design")
    // single-token and empty docs have no bigrams and drop out
    val e = Seq((1L, "solo"), (2L, ""), (3L, "a b")).toDF("doc_id", "text")
    assert(TextOps.lm2Score(e).collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("kneser-ney bigram: hand algebra on a tiny corpus; p stays in (0,1]") {
    // corpus bigrams: (a b)x2, (b a)x1, (b c)x1 → c(a·)=2, c(b·)=2,
    // N1+(a·)=1, N1+(b·)=2, N1+(·a)=1, N1+(·b)=1, N1+(·c)=1, N1+(··)=3
    val d = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    val m = TextOps.knScore(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(m(1L)._1 == 4L)
    val D = 0.75
    def pAB = (2.0 - D) / 2.0 + ((D * 1.0) / 2.0) * (1.0 / 3.0)
    def pBA = (1.0 - D) / 2.0 + ((D * 2.0) / 2.0) * (1.0 / 3.0)
    def pBC = (1.0 - D) / 2.0 + ((D * 2.0) / 2.0) * (1.0 / 3.0)
    // output is the MEAN LOG-PROB (negative), the lm2Score convention
    val expect = (2 * math.log(pAB) + math.log(pBA) + math.log(pBC)) / 4.0
    assert(math.abs(m(1L)._2 - expect) < 1e-9, s"got ${m(1L)._2} want $expect")
    // every probability stays in (0, 1] so plog(1/p) is in domain and
    // the mean log-prob is never positive
    val big = Seq((1L, "x y x y x z q y r y"), (2L, "y q")).toDF("doc_id", "text")
    TextOps.knScore(big).collect().foreach { r =>
      assert(r.getDouble(2) <= 0.0, "mean log-prob must be non-positive")
    }
  }

  test("ppl buckets: equal-population per-language tertiles, keep = head+middle") {
    // 6 en docs with strictly different KN scores + 1 de doc; short
    // (<2-token) docs never reach the LM and are quarantined upstream
    val d = Seq(
      (1L, "a a a a a a", "en"), (2L, "a a a a a b", "en"),
      (3L, "a a a a b b", "en"), (4L, "a a a b b b", "en"),
      (5L, "a a b b b c", "en"), (6L, "a b c d e f", "en"),
      (7L, "x y x y", "de"), (8L, "tiny", "de")
    ).toDF("doc_id", "text", "lang")
    val rows = TextOps.pplBuckets(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!rows.contains(8L)) // unscoreable: quarantined, not bucketed
    // en: 6 docs → 2 per bucket; de: 1 doc → bucket 0
    val enBuckets = rows.values.filter(_.getString(1) == "en")
      .groupBy(_.getLong(4)).view.mapValues(_.size).toMap
    assert(enBuckets == Map(0L -> 2, 1L -> 2, 2L -> 2))
    assert(rows(7L).getLong(4) == 0L && rows(7L).getBoolean(5))
    // keep drops exactly the tail bucket
    rows.values.foreach { r =>
      assert(r.getBoolean(5) == (r.getLong(4) < 2L))
    }
    // ordering: the all-one-bigram doc has the best (highest) score
    assert(rows(1L).getLong(4) == 0L)
  }

  test("burstiness: uniform token scores VMR from the exact identity; bursty token scores higher") {
    // "uni" once per doc (4 docs): S1=4, S2=4, D=4 → VMR = (16-16)/16 = 0
    // (population variance of constant counts is 0 — sub-Poisson)
    // "burst" 4× in one doc: S1=4, S2=16, D=4 → VMR = (64-16)/16 = 3
    val d = Seq(
      (1L, "uni burst burst burst burst"),
      (2L, "uni x"), (3L, "uni y"), (4L, "uni z")
    ).toDF("doc_id", "text")
    val m = TextOps.burstiness(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(m("uni") == ((4L, 4L, 0.0)))
    assert(m("burst") == ((1L, 4L, 3.0)))
    // singletons: S1=S2=1 → VMR = (4-1)/4
    assert(m("x") == ((1L, 1L, 0.75)))
  }

  test("heaps fit: all-new-vocab corpus fits beta = 1 exactly; " +
      "repeated-vocab corpus fits beta near 0") {
    // every doc introduces only fresh types, 2 tokens each → V = N at
    // every checkpoint → ln V = ln N → slope exactly 1, r2 exactly 1
    val fresh = (1L to 40L).map(i => (i, s"w${i}a w${i}b"))
      .toDF("doc_id", "text")
    val f = TextOps.heapsFit(fresh, checkpoints = 8).collect()(0)
    assert(f.getLong(0) >= 4)
    assert(f.getDouble(1) == 1.0 && f.getDouble(2) == 1.0)
    // the same two tokens forever: V constant at every checkpoint →
    // slope exactly 0, and r2 undefined (no y-variance) → NULL
    val flat = (1L to 40L).map(i => (i, "aa bb")).toDF("doc_id", "text")
    val g = TextOps.heapsFit(flat, checkpoints = 8).collect()(0)
    assert(g.getDouble(1) == 0.0 && g.isNullAt(2))
  }

  test("textrank: the hub token of a star co-occurrence graph ranks first") {
    // "hub" co-occurs with every spoke; spokes only see the hub (and
    // their window-2 neighbor spokes) — the hub must dominate the rank
    val d = Seq(
      (1L, "hub aa hub bb hub cc hub dd hub ee hub ff")
    ).toDF("doc_id", "text")
    val rows = TextOps.textRank(d, topN = 3).collect()
    assert(rows.head.getString(0) == "hub")
    // ranks are a probability-mass-like vector: positive, and the hub
    // strictly beats the runner-up
    assert(rows.head.getDouble(1) > rows(1).getDouble(1))
    rows.foreach(r => assert(r.getDouble(1) > 0.0))
  }

  test("llr collocations: G² matches hand algebra and outranks an incidental pair") {
    // "aa bb" repeated 6× (strong collocation) + filler pairs
    val text = Seq.fill(6)("aa bb").mkString(" ") + " cc dd cc dd cc dd cc dd cc dd"
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val rows = TextOps.llrTopK(d, window = 1, minCount = 5).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // symmetric emission → both directions present with equal G²
    assert(rows.contains(("aa", "bb")) && rows.contains(("bb", "aa")))
    assert(rows(("aa", "bb"))._2 == rows(("bb", "aa"))._2)
    // hand-check the count: ordered adjacencies give (aa,bb) 6× plus
    // (bb,aa) 5× between the repeats; symmetric emission folds both
    // into each directed key → k11 = 11
    val (k11, g2) = rows(("aa", "bb"))
    assert(k11 == 11L)
    // independence would need G² ≈ 0; a perfect collocation is large
    assert(g2 > 10.0)
    // G² is non-negative on every emitted pair
    rows.values.foreach { case (_, g) => assert(g >= 0.0) }
  }

  test("JS divergence: identical distributions -> exactly 0; disjoint vocab -> ln 2") {
    // split membership is hash-determined — discover one train doc and
    // one holdout doc instead of assuming ids
    val probe = (1L to 400L).map(i => (i, "x")).toDF("doc_id", "text")
    val splits = Sampling.splitAssign(probe).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val trainId = splits.collectFirst { case (id, "train") => id }.get
    val holdId = splits.collectFirst { case (id, s) if s != "train" => id }.get

    // same text on both sides → p = q for every token → every term is
    // plog(1) = 0 → jsd is EXACTLY zero
    val same = Seq((trainId, "x y"), (holdId, "x y")).toDF("doc_id", "text")
    val r0 = TextOps.corpusJsDivergence(same).collect()(0)
    assert(r0.getDouble(0) == 0.0 && r0.getLong(1) == 2L)

    // disjoint vocabularies → maximal divergence ln 2 (within plog +
    // 1e-12 grid tolerance)
    val disj = Seq((trainId, "aa bb"), (holdId, "cc dd")).toDF("doc_id", "text")
    val r1 = TextOps.corpusJsDivergence(disj).collect()(0)
    assert(math.abs(r1.getDouble(0) - math.log(2.0)) < 1e-9)
  }

  test("token entropy: uniform doc is ln k on the grid; constant doc is 0") {
    val docs = Seq(
      (1L, "a b c d"),     // uniform over 4 → ln 4
      (2L, "x x x x x"),   // single token → exactly 0
      (3L, "p p q q")      // uniform over 2 → ln 2
    ).toDF("doc_id", "text")
    val m = TextOps.tokenEntropy(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(m(1L)._1 == 4 && m(1L)._2 == 4)
    assert(math.abs(m(1L)._3 - math.log(4)) < 1e-9)
    assert(m(2L) == ((5L, 1L, 0.0)))  // plog(1) = 0 exactly
    assert(math.abs(m(3L)._3 - math.log(2)) < 1e-9)
    // partition invariance: the grid-snapped sum can't depend on layout
    val again = TextOps.tokenEntropy(docs.repartition(5)).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    m.foreach { case (id, (_, _, e)) =>
      assert(java.lang.Double.doubleToLongBits(e) ==
        java.lang.Double.doubleToLongBits(again(id))) }
  }

  test("length z-norm: exact closed form per source; constant source is NULL") {
    val docs = Seq(
      (1L, "a", 1L), (2L, "a", 2L), (3L, "a", 3L),
      (4L, "b", 7L), (5L, "b", 7L)
    ).toDF("doc_id", "source", "n_chars")
    val z = TextOps.lengthZNorm(docs).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // source a: z_i = (3·x − 6)/√(3·14 − 36) = (3x−6)/√6
    assert(z(1L).contains(-3.0 / math.sqrt(6.0)))
    assert(z(2L).contains(0.0))
    assert(z(3L).contains(3.0 / math.sqrt(6.0)))
    // constant-length source: zero variance → NULL, not a crash
    assert(z(4L).isEmpty && z(5L).isEmpty)
  }

  test("skipgram pairs count symmetric co-occurrences within the window") {
    val docs = Seq((1L, "a b c"), (2L, "a b")).toDF("doc_id", "text")
    // window 2, doc1: offsets (a,b),(b,c) and (a,c); doc2: (a,b) —
    // symmetric emission doubles each
    val got = TextOps.skipgramPairs(docs, window = 2, topN = 100)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got(("a", "b")) == 2L && got(("b", "a")) == 2L)
    assert(got(("a", "c")) == 1L && got(("c", "a")) == 1L)
    assert(got(("b", "c")) == 1L && got(("c", "b")) == 1L)
    assert(got.size == 6)
    // window 1 drops the distance-2 (a,c) pair
    val w1 = TextOps.skipgramPairs(docs, window = 1, topN = 100)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!w1.contains(("a", "c")) && w1.contains(("a", "b")))
  }

  test("curriculum order interleaves difficulty bands round-robin") {
    // common-token docs score high (easy), rare-token docs low (hard)
    val docs = (
      (1L to 6L).map(i => (i, "aa bb aa bb")) ++          // easy band
      (11L to 16L).map(i => (i, s"rare$i uniq$i one$i"))  // hard band
    ).toDF("doc_id", "text")
    val r = TextOps.curriculumOrder(docs, bands = 4, scoreLo = -4.0,
      scoreHi = 0.0).collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val bands = r.map(_._2).distinct.sorted
    assert(bands.length == 2, s"expected 2 occupied bands, got $bands")
    // reading in pos order alternates bands while both have docs left
    val byPos = r.sortBy(_._3).map(_._2).take(4)
    assert(byPos.distinct.length == 2,
      s"first positions must span both bands: ${byPos.toSeq}")
    // pos encodes (rank-1)*K + band → all pos distinct
    assert(r.map(_._3).distinct.length == r.length)
  }

  test("cms estimates never under-count; tiny width forces over-count") {
    val docs = Seq(
      (1L, "aa aa aa bb"), (2L, "aa bb cc"), (3L, "dd")
    ).toDF("doc_id", "text")
    val truth = Map("aa" -> 4L, "bb" -> 2L, "cc" -> 1L, "dd" -> 1L, "absent" -> 0L)
    val wide = TextOps.cmsEstimates(docs, truth.keys.toSeq, depth = 4, width = 1024)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // wide sketch: no collisions at 5 tokens / 1024 buckets -> exact
    assert(wide == truth)
    // width 1: every token shares one bucket -> every estimate is the
    // total stream length (8) — the one-sided error bound's worst case
    val tiny = TextOps.cmsEstimates(docs, truth.keys.toSeq, depth = 2, width = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    truth.foreach { case (t, n) => assert(tiny(t) == 8L && tiny(t) >= n) }
  }

  test("gopher filter drops docs outside each quality band") {
    val docs = Seq(
      // passes all gates: 25 distinct-ish words incl. stopwords
      (1L, ("the quick brown fox jumps over a lazy dog and then runs " +
        "far away to find some food in the deep dark forest tonight ok")),
      // too short (5 tokens)
      (2L, "the tiny a of doc"),
      // no stopwords at all → stopword_ratio 0
      (3L, Seq.tabulate(30)(i => s"w$i").mkString(" ")),
      // one word repeated 30x → type_token_ratio 1/30 < 0.35
      (4L, ("the " * 15 + "spam " * 15).trim)
    ).toDF("doc_id", "text")
    val kept = TextOps.gopherFilter(docs).collect().map(_.getLong(0))
    assert(kept.toSeq == Seq(1L))
  }

  test("bpe pairs: adjacency after empty-drop, count order, deterministic tiebreak") {
    val docs = Seq(
      (1L, "a b  c"),   // double space: (a,b) and (b,c) — empties never pair
      (2L, "a b a b"),  // (a,b) x2, (b,a) x1
      (3L, "solo"),     // single token: contributes no pair
      (4L, "b c")
    ).toDF("doc_id", "text")
    val all = TextOps.bpePairs(docs, topN = 10).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(all.toSeq == Seq(
      ("a", "b", 3L), ("b", "c", 2L), ("b", "a", 1L)))
    // equal counts break ties by (tok_l, tok_r) asc, so the limit
    // boundary is exact: topN=2 must keep (a,b) and (b,c)
    val top2 = TextOps.bpePairs(docs, topN = 2).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(top2.toSeq == Seq(("a", "b"), ("b", "c")))
  }

  test("bpe trainer: merges propagate into later rounds, self-pairs excluded") {
    val docs = Seq(
      (1L, "a b a b c d"),
      (2L, "a b c d"),
      (3L, "c d a b")
    ).toDF("doc_id", "text")
    // round 1: (a,b) x4 wins; the merged "a b" symbol then pairs as a
    // UNIT — round 2 sees ("a b","a b") adjacency in doc 1 but that is
    // a self-pair (excluded), so (c,d) x3 wins; round 3 merges the two
    // merged symbols ("a b","c d") x2 — proof the rewrite feeds back
    val got = TextOps.bpeTrain(docs, rounds = 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1, "a", "b", 4L), (2, "c", "d", 3L), (3, "a b", "c d", 2L)))
  }

  test("bpe trainer: adjacent identical symbols never merge") {
    val docs = Seq((1L, "a a a b"), (2L, "a b")).toDF("doc_id", "text")
    val got = TextOps.bpeTrain(docs, rounds = 1).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(("a", "b", 2L))) // (a,a) x2 is not a candidate
  }

  test("PMI ranks the always-together pair above the promiscuous one") {
    // "a b" always co-occur exclusively; "x" pairs with everything
    val docs = ((1 to 6).map(i => (i.toLong, "a b")) ++
      Seq((10L, "x c"), (11L, "x d"), (12L, "x e"), (13L, "x c"),
        (14L, "x c"), (15L, "x c"), (16L, "x c")))
      .toDF("doc_id", "text")
    val got = TextOps.pmiTopK(docs, window = 2, minCount = 5, topN = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    // exclusive pair (a,b): cnt=6 each direction; marginals = 6
    // promiscuous (x,c): cnt=5; x's marginal = 7 → lower PMI
    val ab = got.find(p => p._1 == "a" && p._2 == "b").get
    val xc = got.find(p => p._1 == "x" && p._2 == "c").get
    assert(ab._4 > xc._4)
    // exact value check: PMI(a,b) = ln(cnt·total / (ca·cb)), all counts
    // integer-exact; plog tracks ln to ~1e-12 relative
    // pair types: (a,b)=6, (x,c)=5, (x,d)=1, (x,e)=1 → symmetric ×2
    val sym = 2L * (6 + 5 + 1 + 1)
    assert(math.abs(ab._4 - math.log(6.0 * sym / (6.0 * 6.0))) < 1e-9)
  }

  test("winsorize clips to the exact rank-based per-source percentiles") {
    // source s: 10 docs of lengths 1..10 → at (0.05, 0.95) the bounds
    // are the values at ranks ceil(0.5)=1 and ceil(9.5)=10 — no
    // clipping; at (0.2, 0.8) ranks 2 and 8 clip the tails to [2, 8]
    val docs = (1 to 10).map(i => (i.toLong, "s", "x" * i))
      .toDF("doc_id", "source", "text")
    val loose = TextOps.winsorize(docs, 0.05, 0.95).collect()
    assert(loose.forall(r => r.getLong(3) == r.getLong(2)))
    val tight = TextOps.winsorize(docs, 0.2, 0.8).collect()
      .map(r => (r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(tight == (1L to 10L).map(l => (l, math.max(2L, math.min(8L, l)))))
  }

  test("winsorize bounds are per-source, not global") {
    val docs = ((1 to 5).map(i => (i.toLong, "short", "x" * i)) ++
      (1 to 5).map(i => (10L + i, "long", "x" * (100 + i))))
      .toDF("doc_id", "source", "text")
    val out = TextOps.winsorize(docs, 0.2, 0.8).collect()
    // every clipped length stays within its own source's value range
    out.foreach { r =>
      val (src, w) = (r.getString(1), r.getLong(3))
      if (src == "short") assert(w >= 1 && w <= 5)
      else assert(w >= 101 && w <= 105)
    }
  }

  test("source overlap counts shared shingles symmetrically, once per pair") {
    val docs = Seq(
      (1L, "a", "the quick brown fox jumps high"),   // shares "the quick brown"
      (2L, "b", "the quick brown cat sleeps now"),   // + "quick brown ..." diverges
      (3L, "c", "completely different text entirely here")
    ).map { case (id, src, t) => (id, t, src) }.toDF("doc_id", "text", "source")
    val out = TextOps.sourceOverlap(docs, n = 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // a and b share exactly one 3-gram ("the quick brown"); c shares none
    assert(out == Seq(("a", "b", 1L)))
    // jaccard = 1 / (4 + 4 - 1)
    val j = TextOps.sourceOverlap(docs, n = 3).collect().head.getDouble(3)
    assert(math.abs(j - 1.0 / 7.0) < 1e-15)
  }

  test("hashed features: fixed space, signed counts, multiplicity in the weight") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha alpha beta", "en", "s", 1),
      (2L, "alpha", "en", "s", 1)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val f = TextOps.hashedFeatures(docs, dim = 64)
    val rows = f.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every index inside the fixed space
    assert(rows.forall { case (_, i, _) => i >= 0 && i < 64 })
    // no collision among 2 tokens in 64 dims here: doc 1 has 2 features
    val d1 = rows.filter(_._1 == 1L)
    assert(d1.length == 2)
    // 'alpha' appears twice in doc 1 → |weight| 2; same idx+sign as doc 2
    val d2 = rows.filter(_._1 == 2L)
    assert(d2.length == 1)
    val (_, aIdx, aW) = d2.head
    assert(d1.contains((1L, aIdx, aW * 2)))
    // reproducible bit-for-bit
    assert(TextOps.hashedFeatures(docs, dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq ==
      rows.sorted.toSeq)
  }

  test("sgns negatives: deterministic, frequency-weighted, never the pair itself") {
    import spark.implicits._
    // 'hot' dominates the unigram mass; 'a b' is the only real pair
    val docs = (1 to 40).map(i => (i.toLong, "hot " * 8, "en", "s", 1))
      .:+((41L, "a b", "en", "s", 1))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.sgnsNegatives(docs, topPairs = 10, k = 20)
    val rows = out.collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3)))
    // no draw may equal its own center or context
    assert(rows.forall { case (c, x, _, n) => n != c && n != x })
    // the (a, b) pair's negatives exist and are dominated by 'hot'
    val ab = rows.filter(r => r._1 == "a" && r._2 == "b").map(_._4)
    assert(ab.nonEmpty && ab.count(_ == "hot") >= ab.length / 2, ab.toSeq)
    // bit-for-bit reproducible
    val again = TextOps.sgnsNegatives(docs, topPairs = 10, k = 20).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3)))
    assert(rows.sortBy(t => (t._1, t._2, t._3)).toSeq ==
      again.sortBy(t => (t._1, t._2, t._3)).toSeq)
    // the inverse-CDF probe is an EQUI hash join on the bucket key
    // (the only nested-loop join in the plan is the 1-row `total`
    // broadcast, the same shape pmiTopK uses) — never a range probe
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin [bk"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("zipf slope: an exact power-law corpus fits slope ~ -1 with high r2") {
    import spark.implicits._
    // frequencies ~ 120/r for ranks 1..6 (120,60,40,30,24,20)
    val freqs = Seq(120, 60, 40, 30, 24, 20)
    val text = freqs.zipWithIndex
      .flatMap { case (f, i) => Seq.fill(f)(s"tok$i") }.mkString(" ")
    val docs = Seq((1L, "src0", text)).toDF("doc_id", "source", "text")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val r = TextOps.zipfSlope(docs, topN = 10).collect()(0)
    assert(r.getLong(0) == 6L)
    assert(math.abs(r.getDouble(1) + 1.0) < 0.01, s"slope ${r.getDouble(1)}")
    assert(r.getDouble(2) > 0.999, s"r2 ${r.getDouble(2)}")
  }

  test("zipf slope: a degenerate top-N fits NULL instead of dividing by zero") {
    import spark.implicits._
    def fit(text: String): (Long, Any, Any) = {
      val key = "spark.sql.ansi.enabled"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "true")
      try {
        val r = TextOps.zipfSlope(Seq((1L, text)).toDF("doc_id", "text"),
          topN = 10).collect()(0)
        (r.getLong(0), r.get(1), r.get(2))
      } finally spark.conf.set(key, prev)
    }
    // one token: every x (ln rank) is equal, so neither fit exists
    assert(fit("solo solo solo") == ((1L, null, null)))
    // every token once: y (ln count) is constant, a flat line with no
    // variance for r2 to explain
    assert(fit("a b c d e") == ((5L, 0.0, null)))
  }

  test("nb classifier: class-indicative tokens push margins to the right side") {
    // train (even ids): en docs say hello, fr docs say bonjour; the
    // held-out odd docs must score by those token weights
    val docs = Seq(
      (0L, "hello hello world", "en"),
      (2L, "hello there world", "en"),
      (4L, "bonjour monde monde", "fr"),
      (6L, "bonjour le monde", "fr"),
      (1L, "hello hello hello", "en"),   // strongly English tokens
      (3L, "bonjour bonjour bonjour", "fr"), // strongly French tokens
      (5L, "zzz qqq xxx", "en")          // all unseen tokens
    ).toDF("doc_id", "text", "lang")
    val got = TextOps.nbScore(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3), r.getBoolean(4)))
      .toMap
    assert(got.keySet == Set(1L, 3L, 5L))
    val (n1, m1, y1, p1) = got(1L)
    assert(n1 == 3L && y1 && p1 && m1 > 0.0, s"doc1 $m1")
    val (n3, m3, y3, p3) = got(3L)
    assert(n3 == 3L && !y3 && !p3 && m3 < 0.0, s"doc3 $m3")
    // unseen-token doc: margin = prior + 3·w0, both ~0 here (balanced
    // classes, near-equal token mass) — just pin that it scored at all
    // and used the default weight path without NULLing
    val (n5, m5, _, _) = got(5L)
    assert(n5 == 3L && !m5.isNaN)
  }

  test("nb calibration bins partition the scored split; signs land in the right bins") {
    val docs = Seq(
      (0L, "hello hello world", "en"),
      (2L, "hello there world", "en"),
      (4L, "bonjour monde monde", "fr"),
      (6L, "bonjour le monde", "fr"),
      (1L, "hello hello hello", "en"),
      (3L, "bonjour bonjour bonjour", "fr")
    ).toDF("doc_id", "text", "lang")
    val bins = TextOps.nbCalibration(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(bins.map(_._2).sum == 2L) // docs 1 and 3 scored
    bins.foreach { case (_, n, np, f) =>
      assert(f == np.toDouble / n && np <= n)
    }
    // the English doc's bin is non-negative, the French doc's negative
    val pos = bins.filter(_._1 >= 0).map(_._3).sum
    val neg = bins.filter(_._1 < 0).map(_._3).sum
    assert(pos == 1L && neg == 0L, bins.mkString(","))
  }

  test("nb confusion: counts partition the scored split; PRF from the counts") {
    val docs = Seq(
      (0L, "hello hello world", "en"),
      (2L, "hello there world", "en"),
      (4L, "bonjour monde monde", "fr"),
      (6L, "bonjour le monde", "fr"),
      (1L, "hello hello hello", "en"),       // scored: pred en, is en → TP
      (3L, "bonjour bonjour bonjour", "fr"), // scored: pred fr, is fr → TN
      (5L, "hello hello", "fr")              // en tokens, fr label → FP
    ).toDF("doc_id", "text", "lang")
    val r = TextOps.nbConfusion(docs).collect()(0)
    val (tp, fp, fn, tn) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert((tp, fp, fn, tn) == ((1L, 1L, 0L, 1L)), s"($tp,$fp,$fn,$tn)")
    assert(r.getDouble(4) == 0.5)  // precision 1/2
    assert(r.getDouble(5) == 1.0)  // recall 1/1
    assert(r.getDouble(6) == 2.0 / 3.0) // f1 = 2/(2+1)
  }

  test("nb classifier margin equals the hand-computed smoothed log-odds") {
    // tiny corpus: train = doc 0 (en: "a a"), doc 2 (fr: "b").
    // counts: a → cpos=2, cneg=0; b → cpos=0, cneg=1.
    // Npos=2, Nneg=1, V=2, dpos=1, dneg=1.
    // w(a) = ln((1+2)/(0+1)... arranged: plog((Nneg+V)/(cneg+1)) −
    //        plog((Npos+V)/(cpos+1)) = ln3 − ln(4/3)
    // prior = ln(2/2) = 0. Test doc 1 = "a": margin = ln3 − ln(4/3).
    val docs = Seq(
      (0L, "a a", "en"), (2L, "b", "fr"), (1L, "a", "en")
    ).toDF("doc_id", "text", "lang")
    val m = TextOps.nbScore(docs).collect()
      .find(_.getLong(0) == 1L).get.getDouble(2)
    val expect = math.log(3.0) - math.log(4.0 / 3.0)
    assert(math.abs(m - expect) < 1e-9, s"margin $m vs $expect")
  }

  test("nb ece: zero-margin corpus lands at p=1/2, Brier 1/4, log-loss ln 2") {
    // train split (even ids): one en + one fr doc with the same text →
    // every token weight and the prior are exactly 0 → test margins 0,
    // p = 1/2 for both test docs (one en, one fr): perfectly calibrated
    // bin (acc = conf = 1/2) → ECE 0; Brier = 1/4 exactly on the grid;
    // log-loss = softplus(0) = plog(2) ≈ ln 2.
    val docs = Seq(
      (0L, "a", "en"), (2L, "a", "fr"),
      (1L, "a", "en"), (3L, "a", "fr")
    ).toDF("doc_id", "text", "lang")
    val r = TextOps.nbEce(docs).collect()(0)
    assert(r.getAs[Long]("n") == 2L)
    assert(r.getAs[Double]("ece") == 0.0)
    assert(r.getAs[Double]("brier") == 0.25)
    assert(math.abs(r.getAs[Double]("logloss") - math.log(2.0)) < 1e-9)
  }

  test("gopher repetition: char fractions are exact and the verdict applies Table A1") {
    // doc 1: "x y x y x y" — 6 tokens, n_chars 11. Top 2-gram "x y"
    // occurs 3× at 3 chars → top2_frac = 9/11 (> 0.20 → fail).
    // doc 2: 40 distinct tokens — every n-gram unique, all dup fracs 0,
    // top fracs tiny → pass.
    // doc 3: one token — no n-grams at all → all-zero fractions, pass
    // (the left-join totality path).
    val clean = (0 until 40).map(i => s"t$i").mkString(" ")
    val d = Seq(
      (1L, "x y x y x y"), (2L, clean), (3L, "solo")
    ).toDF("doc_id", "text").withColumn(
      "n_chars", org.apache.spark.sql.functions.length($"text"))
    val rows = TextOps.gopherRepetition(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = rows(1L)
    assert(r1.getAs[Double]("top2_frac") == 9.0 / 11.0)
    // top 3-gram: "x y x" (5 chars) × 2 vs "y x y" × 2 → 10 chars
    assert(r1.getAs[Double]("top3_frac") == 10.0 / 11.0)
    // 5-grams: "x y x y x" ×1, "y x y x y" ×1 → no duplicates
    assert(r1.getAs[Double]("dup5_frac") == 0.0)
    assert(!r1.getAs[Boolean]("rep_pass"))
    val r2 = rows(2L)
    assert(r2.getAs[Double]("dup5_frac") == 0.0 &&
      r2.getAs[Double]("dup10_frac") == 0.0)
    assert(r2.getAs[Boolean]("rep_pass"))
    val r3 = rows(3L)
    assert(r3.getAs[Double]("top2_frac") == 0.0 &&
      r3.getAs[Double]("dup10_frac") == 0.0)
    assert(r3.getAs[Boolean]("rep_pass"))
  }

  test("gopher repetition: dup n-gram chars count every duplicated occurrence") {
    // "spam spam spam spam spam spam" — 6 tokens, 29 chars. 5-gram
    // "spam spam spam spam spam" (24 chars) occurs 2× → dup5 = 48/29.
    // 2-gram "spam spam" (9 chars) × 5 → top2 = 45/29.
    val d = Seq((7L, "spam spam spam spam spam spam"))
      .toDF("doc_id", "text").withColumn(
        "n_chars", org.apache.spark.sql.functions.length($"text"))
    val r = TextOps.gopherRepetition(d).collect()(0)
    assert(r.getAs[Double]("top2_frac") == 45.0 / 29.0)
    assert(r.getAs[Double]("dup5_frac") == 48.0 / 29.0)
    assert(r.getAs[Double]("dup6_frac") == 0.0) // only one 6-gram
    assert(!r.getAs[Boolean]("rep_pass"))
  }

  test("NFC composes decomposed accents and is idempotent on composed text") {
    import graft.functions.VecFunctions.nfcNormalize
    import org.apache.spark.sql.functions.{col, length, lit}
    // "café" (5 code points, decomposed) → "café" (4, composed)
    val d = Seq((0L, "café"), (1L, "café"), (2L, "plain"))
      .toDF("doc_id", "raw")
    val got = d.select(col("doc_id"), nfcNormalize(col("raw")).as("n"),
        length(nfcNormalize(col("raw"))).as("len"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(got(0L) == ("café", 4)) // composed to U+00E9
    assert(got(1L) == ("café", 4)) // idempotent
    assert(got(2L) == ("plain", 5))     // ASCII untouched
    // the registered query counts the injected marks: every 'e' in the
    // decomposed variant composes back, so len_nfd - len_nfc = #e
    val q = TextOps.nfcNormalized(
      Seq((9L, "tree level")).toDF("doc_id", "text")).collect()(0)
    assert(q.getInt(1) - q.getInt(2) == 4) // "tree level" has 4 e's
  }

  test("Wilson lower bound ranks a large consistent source over a tiny perfect one") {
    // good: passes the gopher gate (the fixture from the gopher tests);
    // bad: too short. Source A: 2/2 pass; source B: 30/32 pass — the
    // lower bound must prefer B's volume over A's perfect-but-tiny rate.
    val good = "the quick brown fox jumps over the lazy dog and runs " +
      "to the old stone bridge near the quiet river bank every day"
    val bad = "x"
    val rows =
      (0 until 2).map(i => (i.toLong, good, "en", "A", 1L)) ++
      (2 until 32).map(i => (i.toLong, good, "en", "B", 1L)) ++
      (32 until 34).map(i => (i.toLong, bad, "en", "B", 1L))
    val docs = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = TextOps.sourceQualityWilson(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap
    val (na, ka, lbA) = m("A"); val (nb, kb, lbB) = m("B")
    assert(na == 2 && ka == 2, s"A=$na/$ka")
    assert(nb == 32 && kb == 30, s"B=$nb/$kb")
    assert(lbA < lbB, s"tiny perfect A ($lbA) must not outrank B ($lbB)")
    // closed form pinned against an independent computation for A (2/2)
    val z = 1.96; val z2 = z * z; val n = 2.0; val p = 1.0
    val expected = (p + z2 / (2 * n) - z * math.sqrt((p * (1 - p) + z2 / (4 * n)) / n)) / (1 + z2 / n)
    assert(math.abs(lbA - expected) < 1e-12, s"$lbA vs $expected")
  }

  test("budget select keeps the quality-top prefix and stops at the token budget") {
    // 4 docs, quality (ttr) strictly ordered: d0 all-distinct > d1 > d2 > d3
    val docs = Seq(
      (0L, "alpha beta gamma delta"),                 // ttr 1.00, 4 tokens
      (1L, "red blue green red"),                     // ttr 0.75, 4
      (2L, "one two one two"),                        // ttr 0.50, 4
      (3L, "spam spam spam spam")                     // ttr 0.25, 4
    ).toDF("doc_id", "text")
    // total 16 tokens → budget 8 → exactly d0 + d1 fit
    val got = TextOps.budgetSelect(docs).collect()
      .map(r => (r.getLong(0), r.getLong(3))).sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(0L, 1L), s"got ${got.toSeq}")
    assert(got.map(_._2).toSeq == Seq(4L, 8L)) // running totals
    // the doc-sized relation never joins data-vs-data: the only joins
    // are the broadcast of Prefix's |partitions|-row offsets and the
    // 1-row budget (the surviving SinglePartition exchange feeds that
    // bounded offsets fold, not the corpus)
    val plan = TextOps.budgetSelect(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("logreg: held-out scores are deterministic, bounded, and trained") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = TextOps.logregScore(docs, iters = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    // only the held-out parity split is scored
    assert(a.length == 250 && a.forall(_._1 % 2 == 1))
    // probabilities are proper and margins moved off the w=0 init
    assert(a.forall { case (_, _, p) => p > 0.0 && p < 1.0 })
    assert(a.map(_._2).distinct.length > 1)
    assert(a.exists(_._2 != 0.0))
    // pure function of the data: a rerun is bit-identical
    val b = TextOps.logregScore(docs, iters = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }

  test("tokenizer fertility: exact ratios; multibyte text inflates bytes only") {
    import spark.implicits._
    val docs = Seq(
      (1L, "ab cd", "s1"),         // 2 tokens, 5 chars, 5 bytes
      (2L, "\u00e9\u00e9 xy", "s1") // 2 tokens, 5 chars, 7 bytes (2-byte e-acute)
    ).toDF("doc_id", "text", "source")
    val r = TextOps.tokenizerFertility(docs).collect()(0)
    assert(r.getAs[Long]("n_docs") == 2 && r.getAs[Long]("n_tokens") == 4)
    assert(r.getAs[Long]("n_chars") == 10 && r.getAs[Long]("n_bytes") == 12)
    assert(r.getAs[Double]("chars_per_token") == 2.5)
    assert(r.getAs[Double]("bytes_per_token") == 3.0)
  }

  test("ensemble gate: keep is exactly the 2-of-3 majority") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = TextOps.ensembleGate(docs).collect()
    assert(rows.length == 250 && rows.forall(_.getLong(0) % 2 == 1))
    rows.foreach { r =>
      val votes = Seq(r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))
        .count(identity)
      assert(r.getAs[Boolean]("keep") == (votes >= 2))
    }
    // the ensemble is stricter than the most permissive member alone
    val keepN = rows.count(_.getAs[Boolean]("keep"))
    val nbN = rows.count(_.getBoolean(2))
    assert(keepN <= rows.length && keepN < rows.length)
    assert(nbN >= 0) // vote counts are sane
  }
}
