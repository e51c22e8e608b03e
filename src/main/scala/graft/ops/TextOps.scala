package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators for the LLM-data-pipeline surface (builder
  * brief / SURVEY.md §2.2) over the `documents` table
  * (doc_id, text, lang, source, n_chars).
  *
  * Every operator is a declarative column pipeline (no UDFs — all
  * whole-stage-codegen'd), each with an exact DuckDB SQL twin. 100 TB
  * posture per operator is noted inline; the common theme: tokenization
  * and scoring are per-row projections (scan-parallel, zero shuffle);
  * only the explicitly-global ops (corpus token counts) shuffle, and
  * those aggregate partially map-side first.
  */
object TextOps {

  /** Lower-cased whitespace tokens, empties dropped (multiple spaces).
    * NOTE: the `filter` lambda is a CodegenFallback — use this only
    * where an array VALUE is needed (shingling); relation-level
    * tokenization should `explode(split(...))` and drop empties with a
    * row-level Filter (whole-stage codegen), see [[explodedTokens]]. */
  def tokens(text: Column): Column =
    filter(split(lower(text), " "), t => t =!= "")

  /** (doc rows) -> one row per non-empty lower-cased token, keeping
    * `keep` columns. explode + row Filter stays entirely inside
    * whole-stage codegen (no interpreted array lambda). */
  def explodedTokens(docs: DataFrame, as: String, keep: Column*): DataFrame =
    docs.select(keep :+ explode(split(lower(col("text")), " ")).as(as): _*)
      .filter(col(as) =!= "")

  private[ops] val tokensSql = "list_filter(string_split(lower(text), ' '), t -> t <> '')"

  // -------------------------------------------------------------------
  // Corpus token counts (tokenize + explode + count). One shuffle on
  // token with map-side partial agg; at 100 TB the token-id space is
  // Zipf-skewed, but partial aggregation collapses the head on the map
  // side so the shuffle carries at most |vocab| rows per partition.
  // -------------------------------------------------------------------
  def tokenCounts(docs: DataFrame): DataFrame =
    explodedTokens(docs, "token")
      .groupBy("token").agg(count(lit(1)).as("cnt"))

  val tokenCountsSql: String =
    s"""SELECT token, COUNT(*) AS cnt FROM (
       |  SELECT unnest($tokensSql) AS token FROM documents) t
       |GROUP BY token""".stripMargin

  // -------------------------------------------------------------------
  // Per-document quality scoring: pure projection, zero shuffle. All
  // four token statistics come from ONE single-pass native codegen
  // expression (org.apache.spark.sql.graft.TextStats) — the previous
  // formulation spent four CodegenFallback higher-order lambdas
  // (filter/aggregate/array_contains/array_distinct) per row, ~8x
  // slower and outside whole-stage codegen. Ratios are IEEE divisions
  // of exact integer counts → bit-identical across engines (the DuckDB
  // twin below is unchanged).
  // -------------------------------------------------------------------
  private[ops] val stopwords = Seq("a", "the", "and", "of", "to", "in", "is")

  def qualityScore(docs: DataFrame): DataFrame = {
    val st = graft.functions.VecFunctions.textStats(lower(col("text")), stopwords)
    // two-step select: TextStats is non-cheap, so CollapseProject keeps
    // the intermediate — the kernel runs once per row, not four times
    docs.select(col("doc_id"), col("text"), st.as("st"))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        col("st").getItem(0).as("n_tokens"),
        (col("st").getItem(1).cast("double") / col("st").getItem(0)).as("avg_token_len"),
        (col("st").getItem(2).cast("double") / col("st").getItem(0)).as("stopword_ratio"),
        (col("st").getItem(3).cast("double") / col("st").getItem(0)).as("type_token_ratio"))
  }

  val qualityScoreSql: String = {
    val stops = stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(list_reduce(list_prepend(0, list_transform(toks, t -> CAST(length(t) AS BIGINT))), (a, b) -> a + b) AS DOUBLE)
       |    / len(toks) AS avg_token_len,
       |  CAST(len(list_filter(toks, t -> list_contains($stops, t))) AS DOUBLE)
       |    / len(toks) AS stopword_ratio,
       |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS type_token_ratio
       |FROM (SELECT doc_id, text, $tokensSql AS toks FROM documents) d""".stripMargin
  }

  // -------------------------------------------------------------------
  // Readability scoring (Flesch reading-ease + Flesch-Kincaid grade,
  // Kincaid et al. 1975): the classic quality-filter feature a curation
  // pipeline bins documents by (too-hard and too-easy tails are both
  // suspect for pretraining). Syllables use the standard vowel-group
  // heuristic (runs of [aeiouy] in the lower-cased text — word
  // boundaries split groups, so the corpus-level regexp count equals
  // the per-word sum); sentences count [.!?]+ runs, floored at 1.
  // Pure projection — three regexp counts per row, zero shuffle; the
  // two scores are IEEE chains over exact integer counts, written as
  // the same expression tree in both engines (no libm).
  // -------------------------------------------------------------------
  def readability(docs: DataFrame): DataFrame = {
    val w = size(tokens(col("text"))).cast("long")
    val s = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1)).cast("long")
    val syl = regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
    docs.select(col("doc_id"), w.as("n_words"), s.as("n_sentences"),
        syl.as("n_syllables"))
      .filter(col("n_words") > 0)
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        (lit(206.835) - lit(1.015) * (col("n_words").cast("double") / col("n_sentences").cast("double"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words").cast("double")))
          .as("reading_ease"),
        (lit(0.39) * (col("n_words").cast("double") / col("n_sentences").cast("double"))
          + lit(11.8) * (col("n_syllables").cast("double") / col("n_words").cast("double"))
          - lit(15.59)).as("fk_grade"))
  }

  val readabilitySql: String = {
    import graft.functions.PortableMath.dlitE
    s"""SELECT doc_id, n_words, n_sentences, n_syllables,
       |  ${dlitE(206.835)} - ${dlitE(1.015)} * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
       |    - ${dlitE(84.6)} * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS reading_ease,
       |  ${dlitE(0.39)} * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
       |    + ${dlitE(11.8)} * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
       |    - ${dlitE(15.59)} AS fk_grade
       |FROM (SELECT doc_id,
       |    CAST(len($tokensSql) AS BIGINT) AS n_words,
       |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
       |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
       |  FROM documents) d
       |WHERE n_words > 0""".stripMargin
  }

  // -------------------------------------------------------------------
  // Gopher-style quality gate (Rae et al. 2021 §A1.1, thresholds
  // re-fit to this corpus's scale): docs survive only if token count,
  // mean token length, stopword presence, and lexical diversity
  // (type/token ratio — the repetition proxy) all land in their
  // plausible-natural-text bands. Same single-pass TextStats kernel as
  // qualityScore → a pure scan-stage filter, zero shuffle; at 100 TB
  // this is the cheapest gate in the curation funnel and runs first.
  // -------------------------------------------------------------------
  def gopherFilter(
      docs: DataFrame,
      minTokens: Long = 20L, maxTokens: Long = 80L,
      minAvgLen: Double = 3.0, maxAvgLen: Double = 10.0,
      minStopRatio: Double = 0.02, minTtr: Double = 0.35): DataFrame = {
    val st = graft.functions.VecFunctions.textStats(lower(col("text")), stopwords)
    docs.select(col("doc_id"), st.as("st"))
      .select(
        col("doc_id"),
        col("st").getItem(0).as("n_tokens"),
        (col("st").getItem(1).cast("double") / col("st").getItem(0)).as("avg_token_len"),
        (col("st").getItem(2).cast("double") / col("st").getItem(0)).as("stopword_ratio"),
        (col("st").getItem(3).cast("double") / col("st").getItem(0)).as("type_token_ratio"))
      .filter(
        col("n_tokens").between(minTokens, maxTokens) &&
        col("avg_token_len").between(minAvgLen, maxAvgLen) &&
        col("stopword_ratio") >= minStopRatio &&
        col("type_token_ratio") >= minTtr)
  }

  def gopherFilterSql(
      minTokens: Long = 20L, maxTokens: Long = 80L,
      minAvgLen: Double = 3.0, maxAvgLen: Double = 10.0,
      minStopRatio: Double = 0.02, minTtr: Double = 0.35): String = {
    val stops = stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH m AS (SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(list_reduce(list_prepend(0, list_transform(toks, t -> CAST(length(t) AS BIGINT))), (a, b) -> a + b) AS DOUBLE)
       |    / len(toks) AS avg_token_len,
       |  CAST(len(list_filter(toks, t -> list_contains($stops, t))) AS DOUBLE)
       |    / len(toks) AS stopword_ratio,
       |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS type_token_ratio
       |FROM (SELECT doc_id, $tokensSql AS toks FROM documents) d)
       |SELECT * FROM m
       |WHERE n_tokens BETWEEN $minTokens AND $maxTokens
       |  AND avg_token_len BETWEEN $minAvgLen AND $maxAvgLen
       |  AND stopword_ratio >= $minStopRatio
       |  AND type_token_ratio >= $minTtr""".stripMargin
  }

  // -------------------------------------------------------------------
  // Source curation by Wilson lower bound: per `source`, the share of
  // docs passing the Gopher gate with the 95% Wilson score interval's
  // LOWER bound — the statistically sound way to rank sources of very
  // different volumes (a 10-doc source at 100% must not outrank a
  // 100k-doc source at 95%; raw pass-rate does exactly that). The gate
  // is the same single-pass TextStats scan projection as gopherFilter
  // (zero extra shuffle), the aggregate is one map-side-combined
  // source-keyed count pair, and the bound is closed-form IEEE
  // arithmetic over the exact integer (k, n) — written as the same
  // operation tree in both engines, so the compare is hash-exact.
  // -------------------------------------------------------------------
  def sourceQualityWilson(
      docs: DataFrame,
      minTokens: Long = 20L, maxTokens: Long = 80L,
      minAvgLen: Double = 3.0, maxAvgLen: Double = 10.0,
      minStopRatio: Double = 0.02, minTtr: Double = 0.35): DataFrame = {
    val st = graft.functions.VecFunctions.textStats(lower(col("text")), stopwords)
    val gated = docs.select(col("source"), st.as("st"))
      .select(col("source"),
        (col("st").getItem(0).between(minTokens, maxTokens) &&
          (col("st").getItem(1).cast("double") / col("st").getItem(0))
            .between(minAvgLen, maxAvgLen) &&
          (col("st").getItem(2).cast("double") / col("st").getItem(0))
            >= minStopRatio &&
          (col("st").getItem(3).cast("double") / col("st").getItem(0))
            >= minTtr).cast("long").as("pass"))
    val agg = gated.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("pass")).as("n_pass"))
    val nD = col("n_docs").cast("double")
    val kD = col("n_pass").cast("double")
    val z = lit(1.96)
    val z2 = z * z
    val phat = kD / nD
    val center = phat + z2 / (lit(2.0) * nD)
    val margin = z * sqrt((phat * (lit(1.0) - phat) + z2 / (lit(4.0) * nD)) / nD)
    val denom = lit(1.0) + z2 / nD
    agg.select(col("source"), col("n_docs"), col("n_pass"),
      phat.as("pass_rate"),
      ((center - margin) / denom).as("wilson_lb"))
  }

  def sourceQualityWilsonSql(
      minTokens: Long = 20L, maxTokens: Long = 80L,
      minAvgLen: Double = 3.0, maxAvgLen: Double = 10.0,
      minStopRatio: Double = 0.02, minTtr: Double = 0.35): String = {
    val stops = stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH m AS (SELECT source,
       |  CASE WHEN len(toks) BETWEEN $minTokens AND $maxTokens
       |    AND CAST(list_reduce(list_prepend(0, list_transform(toks, t -> CAST(length(t) AS BIGINT))), (a, b) -> a + b) AS DOUBLE)
       |      / len(toks) BETWEEN $minAvgLen AND $maxAvgLen
       |    AND CAST(len(list_filter(toks, t -> list_contains($stops, t))) AS DOUBLE)
       |      / len(toks) >= $minStopRatio
       |    AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= $minTtr
       |  THEN 1 ELSE 0 END AS pass
       |FROM (SELECT source, $tokensSql AS toks FROM documents) d),
       |a AS (SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(pass) AS BIGINT) AS n_pass FROM m GROUP BY source)
       |SELECT source, n_docs, n_pass,
       |  CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE) AS pass_rate,
       |  ((CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |      + (1.96 * 1.96) / (2.0 * CAST(n_docs AS DOUBLE)))
       |    - 1.96 * SQRT((CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |        * (1.0 - CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE))
       |        + (1.96 * 1.96) / (4.0 * CAST(n_docs AS DOUBLE)))
       |      / CAST(n_docs AS DOUBLE)))
       |  / (1.0 + (1.96 * 1.96) / CAST(n_docs AS DOUBLE)) AS wilson_lb
       |FROM a""".stripMargin
  }

  // -------------------------------------------------------------------
  // Token-budget corpus selection: greedy highest-quality-first intake
  // until a token budget is exhausted — the canonical "we can afford B
  // training tokens, which documents make the cut" decision. Quality is
  // the lexical-diversity ratio from the single-pass TextStats kernel;
  // the budget is half the corpus's total tokens (a 1-row reduction
  // broadcast back); the cumulative token count over the global
  // (quality DESC, doc_id) order runs through Prefix.runningSum — range
  // exchange + per-partition fold + broadcast offsets, never a
  // SinglePartition window — so the selection scales with the corpus.
  // -------------------------------------------------------------------
  def budgetSelect(docs: DataFrame): DataFrame = {
    val st = graft.functions.VecFunctions.textStats(lower(col("text")), stopwords)
    val base = docs.select(col("doc_id"), st.as("st"))
      .select(col("doc_id"),
        col("st").getItem(0).as("n_tokens"),
        (col("st").getItem(3).cast("double") / col("st").getItem(0)).as("ttr"))
    val budget = base.agg(sum(col("n_tokens")).as("tot"))
      .select(expr("tot div 2").as("budget"))
    val cum = Prefix.runningSum(base,
      Seq(col("ttr").desc, col("doc_id").asc),
      col("n_tokens"), "cum_tokens")
    cum.crossJoin(broadcast(budget))
      .filter(col("cum_tokens") <= col("budget"))
      .select(col("doc_id"), col("n_tokens"), col("ttr"), col("cum_tokens"))
  }

  val budgetSelectSql: String =
    s"""WITH m AS (SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
       |  FROM (SELECT doc_id, $tokensSql AS toks FROM documents) d),
       |b AS (SELECT SUM(n_tokens) // 2 AS budget FROM m),
       |c AS (SELECT doc_id, n_tokens, ttr,
       |  CAST(SUM(n_tokens) OVER (ORDER BY ttr DESC, doc_id) AS BIGINT)
       |    AS cum_tokens FROM m)
       |SELECT doc_id, n_tokens, ttr, cum_tokens
       |FROM c, b WHERE cum_tokens <= budget""".stripMargin

  // -------------------------------------------------------------------
  // Language ID (n-gram/marker heuristic): score each doc against a
  // fixed per-language marker lexicon, pick the argmax with a
  // deterministic (score DESC, lang ASC) tie-break. The lexicon is an
  // inline k-row relation (broadcast join at any scale); the per-doc
  // argmax is a window over ~|langs| rows per doc.
  // -------------------------------------------------------------------
  private[ops] val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "a", "to", "in", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "nicht", "mit", "von"),
    "es" -> Seq("el", "la", "de", "que", "y", "es", "en", "un", "por", "con"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un", "que", "pour", "dans", "ne"),
    "zh" -> Seq("de5", "shi4", "bu4", "le5", "wo3", "ni3", "ta1", "zai4", "you3", "he2"))

  def langId(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val markers = langMarkers
      .flatMap { case (l, ws) => ws.map(w => (l, w)) }.toDF("cand_lang", "marker")
    // no empties filter needed: "" can never match a marker, so the
    // inner join drops it — the explode+join stays fully codegen'd
    val tok = docs.select(col("doc_id"),
      explode(split(lower(col("text")), " ")).as("token"))
    val scores = tok.join(broadcast(markers), tok("token") === markers("marker"))
      .groupBy("doc_id", "cand_lang").agg(count(lit(1)).as("score"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("cand_lang").asc)
    scores.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("cand_lang").as("pred_lang"), col("score"))
  }

  val langIdSql: String = {
    val rows = langMarkers
      .flatMap { case (l, ws) => ws.map(w => s"('$l', '$w')") }.mkString(", ")
    s"""WITH markers(cand_lang, marker) AS (VALUES $rows),
       |tok AS (SELECT doc_id, unnest($tokensSql) AS token FROM documents),
       |scores AS (
       |  SELECT t.doc_id, m.cand_lang, COUNT(*) AS score
       |  FROM tok t JOIN markers m ON t.token = m.marker
       |  GROUP BY t.doc_id, m.cand_lang)
       |SELECT doc_id, cand_lang AS pred_lang, score FROM (
       |  SELECT doc_id, cand_lang, score,
       |         ROW_NUMBER() OVER (PARTITION BY doc_id
       |           ORDER BY score DESC, cand_lang ASC) AS rn
       |  FROM scores) s WHERE rn = 1""".stripMargin
  }

  // -------------------------------------------------------------------
  // Mixed-language (code-switching) detection: the doc-level langid
  // call is wrong for documents that interleave languages, and
  // pretraining pipelines quarantine those separately (CCNet et al.
  // run langid per PARAGRAPH for exactly this reason). Here: the same
  // marker-lexicon argmax applied per [.!?]+ sentence, then a per-doc
  // census — sentence count, distinct predicted languages, the
  // majority language and its share, and a `mixed` flag (≥2 languages
  // and majority share ≤ 0.8). Sentences with no marker hit predict
  // 'und' (the langIdEval quarantine convention).
  //
  // Shapes: sentence explode + broadcast marker join (codegen),
  // argmax over ~|langs| rows per sentence, then two doc-keyed aggs —
  // everything after the token join is sentence- or doc-sized. The
  // mixed flag compares an int-ratio against a literal: deterministic
  // in both engines.
  // -------------------------------------------------------------------
  def langMix(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val markers = langMarkers
      .flatMap { case (l, ws) => ws.map(w => (l, w)) }.toDF("cand_lang", "marker")
    val sents = docs.select(col("doc_id"),
        posexplode(split(lower(col("text")), "[.!?]+")).as(Seq("sidx", "raw")))
      .select(col("doc_id"), col("sidx"), trim(col("raw")).as("sent"))
      .filter(col("sent") =!= "")
    val stok = sents.select(col("doc_id"), col("sidx"),
      explode(split(col("sent"), " ")).as("token"))
    val scores = stok.join(broadcast(markers), stok("token") === markers("marker"))
      .groupBy("doc_id", "sidx", "cand_lang").agg(count(lit(1)).as("score"))
    val wArg = Window.partitionBy("doc_id", "sidx")
      .orderBy(col("score").desc, col("cand_lang").asc)
    val pred = scores.withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("sidx"), col("cand_lang").as("pl"))
    val perLang = sents.select("doc_id", "sidx")
      .join(pred, Seq("doc_id", "sidx"), "left")
      .select(col("doc_id"), coalesce(col("pl"), lit("und")).as("pred_lang"))
      .groupBy("doc_id", "pred_lang").agg(count(lit(1)).as("cnt"))
    val wTop = Window.partitionBy("doc_id")
      .orderBy(col("cnt").desc, col("pred_lang").asc)
    perLang
      .withColumn("n_sents", sum("cnt").over(Window.partitionBy("doc_id")))
      .withColumn("n_langs", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("n_sents").cast("long").as("n_sents"),
        col("n_langs").cast("long").as("n_langs"),
        col("pred_lang").as("top_lang"),
        (col("cnt").cast("double") / col("n_sents").cast("double")).as("top_share"),
        (col("n_langs") >= 2 &&
          (col("cnt").cast("double") / col("n_sents").cast("double")) <= lit(0.8))
          .as("mixed"))
  }

  val langMixSql: String = {
    val rows = langMarkers
      .flatMap { case (l, ws) => ws.map(w => s"('$l', '$w')") }.mkString(", ")
    s"""WITH markers(cand_lang, marker) AS (VALUES $rows),
       |sents AS (
       |  SELECT doc_id, sidx, trim(raw) AS sent FROM (
       |    SELECT doc_id,
       |      unnest(generate_series(1, len(parts))) AS sidx,
       |      unnest(parts) AS raw
       |    FROM (SELECT doc_id,
       |        regexp_split_to_array(lower(text), '[.!?]+') AS parts
       |      FROM documents) p) q
       |  WHERE trim(raw) <> ''),
       |stok AS (SELECT doc_id, sidx, unnest(string_split(sent, ' ')) AS token
       |  FROM sents),
       |scores AS (
       |  SELECT t.doc_id, t.sidx, m.cand_lang, COUNT(*) AS score
       |  FROM stok t JOIN markers m ON t.token = m.marker
       |  GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT doc_id, sidx, cand_lang AS pl FROM (
       |    SELECT doc_id, sidx, cand_lang,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id, sidx
       |        ORDER BY score DESC, cand_lang ASC) AS rn
       |    FROM scores) s WHERE rn = 1),
       |perlang AS (
       |  SELECT s.doc_id, COALESCE(p.pl, 'und') AS pred_lang, COUNT(*) AS cnt
       |  FROM sents s LEFT JOIN pred p
       |    ON s.doc_id = p.doc_id AND s.sidx = p.sidx
       |  GROUP BY 1, 2),
       |doc AS (
       |  SELECT doc_id, pred_lang, cnt,
       |    SUM(cnt) OVER (PARTITION BY doc_id) AS n_sents,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS n_langs,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY cnt DESC, pred_lang ASC) AS rn
       |  FROM perlang)
       |SELECT doc_id, CAST(n_sents AS BIGINT) AS n_sents,
       |  CAST(n_langs AS BIGINT) AS n_langs, pred_lang AS top_lang,
       |  CAST(cnt AS DOUBLE) / CAST(n_sents AS DOUBLE) AS top_share,
       |  n_langs >= 2 AND
       |    CAST(cnt AS DOUBLE) / CAST(n_sents AS DOUBLE) <= 0.8e0 AS mixed
       |FROM doc WHERE rn = 1""".stripMargin
  }

  // -------------------------------------------------------------------
  // Language-ID evaluation against the gold `lang` column: per-language
  // support / prediction counts / hits and the derived precision,
  // recall, F1 (NULL on degenerate denominators, the nbConfusion
  // convention). Docs the marker heuristic cannot place (no marker hit
  // at all) predict 'und' — they count against recall of their gold
  // language and build the 'und' prediction row, exactly how a
  // production langid gate would quarantine them. Shapes: one left
  // join of per-doc gold onto the langid argmax, then two
  // language-keyed aggs full-outer-joined on the (tiny) language key —
  // every relation crossing the wire after the scan is |langs|-sized.
  // -------------------------------------------------------------------
  def langIdEval(docs: DataFrame): DataFrame = {
    val perDoc = docs.select(col("doc_id"), col("lang"))
      .join(langId(docs).select(col("doc_id"), col("pred_lang")), Seq("doc_id"), "left")
      .select(col("lang"), coalesce(col("pred_lang"), lit("und")).as("pred"))
    val gold = perDoc.groupBy("lang").agg(
      count(lit(1)).as("n_gold"),
      sum(when(col("pred") === col("lang"), 1L).otherwise(0L)).as("n_hit"))
    val pred = perDoc.groupBy(col("pred").as("lang"))
      .agg(count(lit(1)).as("n_pred"))
    def ratio(num: Column, den: Column) =
      when(den === 0 || den.isNull, lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
    gold.join(pred, Seq("lang"), "full_outer")
      .select(col("lang"),
        coalesce(col("n_gold"), lit(0L)).as("n_gold"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        ratio(coalesce(col("n_hit"), lit(0L)), col("n_pred")).as("precision"),
        ratio(coalesce(col("n_hit"), lit(0L)), col("n_gold")).as("recall"),
        ratio(coalesce(col("n_hit"), lit(0L)) * 2,
          coalesce(col("n_gold"), lit(0L)) + coalesce(col("n_pred"), lit(0L)))
          .as("f1"))
  }

  def langIdEvalSql: String = {
    val rows = langMarkers
      .flatMap { case (l, ws) => ws.map(w => s"('$l', '$w')") }.mkString(", ")
    s"""WITH markers(cand_lang, marker) AS (VALUES $rows),
       |tok AS (SELECT doc_id, unnest($tokensSql) AS token FROM documents),
       |scores AS (
       |  SELECT t.doc_id, m.cand_lang, COUNT(*) AS score
       |  FROM tok t JOIN markers m ON t.token = m.marker
       |  GROUP BY t.doc_id, m.cand_lang),
       |pred AS (SELECT doc_id, cand_lang AS pred_lang FROM (
       |  SELECT doc_id, cand_lang,
       |         ROW_NUMBER() OVER (PARTITION BY doc_id
       |           ORDER BY score DESC, cand_lang ASC) AS rn
       |  FROM scores) s WHERE rn = 1),
       |perdoc AS (
       |  SELECT d.lang, COALESCE(p.pred_lang, 'und') AS pred
       |  FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id),
       |gold AS (SELECT lang, COUNT(*) AS n_gold,
       |    CAST(SUM(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_hit
       |  FROM perdoc GROUP BY lang),
       |prd AS (SELECT pred AS lang, COUNT(*) AS n_pred
       |  FROM perdoc GROUP BY pred)
       |SELECT COALESCE(g.lang, p.lang) AS lang,
       |  COALESCE(g.n_gold, 0) AS n_gold,
       |  COALESCE(p.n_pred, 0) AS n_pred,
       |  COALESCE(g.n_hit, 0) AS n_hit,
       |  CASE WHEN p.n_pred IS NULL OR p.n_pred = 0 THEN NULL
       |    ELSE CAST(COALESCE(g.n_hit, 0) AS DOUBLE) / CAST(p.n_pred AS DOUBLE)
       |  END AS precision,
       |  CASE WHEN g.n_gold IS NULL OR g.n_gold = 0 THEN NULL
       |    ELSE CAST(COALESCE(g.n_hit, 0) AS DOUBLE) / CAST(g.n_gold AS DOUBLE)
       |  END AS recall,
       |  CASE WHEN COALESCE(g.n_gold, 0) + COALESCE(p.n_pred, 0) = 0 THEN NULL
       |    ELSE CAST(COALESCE(g.n_hit, 0) * 2 AS DOUBLE)
       |      / CAST(COALESCE(g.n_gold, 0) + COALESCE(p.n_pred, 0) AS DOUBLE)
       |  END AS f1
       |FROM gold g FULL OUTER JOIN prd p ON g.lang = p.lang""".stripMargin
  }

  // -------------------------------------------------------------------
  // Token counting: whitespace tokens + a BPE-ish regex segmentation
  // (letter runs | digit runs | single non-alnum marks). Pure
  // projection, zero shuffle.
  // -------------------------------------------------------------------
  private val bpeIshPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      graft.functions.VecFunctions.textStats(lower(col("text")), Nil)
        .getItem(0).as("ws_tokens"),
      size(regexp_extract_all(lower(col("text")), lit(bpeIshPattern), lit(0)))
        .cast("long").as("bpe_ish_tokens"))

  val tokenStatsSql: String =
    s"""SELECT doc_id,
       |  CAST(len($tokensSql) AS BIGINT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(lower(text), '$bpeIshPattern')) AS BIGINT) AS bpe_ish_tokens
       |FROM documents""".stripMargin

  // -------------------------------------------------------------------
  // Document fingerprint: 31-base polynomial rolling hash over the
  // character codes, mod 1e9+7 — a deterministic content hash usable as
  // an exact-dedup key. Native codegen expression (StringFingerprint):
  // the earlier `aggregate(split(text,''), ...)` higher-order fold was
  // CodegenFallback — interpreted per row AND it broke the hosting
  // Project's whole-stage-codegen span, in the hot path of both
  // pipeline_curate and dedup_fingerprint. Same left-to-right fold, so
  // values (and the DuckDB list_reduce twin) are unchanged. Pure
  // projection, zero shuffle.
  // -------------------------------------------------------------------
  private val FpMod = 1000000007L

  def fingerprint(text: Column): Column =
    graft.functions.VecFunctions.docFingerprint(text)

  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprint(col("text")).as("fp"))

  val fingerprintsSql: String =
    s"""SELECT doc_id,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
       |    (a, b) -> (a * 31 + b) % $FpMod) AS fp
       |FROM documents""".stripMargin

  // -------------------------------------------------------------------
  // Unicode NFC normalization (UAX #15 canonical composition) — the
  // standard first cleaning step for web/OCR corpora where accents
  // arrive decomposed (e + U+0301 vs é): normalize before hashing or
  // the same visible text dedups to different keys. The synthetic
  // corpus is pure ASCII (NFC = identity), so the query first derives a
  // DECOMPOSED variant (every 'e' → 'e' + combining acute) and then
  // composes it back — exercising real multi-code-point composition on
  // both engines (JDK java.text.Normalizer here, utf8proc
  // nfc_normalize in the twin; both implement UAX #15, é = U+00E9).
  // Pure zero-shuffle projection via the codegen NfcNormalize
  // expression; len_nfd − len_nfc counts the composed mark pairs, and
  // the rolling-hash fingerprint of the NFC text pins every composed
  // code point exactly (ascii(é) = 233 = the code point in DuckDB).
  // -------------------------------------------------------------------
  def nfcNormalized(docs: DataFrame): DataFrame = {
    import graft.functions.VecFunctions.nfcNormalize
    val dec = replace(col("text"), lit("e"), lit("é"))
    val nfc = nfcNormalize(dec)
    docs.select(col("doc_id"),
      length(dec).as("len_nfd"),
      length(nfc).as("len_nfc"),
      fingerprint(nfc).as("fp_nfc"))
  }

  val nfcNormalizedSql: String =
    s"""SELECT doc_id,
       |  CAST(length(dec) AS INT) AS len_nfd,
       |  CAST(length(nfc) AS INT) AS len_nfc,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(split(nfc, ''), c -> CAST(ascii(c) AS BIGINT))),
       |    (a, b) -> (a * 31 + b) % $FpMod) AS fp_nfc
       |FROM (SELECT doc_id, dec, nfc_normalize(dec) AS nfc FROM (
       |  SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS dec
       |  FROM documents) d) n""".stripMargin

  // -------------------------------------------------------------------
  // Repetition statistics (the Gopher-style repetition quality gates,
  // Rae et al. 2021 §A1.1): fraction of mass in the most frequent
  // token, in the most frequent bigram, and in bigrams occurring more
  // than once. Boilerplate and degenerate generations score high;
  // curation drops docs above a threshold. Counting is per-(doc, gram)
  // keyed aggregation — partial aggs collapse repeats map-side, the
  // per-doc reduction and the final join all share the doc_id
  // partitioning, so the explode never amplifies the shuffle beyond
  // distinct grams per doc.
  // -------------------------------------------------------------------
  def repetitionStats(docs: DataFrame): DataFrame = {
    val ucnt = explodedTokens(docs, "token", col("doc_id"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
    val uagg = ucnt.groupBy("doc_id").agg(
      (max("c").cast("double") / sum("c")).as("top_token_frac"))
    // docs with <2 tokens have no bigrams: filtered here, re-attached
    // as 0.0 by the left join (Spark's sequence(1, 0) would descend —
    // DuckDB's generate_series is empty — so the guard also keeps the
    // two engines aligned)
    val bi = docs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("tk")) - 1),
        i => array_join(slice(col("tk"), i, lit(2)), " "))).as("bigram"))
    val bagg = bi.groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        (max("c").cast("double") / sum("c")).as("top_bigram_frac"),
        (sum(when(col("c") >= 2, col("c")).otherwise(0L)).cast("double") / sum("c"))
          .as("dup_bigram_frac"))
    uagg.join(bagg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("top_token_frac"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"),
        coalesce(col("dup_bigram_frac"), lit(0.0)).as("dup_bigram_frac"))
  }

  val repetitionStatsSql: String =
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
       |uni AS (SELECT doc_id, unnest(tk) AS token FROM tk),
       |ucnt AS (SELECT doc_id, token, COUNT(*) AS c FROM uni GROUP BY doc_id, token),
       |uagg AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_token_frac
       |         FROM ucnt GROUP BY doc_id),
       |bi AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
       |         i -> array_to_string(list_slice(tk, i, i + 1), ' '))) AS bigram
       |       FROM tk WHERE len(tk) >= 2),
       |bcnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bi GROUP BY doc_id, bigram),
       |bagg AS (SELECT doc_id,
       |    CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac,
       |    CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE) / SUM(c)
       |      AS dup_bigram_frac
       |  FROM bcnt GROUP BY doc_id)
       |SELECT u.doc_id, u.top_token_frac,
       |  COALESCE(b.top_bigram_frac, 0.0) AS top_bigram_frac,
       |  COALESCE(b.dup_bigram_frac, 0.0) AS dup_bigram_frac
       |FROM uagg u LEFT JOIN bagg b ON u.doc_id = b.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Full Gopher Table-A1 repetition filter (Rae et al. 2021, "Scaling
  // Language Models: ... Gopher", App. A1.1; also Dolma/RefinedWeb): the
  // CHARACTER-fraction family over word n-grams —
  //   top-n-gram char fraction  (n = 2..4): occurrences of the most
  //     frequent n-gram × its char length, over the doc's char count;
  //   dup-n-gram char fraction  (n = 5..10): chars in n-grams occurring
  //     ≥ 2×, counted with multiplicity, over the doc's char count —
  // with the paper's thresholds (0.20/0.18/0.16, 0.15..0.10) and a
  // per-doc pass verdict. Complements [[repetitionStats]] (token-count
  // fractions for unigram/bigram) and [[gopherFilter]] (the
  // non-repetition Gopher gates).
  //
  // Shape: a pure scan-stage projection, ZERO shuffle — every n-gram of
  // a doc lives inside its own row, so the stats come from one native
  // codegen kernel call per row (org.apache.spark.sql.graft
  // .GramRepStats: build each n-gram stream, sort, run-length scan;
  // same single-pass pattern as the TextStats quality kernel). The
  // first cut exploded (doc, n, gram) through two keyed aggregates —
  // 7.7 s at sf0.1 for what is per-row arithmetic; the kernel removes
  // the gram exchange entirely, which at 100 TB is the difference
  // between a free curation gate and a corpus-sized string shuffle.
  // Everything is exact integer char arithmetic until the final IEEE
  // division by n_chars, so the relational DuckDB twin (explode →
  // GROUP BY (doc, n, gram) — same values by construction) stays
  // hash-exact.
  // -------------------------------------------------------------------
  private val TopGramThresholds = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
  private val DupGramThresholds =
    Map(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)

  def gopherRepetition(docs: DataFrame): DataFrame = {
    val st = graft.functions.VecFunctions.gramRepStats(lower(col("text")))
    val based = docs.select(col("doc_id"), col("n_chars"), st.as("st"))
    // kernel layout: item 2(n-2) = topN_chars, item 2(n-2)+1 = dupN_chars
    def frac(idx: Int): Column =
      col("st").getItem(idx).cast("double") / col("n_chars").cast("double")
    val topFracs = TopGramThresholds.keys.toSeq.sorted
      .map(n => frac(2 * (n - 2)).as(s"top${n}_frac"))
    val dupFracs = DupGramThresholds.keys.toSeq.sorted
      .map(n => frac(2 * (n - 2) + 1).as(s"dup${n}_frac"))
    val pass = (
      TopGramThresholds.toSeq.sortBy(_._1).map { case (n, t) =>
        frac(2 * (n - 2)) <= lit(t) } ++
      DupGramThresholds.toSeq.sortBy(_._1).map { case (n, t) =>
        frac(2 * (n - 2) + 1) <= lit(t) }).reduceLeft(_ && _)
    based.select(
      col("doc_id") +: (topFracs ++ dupFracs) :+ pass.as("rep_pass"): _*)
  }

  val gopherRepetitionSql: String = {
    val ns = 2 to 10
    val pivot = ns.flatMap { n => Seq(
      s"MAX(CASE WHEN n = $n THEN top_chars END) AS top${n}_chars",
      s"MAX(CASE WHEN n = $n THEN dup_chars END) AS dup${n}_chars")
    }.mkString(",\n|    ")
    def frac(c: String) =
      s"CAST(COALESCE(p.$c, 0) AS DOUBLE) / CAST(d.n_chars AS DOUBLE)"
    val topFracs = TopGramThresholds.keys.toSeq.sorted
      .map(n => s"${frac(s"top${n}_chars")} AS top${n}_frac").mkString(",\n|  ")
    val dupFracs = DupGramThresholds.keys.toSeq.sorted
      .map(n => s"${frac(s"dup${n}_chars")} AS dup${n}_frac").mkString(",\n|  ")
    val pass = (
      TopGramThresholds.toSeq.sortBy(_._1).map { case (n, t) =>
        s"${frac(s"top${n}_chars")} <= $t" } ++
      DupGramThresholds.toSeq.sortBy(_._1).map { case (n, t) =>
        s"${frac(s"dup${n}_chars")} <= $t" }).mkString("\n|    AND ")
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
       |g AS (SELECT doc_id, n,
       |    unnest(list_transform(generate_series(1, len(tk) - (n - 1)),
       |      i -> array_to_string(list_slice(tk, i, i + n - 1), ' '))) AS gram
       |  FROM tk CROSS JOIN (SELECT unnest(generate_series(2, 10)) AS n) ns
       |  WHERE len(tk) >= n),
       |c AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY doc_id, n, gram),
       |pn AS (SELECT doc_id, n,
       |    MAX(c * CAST(LENGTH(gram) AS BIGINT)) AS top_chars,
       |    SUM(CASE WHEN c >= 2 THEN c * CAST(LENGTH(gram) AS BIGINT)
       |        ELSE 0 END) AS dup_chars
       |  FROM c GROUP BY doc_id, n),
       |p AS (SELECT doc_id,
       |    $pivot
       |  FROM pn GROUP BY doc_id)
       |SELECT d.doc_id,
       |  $topFracs,
       |  $dupFracs,
       |  ($pass) AS rep_pass
       |FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Vocabulary tokenization: train a top-V frequency vocab from the
  // corpus itself (rank by count DESC, token ASC — fully deterministic),
  // then map every token position to its id (OOV → 0). The top-V
  // selection is orderBy+limit → TakeOrderedAndProject (per-partition
  // top-k, never a single-partition global sort of the whole vocab);
  // only the V selected rows pass through the id-assigning window. The
  // id map then broadcasts back onto the token stream — at 100 TB the
  // corpus side stays scan-partitioned, zero data shuffle.
  // -------------------------------------------------------------------
  def tokenizeIds(docs: DataFrame, vocabSize: Int = 1024): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
    val counts = explodedTokens(docs, "token")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val byFreq = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token").asc)
    val vocab = counts
      .orderBy(col("cnt").desc, col("token").asc).limit(vocabSize)
      .withColumn("token_id", row_number().over(byFreq).cast("long"))
      .select("token", "token_id")
    toks
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("p", "token")))
      .select(col("doc_id"), (col("p") + 1).cast("long").as("pos"), col("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("token_id"), lit(0L)).as("token_id"))
  }

  def tokenizeIdsSql(vocabSize: Int = 1024): String =
    s"""WITH toks AS (SELECT doc_id, $tokensSql AS tk FROM documents),
       |counts AS (SELECT t AS token, COUNT(*) AS cnt
       |           FROM (SELECT unnest(tk) AS t FROM toks) u GROUP BY 1),
       |top AS (SELECT token, cnt FROM counts
       |        ORDER BY cnt DESC, token ASC LIMIT $vocabSize),
       |vocab AS (SELECT token,
       |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS BIGINT)
       |      AS token_id FROM top),
       |flat AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    tk[CAST(i AS INT)] AS token
       |  FROM toks CROSS JOIN unnest(generate_series(1, len(tk))) AS u(i))
       |SELECT f.doc_id, f.pos, COALESCE(v.token_id, 0) AS token_id
       |FROM flat f LEFT JOIN vocab v USING (token)""".stripMargin

  // -------------------------------------------------------------------
  // Unigram-LM quality score (the CCNet-style proxy): score each doc by
  // the mean log-probability of its tokens under the corpus's own
  // unigram distribution — boilerplate/common-token docs score high,
  // gibberish and rare-token soup score low. log p = -plog(T/cnt) is
  // computed per DISTINCT token (PortableMath keeps it bit-reproducible
  // against the oracle), the per-doc mean goes through the decimal-sum
  // discipline so token order can't shift a bit. Two aggs + one join on
  // token — all map-side combinable; the logp relation is |vocab|-sized.
  // -------------------------------------------------------------------
  def lmScore(docs: DataFrame): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val counts = explodedTokens(docs, "token", col("doc_id"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum("cnt").as("t"))
    val logp = counts.crossJoin(broadcast(tot)).select(
      col("token"),
      (lit(0.0) - graft.functions.PortableMath.plog(
        col("t").cast("double") / col("cnt").cast("double"))).as("logp"))
    explodedTokens(docs, "token", col("doc_id"))
      .join(logp, Seq("token"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        (sum(col("logp").cast(Dec)).cast("double") / count(lit(1)))
          .as("avg_logp"))
  }

  // -------------------------------------------------------------------
  // Per-document Shannon entropy of the token distribution (nats) — the
  // lexical-diversity quality signal (low entropy = template/boilerplate
  // text, a standard pretraining filter axis alongside the Gopher
  // repetition gates). H = Σ (c/n)·log(n/c) over the doc's distinct
  // tokens, all counts from ONE (doc_id, token) agg; n arrives via a
  // doc_id window on that same relation (one extra doc-keyed exchange,
  // no join), so the whole thing is two keyed shuffles on ids — text
  // never shuffles. Terms are plog products snapped to the 1e-12
  // integer grid so the per-doc sum is exact (corpusJsDivergence
  // recipe) and replays bit-identical in the oracle.
  // -------------------------------------------------------------------
  def tokenEntropy(docs: DataFrame): DataFrame = {
    import graft.functions.PortableMath.plog
    val Grid = 1.0e12
    val DecInt = org.apache.spark.sql.types.DecimalType(38, 0)
    val counts = explodedTokens(docs, "token", col("doc_id"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val wc = counts.withColumn("n", sum("c").over(byDoc))
    wc.select(
      col("doc_id"), col("n"),
      round((col("c").cast("double") / col("n").cast("double") *
        plog(col("n").cast("double") / col("c").cast("double"))) * Grid)
        .cast(DecInt).as("t"))
      .groupBy("doc_id").agg(
        max("n").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        (sum("t").cast("string").cast("double") / lit(Grid)).as("entropy"))
  }

  def tokenEntropySql: String = {
    import graft.functions.PortableMath.plogSql
    s"""WITH flat AS (SELECT doc_id, t AS token FROM (
       |    SELECT doc_id, unnest($tokensSql) AS t FROM documents) u),
       |counts AS (SELECT doc_id, token, COUNT(*) AS c
       |  FROM flat GROUP BY doc_id, token),
       |wc AS (SELECT doc_id, c,
       |    SUM(c) OVER (PARTITION BY doc_id) AS n FROM counts),
       |terms AS (SELECT doc_id, n, ROUND(
       |    CAST(c AS DOUBLE) / CAST(n AS DOUBLE) *
       |    (${plogSql("CAST(n AS DOUBLE) / CAST(c AS DOUBLE)")})
       |    * 1000000000000.0) AS t
       |  FROM wc)
       |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
       |  COUNT(*) AS n_distinct,
       |  CAST(CAST(SUM(CAST(t AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
       |    / 1000000000000.0 AS entropy
       |FROM terms GROUP BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Per-source feature normalization: z-score each document's length
  // within its source (the "is this doc an outlier for its domain?"
  // signal — mixed corpora have wildly different length regimes, so a
  // global z-score misflags whole sources). Algebra is arranged so
  // float appears only in the last two ops: z = (n·x − Σx) /
  // √(n·Σx² − (Σx)²) — numerator and radicand are EXACT integer
  // arithmetic (DECIMAL(38,0) here, HUGEINT in the twin), and IEEE
  // sqrt/divide are correctly-rounded in both engines. One tiny
  // per-source agg broadcast back onto the scan; zero data shuffle.
  // Degenerate sources (constant length) → NULL, matching engines.
  // -------------------------------------------------------------------
  def lengthZNorm(docs: DataFrame): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val stats = docs.groupBy("source").agg(
      count(lit(1)).cast(Dec).as("n"),
      sum(col("n_chars").cast(Dec)).as("sx"),
      sum((col("n_chars") * col("n_chars")).cast(Dec)).as("sxx"))
    def dbl(c: Column): Column = c.cast("string").cast("double")
    val rad = col("n") * col("sxx") - col("sx") * col("sx")
    docs.join(broadcast(stats), Seq("source"))
      .select(
        col("doc_id"), col("source"), col("n_chars"),
        when(rad === lit(0).cast(Dec), lit(null).cast("double"))
          .otherwise(
            dbl(col("n") * col("n_chars").cast(Dec) - col("sx"))
              / sqrt(dbl(rad))).as("z"))
  }

  val lengthZNormSql: String =
    """WITH st AS (SELECT source,
      |    CAST(COUNT(*) AS HUGEINT) AS n,
      |    SUM(CAST(n_chars AS HUGEINT)) AS sx,
      |    SUM(CAST(n_chars * n_chars AS HUGEINT)) AS sxx
      |  FROM documents GROUP BY source)
      |SELECT d.doc_id, d.source, d.n_chars,
      |  CASE WHEN st.n * st.sxx - st.sx * st.sx = 0 THEN NULL ELSE
      |    CAST(CAST(st.n * CAST(d.n_chars AS HUGEINT) - st.sx AS VARCHAR)
      |      AS DOUBLE)
      |    / sqrt(CAST(CAST(st.n * st.sxx - st.sx * st.sx AS VARCHAR)
      |        AS DOUBLE)) END AS z
      |FROM documents d JOIN st USING (source)""".stripMargin

  // -------------------------------------------------------------------
  // Corpus drift diagnostic: Jensen-Shannon divergence between the
  // train split's and the holdout's unigram distributions — the
  // standard "did my split/mix shift the data?" check. JSD =
  // ½Σ p·log(p/m) + ½Σ q·log(q/m), m=(p+q)/2; each log goes through
  // the signed portable log (log x = -log 1/x keeps PortableMath.plog
  // in its x≥1 domain), zero-count tokens contribute 0 exactly, and
  // both Σ run through decimal casts so token order can't move a bit —
  // the whole scalar is oracle-exact. One token-keyed agg + a 1-row
  // totals broadcast; nats, bounded by ln 2.
  // -------------------------------------------------------------------
  def corpusJsDivergence(docs: DataFrame): DataFrame = {
    import graft.functions.PortableMath.plog
    val split = Sampling.splitAssign(docs).select("doc_id", "split")
    val flat = explodedTokens(docs, "token", col("doc_id"))
      .join(split, Seq("doc_id"))
    val counts = flat.groupBy("token").agg(
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("ca"),
      sum(when(col("split") =!= "train", 1L).otherwise(0L)).as("cb"))
    val tot = counts.agg(
      sum("ca").cast("double").as("ta"), sum("cb").cast("double").as("tb"))
    val pqm = counts.crossJoin(broadcast(tot)).select(
      (col("ca").cast("double") / col("ta")).as("p"),
      (col("cb").cast("double") / col("tb")).as("q"))
      .withColumn("m", (col("p") + col("q")) / lit(2.0))
    def term(x: Column) =
      when(x > 0,
        x * when(x / col("m") >= 1, plog(x / col("m")))
          .otherwise(lit(0.0) - plog(col("m") / x)))
        .otherwise(lit(0.0))
    // Exact cross-engine sum of IRRATIONAL doubles: snap each term to a
    // 1e-12 integer grid in DOUBLE space (ROUND of the same IEEE
    // product is identical in both engines; integral doubles < 2^53
    // cast to DECIMAL with NO fractional rounding), sum the exact
    // integers, convert ONCE. The usual fractional-DECIMAL cast is
    // unsound here: DuckDB's double→DECIMAL(·,20) rounds a scaled
    // float, not the exact expansion — measured 1-digit disagreements
    // with the JVM's exact HALF_UP on ~half of 17-sig-digit inputs.
    // Cost: ≤ 5e-13 absolute error per term vs the untruncated sum.
    val grid = 1.0e12
    val DecInt = org.apache.spark.sql.types.DecimalType(38, 0)
    pqm
      .select(term(col("p")).as("term_a"), term(col("q")).as("term_b"))
      .agg(
        (lit(0.5) * (sum((round(col("term_a") * grid) +
          round(col("term_b") * grid)).cast(DecInt)).cast("double")
          / lit(grid))).as("jsd"),
        count(lit(1)).as("n_tokens"))
  }

  def corpusJsDivergenceSql: String = {
    import graft.functions.PortableMath.plogSql
    def term(x: String) =
      s"""CASE WHEN $x > 0 THEN $x * (CASE WHEN $x / m >= 1
         |    THEN ${plogSql(s"$x / m")}
         |    ELSE 0.0 - (${plogSql(s"m / $x")}) END)
         |  ELSE 0.0 END""".stripMargin
    s"""WITH split AS (SELECT doc_id, split FROM (
       |    ${Sampling.splitAssignSql()}) sp),
       |flat AS (SELECT s.split, t.token FROM (
       |    SELECT doc_id, unnest($tokensSql) AS token FROM documents) t
       |  JOIN split s USING (doc_id)),
       |counts AS (SELECT token,
       |    SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ca,
       |    SUM(CASE WHEN split <> 'train' THEN 1 ELSE 0 END) AS cb
       |  FROM flat GROUP BY token),
       |tot AS (SELECT CAST(SUM(ca) AS DOUBLE) AS ta,
       |               CAST(SUM(cb) AS DOUBLE) AS tb FROM counts),
       |pqm AS (SELECT p, q, (p + q) / 2.0 AS m FROM (
       |    SELECT CAST(ca AS DOUBLE) / ta AS p, CAST(cb AS DOUBLE) / tb AS q
       |    FROM counts, tot) x),
       |terms AS (SELECT
       |    ${term("p")} AS term_a,
       |    ${term("q")} AS term_b
       |  FROM pqm)
       |SELECT 0.5 * (CAST(CAST(SUM(CAST(ROUND(term_a * 1000000000000.0)
       |                       + ROUND(term_b * 1000000000000.0) AS DECIMAL(38,0)))
       |                 AS VARCHAR) AS DOUBLE) / 1000000000000.0) AS jsd,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens
       |FROM terms""".stripMargin
  }

  def lmScoreSql: String =
    s"""WITH flat AS (SELECT doc_id, t AS token FROM (
       |    SELECT doc_id, unnest($tokensSql) AS t FROM documents) u),
       |counts AS (SELECT token, COUNT(*) AS cnt FROM flat GROUP BY token),
       |tot AS (SELECT SUM(cnt) AS t FROM counts),
       |logp AS (SELECT token,
       |    0.0 - (${graft.functions.PortableMath.plogSql(
                 "CAST(t AS DOUBLE) / CAST(cnt AS DOUBLE)")}) AS logp
       |  FROM counts, tot)
       |SELECT f.doc_id, COUNT(*) AS n_tokens,
       |  CAST(CAST(SUM(CAST(l.logp AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE)
       |    / COUNT(*) AS avg_logp
       |FROM flat f JOIN logp l USING (token)
       |GROUP BY f.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Interpolated bigram LM score — the next-order quality signal after
  // the unigram [[lmScore]] (Jelinek-Mercer smoothing, the classic
  // KenLM-lite proxy): each doc scores the mean log of
  // λ·P(w|prev) + (1−λ)·P(w) over its adjacent token pairs, so docs
  // whose word ORDER is plausible outrank bags of plausible words.
  // Bigram pairs are built scan-side (slice + zip + explode, the
  // bpePairs machinery — no position-table join); counts are two
  // map-side-combined aggs (pair-keyed and token-keyed); the logp
  // relation is |bigram-vocab|-sized and joins back on the pair key.
  // Determinism: the mixture is a fixed-order IEEE expression replayed
  // verbatim in the oracle; the log routes through PortableMath.plog
  // on 1/p ≥ 1; per-doc terms snap POSITIVE values to the 1e-12
  // integer grid (round() is only contract-identical across engines on
  // non-negative operands) and sum in DECIMAL(38,0), negating once at
  // the end.
  // -------------------------------------------------------------------
  def lm2Score(docs: DataFrame, lambda: Double = 0.7): DataFrame = {
    import graft.functions.PortableMath.plog
    val Grid = 1.0e12
    val DecInt = org.apache.spark.sql.types.DecimalType(38, 0)
    val mu = 1.0 - lambda
    val tk = tokens(col("text"))
    val pairsFlat = docs.select(col("doc_id"), tk.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 1).as("tok_l"),
        slice(col("tk"), lit(2), size(col("tk")) - 1).as("tok_r"))).as("pr"))
      .select(col("doc_id"),
        col("pr.tok_l").as("tok_l"), col("pr.tok_r").as("tok_r"))
    val uni = explodedTokens(docs, "token")
      .groupBy("token").agg(count(lit(1)).as("cu"))
    val tot = uni.agg(sum("cu").as("t"))
    val big = pairsFlat.groupBy("tok_l", "tok_r").agg(count(lit(1)).as("cb"))
    val ctx = big.groupBy("tok_l").agg(sum("cb").as("cl"))
    val nlp = big.join(ctx, "tok_l")
      .join(uni.select(col("token").as("tok_r"), col("cu")), "tok_r")
      .crossJoin(broadcast(tot))
      .select(col("tok_l"), col("tok_r"),
        plog(lit(1.0) / (lit(lambda)
          * (col("cb").cast("double") / col("cl").cast("double"))
          + lit(mu)
          * (col("cu").cast("double") / col("t").cast("double")))).as("nlp"))
    pairsFlat.join(nlp, Seq("tok_l", "tok_r"))
      .select(col("doc_id"), round(col("nlp") * Grid).cast(DecInt).as("tg"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        (lit(0.0) - sum("tg").cast("string").cast("double") / lit(Grid)
          / count(lit(1))).as("avg_logp2"))
  }

  def lm2ScoreSql(lambda: Double = 0.7): String = {
    import graft.functions.PortableMath.plogSql
    val mu = 1.0 - lambda
    s"""WITH toks AS (SELECT doc_id, $tokensSql AS tk FROM documents),
       |pairs AS (
       |  SELECT doc_id, unnest(tk[1:len(tk)-1]) AS tok_l,
       |         unnest(tk[2:len(tk)]) AS tok_r
       |  FROM toks WHERE len(tk) >= 2),
       |uni AS (SELECT token, COUNT(*) AS cu FROM (
       |    SELECT unnest($tokensSql) AS token FROM documents) u
       |  GROUP BY token),
       |tot AS (SELECT SUM(cu) AS t FROM uni),
       |big AS (SELECT tok_l, tok_r, COUNT(*) AS cb FROM pairs GROUP BY 1, 2),
       |ctx AS (SELECT tok_l, SUM(cb) AS cl FROM big GROUP BY 1),
       |nlp AS (
       |  SELECT b.tok_l, b.tok_r,
       |    (${plogSql(s"1.0 / ($lambda" +
             " * (CAST(b.cb AS DOUBLE) / CAST(c.cl AS DOUBLE))" +
             s" + $mu * (CAST(u.cu AS DOUBLE) / CAST(t.t AS DOUBLE)))")}) AS nlp
       |  FROM big b JOIN ctx c ON b.tok_l = c.tok_l
       |  JOIN uni u ON b.tok_r = u.token, tot t)
       |SELECT p.doc_id, COUNT(*) AS n_bigrams,
       |  0.0 - CAST(CAST(SUM(CAST(ROUND(n.nlp * 1000000000000.0)
       |        AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
       |      / 1000000000000.0 / COUNT(*) AS avg_logp2
       |FROM pairs p JOIN nlp n USING (tok_l, tok_r)
       |GROUP BY p.doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Interpolated Kneser-Ney bigram LM score (Kneser & Ney 1995; the
  // smoothing KenLM/SRILM default to, vs [[lm2Score]]'s Jelinek-Mercer
  // mixture): P(w|v) = (c(vw)−D)/c(v·) + D·N1+(v·)/c(v·) · P_cont(w),
  // with the CONTINUATION unigram P_cont(w) = N1+(·w)/N1+(··) — "how
  // many contexts does w follow" rather than raw frequency, the fix
  // for Zipf-head words that are frequent but context-bound. Every
  // factor is an integer count over the distinct-bigram relation
  // (N1+ counts are plain COUNT(*) group-bys of it), so the relational
  // shape is identical to lm2Score: scan-side pair stream, three
  // vocab-sized map-side-combined aggs, pair-keyed join back. Seen
  // bigrams have c(vw) ≥ 1 > D, and p ≤ 1 algebraically (c(vw) +
  // D·(N1+(v·)−1) ≤ c(v·) since each extra follower type contributes
  // ≥1 to the context total), so plog(1/p) stays in domain. D = 0.75
  // (the literature constant) inlined as an E-notation literal.
  // -------------------------------------------------------------------
  def knScore(docs: DataFrame, discount: Double = 0.75): DataFrame = {
    import graft.functions.PortableMath.plog
    val Grid = 1.0e12
    val DecInt = org.apache.spark.sql.types.DecimalType(38, 0)
    val tk = tokens(col("text"))
    val pairsFlat = docs.select(col("doc_id"), tk.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 1).as("tok_l"),
        slice(col("tk"), lit(2), size(col("tk")) - 1).as("tok_r"))).as("pr"))
      .select(col("doc_id"),
        col("pr.tok_l").as("tok_l"), col("pr.tok_r").as("tok_r"))
    val big = pairsFlat.groupBy("tok_l", "tok_r").agg(count(lit(1)).as("cb"))
    val ctx = big.groupBy("tok_l").agg(
      sum("cb").as("cl"), count(lit(1)).as("nl"))
    val cont = big.groupBy("tok_r").agg(count(lit(1)).as("nr"))
    val ntypes = big.agg(count(lit(1)).as("nt"))
    val d = lit(discount)
    val p = (col("cb").cast("double") - d) / col("cl").cast("double") +
      ((d * col("nl").cast("double")) / col("cl").cast("double")) *
        (col("nr").cast("double") / col("nt").cast("double"))
    val nlp = big.join(ctx, "tok_l")
      .join(cont, "tok_r")
      .crossJoin(broadcast(ntypes))
      .select(col("tok_l"), col("tok_r"), plog(lit(1.0) / p).as("nlp"))
    pairsFlat.join(nlp, Seq("tok_l", "tok_r"))
      .select(col("doc_id"), round(col("nlp") * Grid).cast(DecInt).as("tg"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        (lit(0.0) - sum("tg").cast("string").cast("double") / lit(Grid)
          / count(lit(1))).as("avg_logp_kn"))
  }

  /** The knScore CTE chain through the per-doc mean log-prob (CTE
    * `knsc`) — shared by [[knScoreSql]] and [[pplBucketsSql]]. The
    * `big` relation is multi-referenced (4 consumers): register
    * through `OracleCtes.materialize` so DuckDB doesn't re-inline the
    * pair scan per consumer at sf1. */
  private def knCtes(discount: Double): String = {
    import graft.functions.PortableMath.plogSql
    val dl = { // E-notation so DuckDB types the literal DOUBLE
      val s = java.lang.Double.toString(discount)
      if (s.contains("E") || s.contains("e")) s else s + "e0"
    }
    val pExpr =
      s"(CAST(b.cb AS DOUBLE) - $dl) / CAST(c.cl AS DOUBLE)" +
        s" + (($dl * CAST(c.nl AS DOUBLE)) / CAST(c.cl AS DOUBLE))" +
        s" * (CAST(r.nr AS DOUBLE) / CAST(t.nt AS DOUBLE))"
    s"""toks AS (SELECT doc_id, $tokensSql AS tk FROM documents),
       |pairs AS (
       |  SELECT doc_id, unnest(tk[1:len(tk)-1]) AS tok_l,
       |         unnest(tk[2:len(tk)]) AS tok_r
       |  FROM toks WHERE len(tk) >= 2),
       |big AS (SELECT tok_l, tok_r, COUNT(*) AS cb FROM pairs GROUP BY 1, 2),
       |ctx AS (SELECT tok_l, SUM(cb) AS cl, COUNT(*) AS nl FROM big GROUP BY 1),
       |cont AS (SELECT tok_r, COUNT(*) AS nr FROM big GROUP BY 1),
       |ntypes AS (SELECT COUNT(*) AS nt FROM big),
       |nlp AS (
       |  SELECT b.tok_l, b.tok_r,
       |    (${plogSql(s"1.0 / ($pExpr)")}) AS nlp
       |  FROM big b JOIN ctx c ON b.tok_l = c.tok_l
       |  JOIN cont r ON b.tok_r = r.tok_r, ntypes t),
       |knsc AS (SELECT p.doc_id, COUNT(*) AS n_bigrams,
       |  0.0 - CAST(CAST(SUM(CAST(ROUND(n.nlp * 1000000000000.0)
       |        AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
       |      / 1000000000000.0 / COUNT(*) AS avg_logp_kn
       |FROM pairs p JOIN nlp n USING (tok_l, tok_r)
       |GROUP BY p.doc_id)""".stripMargin
  }

  def knScoreSql(discount: Double = 0.75): String =
    s"WITH ${knCtes(discount)}\n" +
      "SELECT doc_id, n_bigrams, avg_logp_kn FROM knsc"

  // -------------------------------------------------------------------
  // CCNet-style perplexity bucketing (Wenzek et al., "CCNet: Extracting
  // High Quality Monolingual Datasets from Web Crawl Data", 2020):
  // score every doc with the in-corpus KN bigram LM, then split each
  // LANGUAGE's docs into equal-population buckets by score rank —
  // head / middle / tail — and keep head+middle, the standard
  // LM-quality gate for pretraining corpora. Rank-based buckets (not
  // value thresholds) make the cut exact and engine-portable: bucket =
  // (rank−1)·B div n_lang, all-integer. Docs too short to score (< 2
  // tokens → no bigrams) never reach the LM and are quarantined
  // upstream, as a production gate would.
  // Scale: the rank window sorts WITHIN each language partition — at
  // 100 TB you fit the per-language cut points on a sample (CCNet
  // itself uses fixed per-language thresholds) and apply them as a
  // broadcast join; the in-plan window here is the exact-fit twin the
  // oracle can check bit-for-bit.
  // -------------------------------------------------------------------
  def pplBuckets(docs: DataFrame, discount: Double = 0.75,
      nBuckets: Int = 3): DataFrame = {
    val scored = knScore(docs, discount)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val w = Window.partitionBy("lang")
      .orderBy(col("avg_logp_kn").desc, col("doc_id").asc)
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n_lang",
        count(lit(1)).over(Window.partitionBy("lang")))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("avg_logp_kn"),
        expr(s"(rn - 1) * $nBuckets div n_lang").as("bucket"),
        (expr(s"(rn - 1) * $nBuckets div n_lang") < (nBuckets - 1))
          .as("keep"))
  }

  def pplBucketsSql(discount: Double = 0.75, nBuckets: Int = 3): String =
    s"""WITH ${knCtes(discount)},
       |scored AS (
       |  SELECT s.doc_id, d.lang, s.n_bigrams, s.avg_logp_kn
       |  FROM knsc s JOIN documents d USING (doc_id)),
       |ranked AS (
       |  SELECT doc_id, lang, n_bigrams, avg_logp_kn,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY avg_logp_kn DESC, doc_id ASC) AS BIGINT) AS rn,
       |    COUNT(*) OVER (PARTITION BY lang) AS n_lang
       |  FROM scored)
       |SELECT doc_id, lang, n_bigrams, avg_logp_kn,
       |  CAST((rn - 1) * $nBuckets // n_lang AS BIGINT) AS bucket,
       |  (rn - 1) * $nBuckets // n_lang < ${nBuckets - 1} AS keep
       |FROM ranked""".stripMargin

  // -------------------------------------------------------------------
  // Curriculum ordering: emit a training order that interleaves
  // difficulty — consecutive positions cycle through K quality bands,
  // so every mini-batch sees the whole difficulty spectrum (the
  // anti-sort: plain score-ordered training front-loads easy docs).
  // Difficulty = the unigram-LM score; bands are FIXED-WIDTH score
  // bins, not ntile — a global ntile/percent_rank needs a total order
  // (SinglePartition exchange, the classic scale-killer), while
  // equal-width binning is a pure projection and the only shuffle is
  // the K-partition in-band rank window (sub-salt bands at extreme
  // scale). pos = rank_in_band·K + band: reading in pos order
  // round-robins the bands.
  // -------------------------------------------------------------------
  def curriculumOrder(
      docs: DataFrame, bands: Int = 10,
      scoreLo: Double = -16.0, scoreHi: Double = 0.0): DataFrame = {
    val width = (scoreHi - scoreLo) / bands
    val band = least(greatest(
      floor((col("avg_logp") - lit(scoreLo)) / lit(width)), lit(0.0)),
      lit((bands - 1).toDouble)).cast("long")
    val inBand = Window.partitionBy("band")
      .orderBy(col("avg_logp").desc, col("doc_id").asc)
    lmScore(docs)
      .withColumn("band", band)
      .withColumn("pos",
        (row_number().over(inBand).cast("long") - 1L) * bands + col("band"))
      .select("doc_id", "band", "pos")
  }

  def curriculumOrderSql(
      bands: Int = 10, scoreLo: Double = -16.0,
      scoreHi: Double = 0.0): String = {
    val width = (scoreHi - scoreLo) / bands
    s"""WITH scored AS (${lmScoreSql}),
       |banded AS (
       |  SELECT doc_id, avg_logp,
       |    CAST(LEAST(GREATEST(
       |      FLOOR((avg_logp - CAST($scoreLo AS DOUBLE)) / CAST($width AS DOUBLE)),
       |      0.0), CAST(${bands - 1} AS DOUBLE)) AS BIGINT) AS band
       |  FROM scored)
       |SELECT doc_id, band,
       |  (CAST(ROW_NUMBER() OVER (PARTITION BY band
       |     ORDER BY avg_logp DESC, doc_id ASC) AS BIGINT) - 1)
       |    * $bands + band AS pos
       |FROM banded""".stripMargin
  }

  // -------------------------------------------------------------------
  // Count-min sketch (Cormode & Muthukrishnan 2005) over the token
  // stream — the mergeable frequency sketch: d seeded hash rows × w
  // buckets, estimate = min over rows of the bucket count, one-sided
  // error (never under-counts, over-counts by collisions ≤ 2N/w with
  // prob 1-2^-d). The sketch build is ONE shuffle whose payload is at
  // most d·w rows per map partition (map-side combine collapses the
  // token stream into cells), so at 100 TB the wire cost is the tiny
  // FIXED sketch size, not the corpus — and sketches from disjoint
  // shards merge by cell-wise addition. Unlike t-digest/HLL this
  // sketch is a pure deterministic function of the data (md5-60
  // bucket hashes, integer counts), so it stays fully oracle-exact.
  // -------------------------------------------------------------------

  /** CMS frequency estimates for `probes` (estimate ≥ true count,
    * deterministic). Absent tokens estimate 0 unless a bucket
    * collides. */
  def cmsEstimates(
      docs: DataFrame, probes: Seq[String],
      depth: Int = 4, width: Int = 1024): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def bucket(r: Int, c: Column) =
      pmod(Dedup.md5Hash60(r, c), lit(width.toLong))
    val cells = explodedTokens(docs, "token")
      .select(explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"), bucket(r, col("token")).as("b"))): _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val pb = probes.toDF("token")
      .select(col("token"), explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"), bucket(r, col("token")).as("b"))): _*)).as("rb"))
      .select(col("token"), col("rb.r").as("r"), col("rb.b").as("b"))
    pb.join(cells, Seq("r", "b"), "left")
      .groupBy("token")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  def cmsEstimatesSql(
      probes: Seq[String], depth: Int = 4, width: Int = 1024): String = {
    val vals = probes.map(p => s"('$p')").mkString(", ")
    def bucketSql(expr: String) =
      s"(CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || $expr), 1, 15)) AS BIGINT)) % $width"
    s"""WITH tok AS (SELECT t AS token FROM (
       |    SELECT unnest($tokensSql) AS t FROM documents) u),
       |seeds AS (SELECT unnest(generate_series(0, ${depth - 1})) AS r),
       |cells AS (
       |  SELECT r, ${bucketSql("token")} AS b, COUNT(*) AS cnt
       |  FROM tok CROSS JOIN seeds GROUP BY 1, 2),
       |probes(token) AS (VALUES $vals),
       |pb AS (SELECT token, r, ${bucketSql("token")} AS b
       |       FROM probes CROSS JOIN seeds)
       |SELECT token, MIN(COALESCE(cnt, 0)) AS est
       |FROM pb LEFT JOIN cells USING (r, b)
       |GROUP BY token""".stripMargin
  }

  // -------------------------------------------------------------------
  // BPE-style adjacent-pair counting — the inner loop of tokenizer
  // training (Sennrich et al. 2016): count every adjacent token pair
  // across the corpus and surface the top merge candidates. The pair
  // stream is produced entirely inside the scan stage (slice + zip +
  // explode, all codegen array ops — no join against a position table),
  // then ONE token-pair shuffle with map-side partial agg (Zipf head
  // collapses map-side exactly like tokenCounts), and the top-N is a
  // TakeOrderedAndProject — no global sort. Iterating merges = re-run
  // with a merged vocab, the same driver-loop shape as the Lloyd fit;
  // at 100 TB you run this on a sampled sub-corpus, which is
  // `Sampling.stratifiedSample` composed in front.
  // -------------------------------------------------------------------

  /** Top-N adjacent token pairs by corpus frequency. Deterministic
    * total order (cnt desc, pair asc) makes the limit boundary exact. */
  def bpePairs(docs: DataFrame, topN: Int = 50): DataFrame = {
    val tk = tokens(col("text"))
    docs
      .select(tk.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 1).as("tok_l"),
        slice(col("tk"), lit(2), size(col("tk")) - 1).as("tok_r"))).as("pr"))
      .select(col("pr.tok_l").as("tok_l"), col("pr.tok_r").as("tok_r"))
      .groupBy("tok_l", "tok_r").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok_l").asc, col("tok_r").asc)
      .limit(topN)
  }

  def bpePairsSql(topN: Int = 50): String =
    s"""WITH toks AS (SELECT $tokensSql AS tk FROM documents),
       |pairs AS (
       |  SELECT unnest(tk[1:len(tk)-1]) AS tok_l,
       |         unnest(tk[2:len(tk)]) AS tok_r
       |  FROM toks WHERE len(tk) >= 2)
       |SELECT tok_l, tok_r, COUNT(*) AS cnt
       |FROM pairs GROUP BY 1, 2
       |ORDER BY cnt DESC, tok_l ASC, tok_r ASC LIMIT $topN""".stripMargin

  // -------------------------------------------------------------------
  // BPE merge induction — the iterative sibling of [[bpePairs]]: not
  // just COUNT the top adjacent pair, but actually MERGE it into the
  // corpus and repeat, producing the ordered merge table a BPE
  // tokenizer trains (Sennrich et al. 2016, word-level symbols here;
  // character-level is this same code with a char tokenizer in front).
  // Each round: (1) one map-side-combined pair-count shuffle + a
  // 1-row argmax pulled to the driver (cnt desc, pair asc — total
  // order, so the winner is engine-independent), (2) one window pass
  // that rewrites the symbol stream in place: positions matching
  // (a,b) emit the merged symbol, their right neighbor drops.
  // Self-pairs (a = b) are excluded from candidacy: their greedy
  // left-to-right merge is run-parity-dependent (aaa → (aa)a), which
  // no engine's declarative layer expresses portably, and adjacent
  // IDENTICAL word pairs are degenerate merge candidates anyway. With
  // a ≠ b, matches can never overlap (a match at i and i+1 would need
  // s[i+1] = b = a), so "merge all matches simultaneously" IS the
  // greedy semantics — that's what makes the whole trainer
  // windows-only and therefore DuckDB-twinnable, unrolled per round.
  //
  // 100 TB posture: R passes over the token stream (R windows on
  // doc_id + R pair aggs with Zipf-collapsing map-side partials); the
  // driver holds one (a, b) pair per round — the Lloyd-loop shape.
  // Production trainers batch top-K merges per round to cut passes;
  // that's this same loop with `limit(K)` and K rewrite columns.
  // -------------------------------------------------------------------

  /** Ordered BPE merge table (round, sym_a, sym_b, cnt) learned over
    * word-level symbols; merged symbols join with a space. */
  def bpeTrain(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    val w = Window.partitionBy("doc_id").orderBy("pos")
    var stream = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .withColumnRenamed("col", "sym")
      .cache()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val withNext = stream.withColumn("nxt", lead(col("sym"), 1).over(w))
      val best = withNext
        .filter(col("nxt").isNotNull && col("sym") =!= col("nxt"))
        .groupBy("sym", "nxt").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("sym").asc, col("nxt").asc)
        .limit(1).collect()
      if (best.nonEmpty) {
        val (a, b, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, a, b, c))
        val next = withNext
          .withColumn("m",
            coalesce(col("sym") === lit(a) && col("nxt") === lit(b), lit(false)))
          .withColumn("pm", lag(col("m"), 1, false).over(w))
          .filter(!col("pm"))
          .select(col("doc_id"),
            row_number().over(w).as("pos"),
            when(col("m"), concat(col("sym"), lit(" "), col("nxt")))
              .otherwise(col("sym")).as("sym"))
          .cache()
        next.count() // materialize before dropping the parent round
        stream.unpersist()
        stream = next
      }
    }
    stream.unpersist()
    import spark.implicits._
    merges.toSeq.toDF("round", "sym_a", "sym_b", "cnt")
  }

  /** The trainer unrolled: each round's argmax and rewrite as chained
    * CTEs — the exact same windows-only dataflow DuckDB replays. */
  def bpeTrainSql(rounds: Int = 3): String = {
    def pairCte(s: String, p: String, b: String): String =
      s"""$p AS (SELECT sym, nxt, COUNT(*) AS cnt FROM (
         |  SELECT sym, LEAD(sym) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
         |  FROM $s) t WHERE nxt IS NOT NULL AND sym <> nxt GROUP BY 1, 2),
         |$b AS (SELECT sym AS a, nxt AS b, cnt FROM $p
         |  ORDER BY cnt DESC, sym ASC, nxt ASC LIMIT 1)""".stripMargin
    def mergeCte(s: String, b: String, out: String): String =
      s"""$out AS (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
         |    CASE WHEN m THEN sym || ' ' || nxt ELSE sym END AS sym
         |  FROM (
         |    SELECT doc_id, pos, sym, nxt, m,
         |      LAG(m, 1, FALSE) OVER (PARTITION BY doc_id ORDER BY pos) AS pm
         |    FROM (
         |      SELECT doc_id, pos, sym, nxt,
         |        COALESCE(sym = (SELECT a FROM $b)
         |             AND nxt = (SELECT b FROM $b), FALSE) AS m
         |      FROM (SELECT doc_id, pos, sym,
         |              LEAD(sym) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
         |            FROM $s) t1) t2) t3
         |  WHERE NOT pm)""".stripMargin
    val head =
      s"""WITH s0 AS (
         |  SELECT doc_id, unnest(generate_series(1, len(tk))) AS pos,
         |         unnest(tk) AS sym
         |  FROM (SELECT doc_id, $tokensSql AS tk FROM documents) d)""".stripMargin
    val rounds_ctes = (1 to rounds).map { r =>
      val prev = s"s${r - 1}"
      pairCte(prev, s"p$r", s"b$r") +
        (if (r < rounds) ",\n" + mergeCte(prev, s"b$r", s"s$r") else "")
    }
    val selects = (1 to rounds).map(r =>
      s"SELECT $r AS round, a AS sym_a, b AS sym_b, cnt FROM b$r")
    (head +: rounds_ctes).mkString(",\n") + "\n" +
      selects.mkString("\nUNION ALL\n") + "\nORDER BY round"
  }

  // -------------------------------------------------------------------
  // Skip-gram co-occurrence counts — the word2vec/GloVe training-data
  // prep: for every token, its neighbors within a ±window offset,
  // counted corpus-wide. The (center, context) stream is generated
  // scan-side by zipping the token array against `window` shifted
  // copies of itself (slice + zip + explode — codegen array ops, no
  // position self-join), then ONE map-side-combined shuffle on the
  // pair key. Emitted symmetrically (left and right contexts), top-N
  // with the bpePairs tiebreak. At 100 TB the wire carries at most
  // |vocab|²-bounded (in practice Zipf-collapsed) partial counts.
  // -------------------------------------------------------------------
  def skipgramPairs(
      docs: DataFrame, window: Int = 2, topN: Int = 100): DataFrame =
    pairCounts(docs, window)
      .orderBy(col("cnt").desc, col("center").asc, col("context").asc)
      .limit(topN)

  /** Every doc's token pairs (a, b) with b 1 to `window` tokens after
    * a: one exploded relation per offset d, the token array zipped
    * against its d-shifted copy (slice + zip + explode — codegen array
    * ops, no position self-join). */
  private def windowPairs(docs: DataFrame, window: Int): DataFrame = {
    val tk = tokens(col("text"))
    val docsTk = docs.select(tk.as("tk")).filter(size(col("tk")) >= 2)
    (1 to window).map { d =>
      docsTk
        .filter(size(col("tk")) > d)
        .select(explode(arrays_zip(
          slice(col("tk"), lit(1), size(col("tk")) - d).as("a"),
          slice(col("tk"), lit(1 + d), size(col("tk")) - d).as("b"))).as("pr"))
        .select(col("pr.a").as("a"), col("pr.b").as("b"))
    }.reduce(_ unionAll _)
  }

  /** [[windowPairs]] emitted both ways as (center, context), counted. */
  private def pairCounts(docs: DataFrame, window: Int): DataFrame =
    windowPairs(docs, window)
      .select(explode(array(
        struct(col("a").as("center"), col("b").as("context")),
        struct(col("b").as("center"), col("a").as("context")))).as("p"))
      .select(col("p.center").as("center"), col("p.context").as("context"))
      .groupBy("center", "context").agg(count(lit(1)).as("cnt"))

  /** [[pairCounts]] of at least `minCount`, with both tokens' marginals
    * (`ca`, `cb`: vocabulary-sized broadcasts) and the 1-row pair
    * `total` — the cells the PMI and LLR scores read. */
  private def pairMarginals(
      docs: DataFrame, window: Int, minCount: Int): DataFrame = {
    val pairs = pairCounts(docs, window)
    val marg = pairs.groupBy("center").agg(sum("cnt").as("m"))
    val total = pairs.agg(sum("cnt").as("total"))
    pairs
      .filter(col("cnt") >= minCount)
      .join(broadcast(marg.select(col("center"), col("m").as("ca"))), "center")
      .join(broadcast(marg.select(col("center").as("context"), col("m").as("cb"))),
        "context")
      .crossJoin(broadcast(total))
  }

  /** SQL twin of [[windowPairs]]: CTEs `toks` and `off(a, b)`. */
  private def windowPairsSql(window: Int): String = {
    val offsets = (1 to window).map { d =>
      s"""SELECT unnest(tk[1:len(tk)-$d]) AS a,
         |       unnest(tk[${1 + d}:len(tk)]) AS b
         |  FROM toks WHERE len(tk) > $d""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""toks AS (SELECT $tokensSql AS tk FROM documents),
       |off AS (
       |  $offsets)""".stripMargin
  }

  /** SQL twin of [[pairCounts]]'s stream: [[windowPairsSql]] plus CTE
    * `sym(center, context)`. */
  private def symPairsSql(window: Int): String =
    s"""${windowPairsSql(window)},
       |sym AS (
       |  SELECT a AS center, b AS context FROM off
       |  UNION ALL SELECT b, a FROM off)""".stripMargin

  /** SQL twin of [[pairMarginals]]: the WITH clause (through CTEs
    * `pairs`, `marg`, `tot`) and, from [[pairMarginalsFromSql]], the
    * joins; the caller writes the score between them. */
  private def pairMarginalsSql(window: Int): String =
    s"""WITH ${symPairsSql(window)},
       |pairs AS MATERIALIZED (
       |  SELECT center, context, COUNT(*) AS cnt
       |  FROM sym GROUP BY 1, 2),
       |marg AS MATERIALIZED (
       |  SELECT center, SUM(cnt) AS m FROM pairs GROUP BY center),
       |tot AS (SELECT SUM(cnt) AS total FROM pairs)""".stripMargin

  private def pairMarginalsFromSql(minCount: Int): String =
    s"""FROM pairs p
       |JOIN marg ca ON p.center = ca.center
       |JOIN marg cb ON p.context = cb.center
       |CROSS JOIN tot t
       |WHERE p.cnt >= $minCount""".stripMargin

  def skipgramPairsSql(window: Int = 2, topN: Int = 100): String =
    s"""WITH ${symPairsSql(window)}
       |SELECT center, context, COUNT(*) AS cnt
       |FROM sym GROUP BY 1, 2
       |ORDER BY cnt DESC, center ASC, context ASC LIMIT $topN""".stripMargin

  // -------------------------------------------------------------------
  // Token burstiness (Church & Gale, "Poisson Mixtures", 1995): the
  // variance-to-mean ratio of a token's per-document count over the
  // WHOLE corpus (zeros included). A Poisson-scattered token scores
  // VMR ≈ 1; content words are bursty (VMR ≫ 1 — they cluster in the
  // few docs that are "about" them) while function words sit near 1 —
  // the signal that separates topical vocabulary from glue without any
  // supervision. All-integer identity: with D docs, S1 = Σ_d c_d,
  // S2 = Σ_d c_d², VMR = Var/Mean = (D·S2 − S1²)/(D·S1) — the zero
  // docs contribute nothing to either sum, so only the token's own
  // rows are ever touched; D is one 1-row broadcast. Products run in
  // DECIMAL(38,0)/HUGEINT. Top-N by corpus count via TakeOrdered.
  // -------------------------------------------------------------------
  def burstiness(docs: DataFrame, topN: Int = 100): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val perDoc = explodedTokens(docs, "token", col("doc_id"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
    val stats = perDoc.groupBy("token").agg(
      count(lit(1)).as("df"),
      sum("c").as("s1"),
      sum(col("c").cast(Dec) * col("c").cast(Dec)).as("s2"))
    val d = docs.agg(count(lit(1)).as("n_docs"))
    stats.crossJoin(broadcast(d))
      .select(col("token"), col("df"), col("s1").as("cnt"),
        ((col("n_docs").cast(Dec) * col("s2")
          - col("s1").cast(Dec) * col("s1").cast(Dec)).cast("double")
          / (col("n_docs").cast(Dec) * col("s1").cast(Dec)).cast("double"))
          .as("vmr"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(topN)
  }

  def burstinessSql(topN: Int = 100): String =
    s"""WITH perdoc AS (
       |  SELECT doc_id, token, COUNT(*) AS c
       |  FROM (SELECT doc_id, unnest($tokensSql) AS token FROM documents) t
       |  GROUP BY doc_id, token),
       |stats AS (
       |  SELECT token, COUNT(*) AS df, SUM(c) AS s1,
       |    SUM(CAST(c AS HUGEINT) * c) AS s2
       |  FROM perdoc GROUP BY token),
       |d AS (SELECT COUNT(*) AS n_docs FROM documents)
       |SELECT token, df, CAST(s1 AS BIGINT) AS cnt,
       |  CAST(CAST(n_docs AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1
       |    AS DOUBLE)
       |  / CAST(CAST(n_docs AS HUGEINT) * CAST(s1 AS HUGEINT) AS DOUBLE)
       |    AS vmr
       |FROM stats, d
       |ORDER BY cnt DESC, token ASC LIMIT $topN""".stripMargin

  // -------------------------------------------------------------------
  // Heaps'-law fit (Heaps 1978): vocabulary growth V(N) ≈ K·N^β over
  // the corpus read in doc_id order — the companion corpus-health stat
  // to the Zipf slope (β far from the ~0.4–0.6 natural-language band
  // flags synthetic/duplicated/templated text). The growth curve is
  // sampled at ≤ 256 equal-width doc_id checkpoints: per bucket, the
  // token mass (Σ doc lengths) and the NEW types (tokens whose
  // min-doc_id first occurrence lands in the bucket) — both plain
  // map-side-combinable aggs — then one cumulative window over the
  // ≤ 256-row bucket relation (bounded at ANY corpus size; the
  // checkpoint width derives from max(doc_id), so the relation never
  // grows with the data) and the 1e-6-grid exact fit of
  // [[LeastSquares]] on (ln N, ln V). Output: (n, beta, r2).
  // -------------------------------------------------------------------
  def heapsFit(docs: DataFrame, checkpoints: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.PortableMath.plog
    val stepDf = docs.agg(
      (expr(s"max(doc_id) div $checkpoints") + 1).as("step"))
    val lens = docs
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("len"))
      .crossJoin(broadcast(stepDf))
      .select(expr("doc_id div step").as("b"), col("len"))
      .groupBy("b").agg(sum("len").as("tok"))
    val news = explodedTokens(docs, "token", col("doc_id"))
      .groupBy("token").agg(min("doc_id").as("fd"))
      .crossJoin(broadcast(stepDf))
      .select(expr("fd div step").as("b"))
      .groupBy("b").agg(count(lit(1)).as("newt"))
    val w = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = lens.join(news, Seq("b"), "full_outer")
      .select(col("b"), coalesce(col("tok"), lit(0L)).as("tok"),
        coalesce(col("newt"), lit(0L)).as("newt"))
      .withColumn("nn", sum("tok").over(w))
      .withColumn("vv", sum("newt").over(w))
      .filter(col("nn") >= 1 && col("vv") >= 1)
    val xy = curve.select(
      round(plog(col("nn").cast("double")) * 1e6).cast("long").as("x"),
      round(plog(col("vv").cast("double")) * 1e6).cast("long").as("y"))
    LeastSquares.fit(xy, "beta")
  }

  def heapsFitSql(checkpoints: Int = 256): String = {
    import graft.functions.PortableMath.plogSql
    s"""WITH stp AS (
       |  SELECT MAX(doc_id) // $checkpoints + 1 AS step FROM documents),
       |lens AS (
       |  SELECT doc_id // step AS b, SUM(len($tokensSql)) AS tok
       |  FROM documents, stp GROUP BY 1),
       |news AS (
       |  SELECT fd // step AS b, COUNT(*) AS newt
       |  FROM (SELECT token, MIN(doc_id) AS fd
       |        FROM (SELECT doc_id, unnest($tokensSql) AS token
       |              FROM documents) t
       |        GROUP BY token) f, stp
       |  GROUP BY 1),
       |curve AS (
       |  SELECT COALESCE(l.b, n.b) AS b,
       |    COALESCE(l.tok, 0) AS tok, COALESCE(n.newt, 0) AS newt
       |  FROM lens l FULL OUTER JOIN news n ON l.b = n.b),
       |cum AS (
       |  SELECT b,
       |    SUM(tok) OVER (ORDER BY b
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nn,
       |    SUM(newt) OVER (ORDER BY b
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vv
       |  FROM curve),
       |xy AS (
       |  SELECT CAST(ROUND((${plogSql("CAST(nn AS DOUBLE)")}) * 1e6)
       |           AS BIGINT) AS x,
       |         CAST(ROUND((${plogSql("CAST(vv AS DOUBLE)")}) * 1e6)
       |           AS BIGINT) AS y
       |  FROM cum WHERE nn >= 1 AND vv >= 1),
       |${LeastSquares.fitSql("beta")}""".stripMargin
  }

  // -------------------------------------------------------------------
  // TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
  // PageRank over the undirected token co-occurrence graph (edge ⇔
  // the two tokens appear within ±window of each other). Composes the
  // pair stream of [[windowPairs]] with [[GraphOps.pageRank]] — the SAME
  // superstep operator the entity-graph queries run, here on VARCHAR
  // nodes — so the iterative machinery is verified once and reused.
  // No stopword filter: rank concentration on function words is
  // itself a corpus signal, and filtering is one WHERE the caller can
  // add. Scale: the co-occurrence edge relation is vocab²-bounded and
  // Zipf-sparse in practice; each superstep shuffles (node, grid-sum)
  // rows only; the top-N is a TakeOrderedAndProject, never a full
  // sort.
  // -------------------------------------------------------------------
  def textRank(
      docs: DataFrame, window: Int = 2, iters: Int = 3,
      damping: Double = 0.85, topN: Int = 50): DataFrame = {
    val byOffset = windowPairs(docs, window)
    val edges = byOffset.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(byOffset.select(col("b").as("src"), col("a").as("dst")))
    GraphOps.pageRank(edges, iters, damping)
      .orderBy(col("rank").desc, col("node").asc)
      .limit(topN)
      .select(col("node").as("token"), col("rank"))
  }

  def textRankSql(
      window: Int = 2, iters: Int = 3, damping: Double = 0.85,
      topN: Int = 50): String =
    GraphOps.pageRankSql(
      s"""${windowPairsSql(window)},
         |base_e AS (
         |  SELECT a AS src, b AS dst FROM off
         |  UNION ALL SELECT b, a FROM off),
         |edges AS (SELECT DISTINCT src, dst FROM base_e)""".stripMargin,
      iters, damping,
      out = r => s"""SELECT node AS token, rank FROM $r
                    |ORDER BY rank DESC, node ASC LIMIT $topN""".stripMargin)

  /** Pointwise mutual information over the ±window skipgram pair
    * stream — the word-association score classic embedding pipelines
    * (word2vec-era SGNS is implicit PMI factorization, Levy & Goldberg
    * 2014) compute before or instead of training: PMI(a,b) =
    * ln(p(a,b)/(p(a)p(b))) = ln(cnt·total) − ln(ca·cb). Both logarithm
    * arguments are EXACT INTEGER products (< 2^53, exact as doubles),
    * so the portable log makes every score bit-stable — no probability
    * division ever happens in float.
    *
    * Scale shape: one pair shuffle (the skipgram agg), marginals are a
    * VOCABULARY-sized relation (broadcast — bounded by the token
    * vocabulary, not the corpus), total is a 1-row broadcast; TopK is
    * TakeOrdered. minCount guards the classic low-count PMI explosion
    * (a hapax pair scores ln(total/1) no matter how meaningless). */
  def pmiTopK(docs: DataFrame, window: Int = 2, minCount: Int = 5,
      topN: Int = 100): DataFrame = {
    import graft.functions.PortableMath.plog
    pairMarginals(docs, window, minCount)
      .select(col("center"), col("context"), col("cnt"),
        (plog((col("cnt") * col("total")).cast("double")) -
          plog((col("ca") * col("cb")).cast("double"))).as("pmi"))
      .orderBy(col("pmi").desc, col("center").asc, col("context").asc)
      .limit(topN)
  }

  def pmiTopKSql(window: Int = 2, minCount: Int = 5, topN: Int = 100): String = {
    import graft.functions.PortableMath.plogSql
    s"""${pairMarginalsSql(window)}
       |SELECT p.center, p.context, p.cnt,
       |  ${plogSql("CAST(p.cnt * t.total AS DOUBLE)")} -
       |  ${plogSql("CAST(ca.m * cb.m AS DOUBLE)")} AS pmi
       |${pairMarginalsFromSql(minCount)}
       |ORDER BY pmi DESC, p.center ASC, p.context ASC LIMIT $topN""".stripMargin
  }

  // -------------------------------------------------------------------
  // Log-likelihood-ratio collocations (Dunning, "Accurate Methods for
  // the Statistics of Surprise and Coincidence", 1993): G² over each
  // pair's 2×2 contingency table — the collocation statistic that
  // stays calibrated at LOW counts, where PMI explodes (Dunning's
  // whole point). G² = 2·Σ_ij O_ij·ln(O_ij·N / (row_i·col_j)), zero
  // cells contribute 0. Every logarithm is taken of a SINGLE integer
  // (plog k + plog N − plog row − plog col — the same value tree in
  // both engines, and no k·N product to overflow 2^53 at corpus
  // scale), so scores are bit-stable. Pairs and marginals come from
  // [[pairMarginals]], as for [[pmiTopK]]: one pair shuffle,
  // vocab-sized broadcast marginals, TakeOrdered selection.
  // -------------------------------------------------------------------
  def llrTopK(docs: DataFrame, window: Int = 2, minCount: Int = 5,
      topN: Int = 100): DataFrame = {
    import graft.functions.PortableMath.plog
    def term(k: Column, r: Column, c: Column, n: Column): Column =
      when(k > 0,
        k.cast("double") * (plog(k.cast("double")) + plog(n.cast("double"))
          - plog(r.cast("double")) - plog(c.cast("double"))))
        .otherwise(lit(0.0))
    val k11 = col("cnt")
    val k12 = col("ca") - col("cnt")
    val k21 = col("cb") - col("cnt")
    val k22 = col("total") - col("ca") - col("cb") + col("cnt")
    pairMarginals(docs, window, minCount)
      .select(col("center"), col("context"), col("cnt"),
        (lit(2.0) * (
          term(k11, col("ca"), col("cb"), col("total"))
            + term(k12, col("ca"), col("total") - col("cb"), col("total"))
            + term(k21, col("total") - col("ca"), col("cb"), col("total"))
            + term(k22, col("total") - col("ca"), col("total") - col("cb"),
                col("total")))).as("llr"))
      .orderBy(col("llr").desc, col("center").asc, col("context").asc)
      .limit(topN)
  }

  def llrTopKSql(window: Int = 2, minCount: Int = 5, topN: Int = 100): String = {
    import graft.functions.PortableMath.plogSql
    def term(k: String, r: String, c: String): String =
      s"""CASE WHEN $k > 0 THEN CAST($k AS DOUBLE) *
         |  ((${plogSql(s"CAST($k AS DOUBLE)")})
         |   + (${plogSql("CAST(t.total AS DOUBLE)")})
         |   - (${plogSql(s"CAST($r AS DOUBLE)")})
         |   - (${plogSql(s"CAST($c AS DOUBLE)")}))
         |  ELSE 0.0 END""".stripMargin
    val llr =
      s"""2.0 * ((${term("p.cnt", "ca.m", "cb.m")})
         | + (${term("ca.m - p.cnt", "ca.m", "t.total - cb.m")})
         | + (${term("cb.m - p.cnt", "t.total - ca.m", "cb.m")})
         | + (${term("t.total - ca.m - cb.m + p.cnt",
              "t.total - ca.m", "t.total - cb.m")}))""".stripMargin
    s"""${pairMarginalsSql(window)}
       |SELECT p.center, p.context, p.cnt, $llr AS llr
       |${pairMarginalsFromSql(minCount)}
       |ORDER BY llr DESC, p.center ASC, p.context ASC LIMIT $topN""".stripMargin
  }

  /** Cross-source contamination matrix: for every source pair, how many
    * distinct word n-gram shingles they share, plus the Jaccard overlap
    * of their shingle sets. The corpus-level twin of doc-level near-dup
    * detection — the number a curator reads before mixing two crawls.
    *
    * Scale shape: distinct (source, shingle) is one shuffle; the
    * self-join reuses that shingle partitioning; per-shingle fan-out is
    * bounded by S² (sources², NOT docs²) so a boilerplate shingle hot
    * in every source emits C(S,2) rows, and the pair counts collapse in
    * map-side partials. */
  def sourceOverlap(docs: DataFrame, n: Int = 3): DataFrame = {
    val sh = docs
      .select(col("source"), tokens(col("text")).as("tk"))
      .select(col("source"), explode(transform(
        sequence(lit(1), greatest(size(col("tk")) - (n - 1), lit(0))),
        i => array_join(slice(col("tk"), i, lit(n)), " "))).as("shingle"))
      .distinct()
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("sz"))
    sh.as("a").join(sh.as("b"), "shingle")
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("sz").as("sza"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("sz").as("szb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("inter"),
        (col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
          .as("jaccard"))
  }

  def sourceOverlapSql(n: Int = 3): String =
    s"""WITH sh AS (SELECT DISTINCT source,
       |  unnest(list_transform(generate_series(1, len(tk) - ${n - 1}),
       |    i -> array_to_string(list_slice(tk, i, i + ${n - 1}), ' '))) AS shingle
       |  FROM (SELECT source, $tokensSql AS tk FROM documents) d),
       |sizes AS (SELECT source, COUNT(*) AS sz FROM sh GROUP BY source),
       |inter AS (
       |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT i.src_a, i.src_b, i.inter,
       |  CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) AS jaccard
       |FROM inter i
       |JOIN sizes sa ON i.src_a = sa.source
       |JOIN sizes sb ON i.src_b = sb.source""".stripMargin

  /** Per-source winsorization (percentile clipping) of document length:
    * clip each doc's length to its source's [qLo, qHi] empirical
    * percentiles — the outlier guard run before length-sensitive
    * training statistics. Percentiles are EXACT RANK-BASED
    * (percentile_disc semantics: the value at row ceil(q·n) of the
    * (len, doc_id)-sorted source) — integer-exact in both engines, no
    * interpolation arithmetic to drift. One window shuffle on source +
    * a broadcast of the S-row bounds table. */
  def winsorize(docs: DataFrame, qLo: Double = 0.05,
      qHi: Double = 0.95): DataFrame = {
    val ranked = docs
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("len"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("len"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
    val bounds = ranked.groupBy("source").agg(
      max(when(col("rn") ===
        greatest(lit(1L), ceil(lit(qLo) * col("n"))), col("len"))).as("lo"),
      max(when(col("rn") === ceil(lit(qHi) * col("n")), col("len"))).as("hi"))
    ranked.join(broadcast(bounds), "source")
      .select(col("doc_id"), col("source"), col("len"),
        least(greatest(col("len"), col("lo")), col("hi")).as("len_w"))
  }

  /** Twin note: the bare literal 0.05 parses as DECIMAL in DuckDB but
    * DOUBLE in Spark — the CAST keeps the rank product the identical
    * IEEE multiply on both sides (ceil of 1.0000000000000002 vs 1.0
    * would otherwise pick different rows). */
  def winsorizeSql(qLo: Double = 0.05, qHi: Double = 0.95): String =
    s"""WITH ranked AS (
       |  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY length(text), doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY source) AS n
       |  FROM documents),
       |bounds AS (
       |  SELECT source,
       |    MAX(CASE WHEN rn = GREATEST(1,
       |      CAST(CEIL(CAST($qLo AS DOUBLE) * n) AS BIGINT)) THEN len END) AS lo,
       |    MAX(CASE WHEN rn =
       |      CAST(CEIL(CAST($qHi AS DOUBLE) * n) AS BIGINT) THEN len END) AS hi
       |  FROM ranked GROUP BY source)
       |SELECT r.doc_id, r.source, r.len,
       |  LEAST(GREATEST(r.len, b.lo), b.hi) AS len_w
       |FROM ranked r JOIN bounds b ON r.source = b.source""".stripMargin

  // -------------------------------------------------------------------
  // Hashing-trick feature vectors
  // -------------------------------------------------------------------

  /** The hashing trick (Weinberger et al. 2009): tokens map to a FIXED
    * `dim`-sized feature space by hash, with a second hash bit giving
    * each token a ±1 sign so collisions cancel in expectation — the
    * vectorizer linear classifiers / quality filters use at corpus
    * scale precisely because it needs NO vocabulary pass, no
    * dictionary broadcast, and its output width is a constant.
    *
    * Output is the sparse triple form (doc_id, feature_idx, weight);
    * exact zero weights (a full ± cancellation inside one document)
    * are dropped — they carry no information and sparse consumers
    * treat absent as zero.
    *
    * Plan: explode + ONE (doc_id, feature_idx) agg with map-side
    * combine — the shuffle carries at most min(tokens, dim) entries
    * per document regardless of document length. md5-60 keys keep the
    * indices and signs bit-identical in the DuckDB twin (production
    * would swap in xxhash64, same shape — the repo's standard
    * two-family pattern). */
  def hashedFeatures(docs: DataFrame, dim: Int = 1024,
      seed: Int = 42): DataFrame = {
    val tok = col("token")
    val idx = pmod(Dedup.md5Hash60(seed, tok), lit(dim.toLong))
    val sign = pmod(Dedup.md5Hash60(seed + 1, tok), lit(2L)) * 2L - 1L
    // Pre-partition the docs by doc_id (explicit count — see
    // Dedup.shingles) before the token explode (r17, guide §2.4):
    // hash(doc_id) satisfies BOTH this (doc_id, feature_idx) aggregate
    // and denseFeatures' downstream per-doc assembly, so the one small
    // docs exchange replaces two exchanges of the exploded token-hash
    // stream, and the md5 hashing fans out to full width instead of
    // inheriting the scan's partitioning.
    docs
      .repartition(
        docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .select(col("doc_id"), idx.as("feature_idx"), sign.as("sign"))
      .groupBy("doc_id", "feature_idx")
      .agg(sum("sign").as("weight"))
      .filter(col("weight") =!= 0L)
  }

  def hashedFeaturesSql(dim: Int = 1024, seed: Int = 42): String = {
    val idx = s"(${Dedup.md5Hash60Sql(seed, "token")}) % $dim"
    val sign = s"((${Dedup.md5Hash60Sql(seed + 1, "token")}) % 2) * 2 - 1"
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($tokensSql) AS token FROM documents),
       |feat AS (
       |  SELECT doc_id, $idx AS feature_idx, $sign AS sign FROM toks)
       |SELECT doc_id, feature_idx, CAST(SUM(sign) AS BIGINT) AS weight
       |FROM feat GROUP BY doc_id, feature_idx
       |HAVING SUM(sign) <> 0""".stripMargin
  }

  // -------------------------------------------------------------------
  // SGNS negative sampling — deterministic draws from unigram^0.75
  // -------------------------------------------------------------------

  /** Deterministic negative sampling for skipgram-with-negative-
    * sampling training data (word2vec, Mikolov 2013): for each of the
    * top skipgram (center, context) pairs, draw `k` negatives from the
    * corpus unigram distribution raised to the classic 3/4 power —
    * WITHOUT randomness, a collect, or a quadratic join.
    *
    * Replacements for the two nondeterminism traps:
    *  - cnt^0.75 is computed as sqrt(sqrt(cnt³)) — cnt³ stays exact in
    *    LONG (cnt ≤ 2·10⁶), the long→double conversion and both sqrts
    *    are IEEE correctly-rounded (sqrt is NOT libm-dependent, unlike
    *    pow/exp), so the weight grid round(·×10⁶) is bit-identical in
    *    both engines;
    *  - the "random" variate per (pair, draw) is md5-60 of the pair
    *    key, reduced mod the total integer weight — reproducible under
    *    any partitioning, any cluster size, any run.
    *
    * The inverse-CDF lookup is the scale-shaped part: vocabulary rows
    * carry exact integer cumulative bounds [cum_lo, cum_hi)
    * ([[Prefix.runningSum]] over the token-ordered vocabulary — a
    * distributed two-pass fold in exact integer arithmetic, so
    * neither fold order nor partition layout can perturb a bit), each row
    * replicates to the fixed-width buckets its interval overlaps, and
    * probes join on the single bucket containing their target — an
    * EQUI join (broadcast — the exploded directory is vocabulary-
    * sized), never a BroadcastNestedLoopJoin range probe. Draws that
    * hit the pair's own center/context are filtered (the word2vec
    * "resample" step made deterministic by dropping instead).
    *
    * 100 TB posture: the unigram count is the only corpus-scale
    * aggregate (token shuffle, map-side partials); everything after is
    * vocabulary×k sized. With per-token cnt capped at 2·10⁶ by the
    * long-exact cnt³ bound, a larger corpus raises counts — production
    * would bump the grid to DECIMAL(38,0) cumsums (same algebra); the
    * cap is documented, not silent. */
  def sgnsNegatives(
      docs: DataFrame, window: Int = 2, topPairs: Int = 100,
      k: Int = 5, seed: Int = 42, buckets: Int = 1024): DataFrame = {
    val tk = tokens(col("text"))
    val cnts = docs
      .select(explode(tk).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    // integer weight grid: round(cnt^0.75 × 1e6) via the sqrt∘sqrt form
    val w = round(sqrt(sqrt((col("cnt") * col("cnt") * col("cnt"))
      .cast("double"))) * 1e6).cast("long")
    // vocabulary-sized running sum — distributed two-pass prefix, not
    // an unpartitioned window (a web-scale vocab is 10^8 rows; one
    // serial partition there is the plan's only non-parallel stage)
    val vocab = Prefix.runningSum(
        cnts.withColumn("w", w), Seq(col("token")), col("w"), "cum_hi")
      .withColumn("cum_lo", col("cum_hi") - col("w"))
    val total = vocab.agg(max("cum_hi").as("total"))
    // all bucket math in exact integer division (SQL `div`) — float
    // division could disagree between directory and probe at an exact
    // bucket boundary and silently drop the join match
    val widthExpr = s"(total + ${buckets - 1}) div $buckets"
    val dir = vocab.crossJoin(broadcast(total))
      .withColumn("width", expr(widthExpr))
      .select(col("token").as("neg_token"), col("cum_lo"), col("cum_hi"),
        explode(sequence(
          expr("cum_lo div width"),
          expr("(cum_hi - 1) div width"))).as("bk"))
    val probes = skipgramPairs(docs, window, topPairs)
      .select(col("center"), col("context"),
        explode(sequence(lit(1), lit(k))).as("neg_idx"))
      .crossJoin(broadcast(total))
      .withColumn("width", expr(widthExpr))
      .withColumn("t", pmod(Dedup.md5Hash60(seed,
        concat_ws("|", col("center"), col("context"),
          col("neg_idx").cast("string"))), col("total")))
      .withColumn("bk", expr("t div width"))
    probes
      .join(broadcast(dir), Seq("bk"))
      .filter(col("t") >= col("cum_lo") && col("t") < col("cum_hi"))
      .filter(col("neg_token") =!= col("center")
        && col("neg_token") =!= col("context"))
      .select("center", "context", "neg_idx", "neg_token")
  }

  def sgnsNegativesSql(
      window: Int = 2, topPairs: Int = 100, k: Int = 5,
      seed: Int = 42): String = {
    val u = Dedup.md5Hash60Sql(seed,
      "(center || '|' || context || '|' || CAST(neg_idx AS VARCHAR))")
    s"""WITH ${symPairsSql(window)},
       |pairs AS (
       |  SELECT center, context, COUNT(*) AS cnt
       |  FROM sym GROUP BY 1, 2
       |  ORDER BY cnt DESC, center ASC, context ASC LIMIT $topPairs),
       |cnts AS (
       |  SELECT unnest(tk) AS token FROM toks),
       |tokcnt AS (
       |  SELECT token, COUNT(*) AS cnt FROM cnts GROUP BY token),
       |vocab AS (
       |  SELECT token,
       |    CAST(SUM(w) OVER (ORDER BY token
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_hi,
       |    CAST(SUM(w) OVER (ORDER BY token
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      - w AS cum_lo
       |  FROM (SELECT token,
       |    CAST(ROUND(SQRT(SQRT(CAST(cnt * cnt * cnt AS DOUBLE))) * 1e6)
       |      AS BIGINT) AS w FROM tokcnt) q),
       |tot AS (SELECT MAX(cum_hi) AS total FROM vocab),
       |probes AS (
       |  SELECT center, context, neg_idx,
       |    ($u) % total AS t
       |  FROM pairs
       |  CROSS JOIN tot
       |  CROSS JOIN (SELECT unnest(generate_series(1, $k)) AS neg_idx) gs)
       |SELECT p.center, p.context, CAST(p.neg_idx AS INTEGER) AS neg_idx,
       |  v.token AS neg_token
       |FROM probes p JOIN vocab v
       |  ON p.t >= v.cum_lo AND p.t < v.cum_hi
       |WHERE v.token <> p.center AND v.token <> p.context""".stripMargin
  }

  // -------------------------------------------------------------------
  // Zipf-law fit: OLS of ln(freq) on ln(rank) over the top-N tokens —
  // the corpus-health statistic (natural language sits near slope -1;
  // boilerplate-flooded or synthetic corpora drift off it, Piantadosi
  // 2014). One token-count shuffle + a TakeOrdered top-N; the
  // regression runs over the CONSTANT-size top-N frame. Cross-engine
  // exactness: ln via PortableMath.plog (rank >= 1, cnt >= 1 — always
  // in plog's domain), both coordinates snapped to a 1e6 integer grid
  // (products stay inside BIGINT), sufficient statistics summed in
  // DECIMAL(38,0)/HUGEINT, floats only at the final divisions
  // ([[LeastSquares]]). The grid cancels algebraically in slope and r2
  // (cov/var ratios). A degenerate top-N reads NULL: slope when it
  // holds one token, r2 also when every token has the same count.
  // -------------------------------------------------------------------
  def zipfSlope(docs: DataFrame, topN: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.PortableMath.plog
    val top = tokenCounts(docs)
      .orderBy(col("cnt").desc, col("token").asc).limit(topN)
    // rank over the constant-size top frame (single tiny partition)
    val ranked = top.withColumn("rk", row_number().over(
      Window.orderBy(col("cnt").desc, col("token").asc)))
    val xy = ranked.select(
      round(plog(col("rk").cast("double")) * 1e6).cast("long").as("x"),
      round(plog(col("cnt").cast("double")) * 1e6).cast("long").as("y"))
    LeastSquares.fit(xy, "slope")
  }

  def zipfSlopeSql(topN: Int = 100): String = {
    import graft.functions.PortableMath.plogSql
    s"""WITH counts AS (
       |  SELECT token, COUNT(*) AS cnt FROM (
       |    SELECT unnest($tokensSql) AS token FROM documents) t
       |  GROUP BY token),
       |ranked AS (
       |  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS rk
       |  FROM counts ORDER BY cnt DESC, token ASC LIMIT $topN),
       |xy AS (
       |  SELECT CAST(ROUND((${plogSql("CAST(rk AS DOUBLE)")}) * 1e6)
       |           AS BIGINT) AS x,
       |         CAST(ROUND((${plogSql("CAST(cnt AS DOUBLE)")}) * 1e6)
       |           AS BIGINT) AS y
       |  FROM ranked),
       |${LeastSquares.fitSql("slope")}""".stripMargin
  }

  // -------------------------------------------------------------------
  // Multinomial naive-Bayes quality classifier, trained AND applied in
  // one declarative plan — the fastText-style linear filter every
  // pretraining pipeline runs (classify docs against a seed corpus,
  // keep high-margin ones). Train split: even doc_ids; scored split:
  // odd doc_ids (held out, so the margin measures generalization, not
  // memorization). Class: lang = 'en'.
  //
  //   w(t)   = ln (cpos(t)+1)/(Npos+V) − ln (cneg(t)+1)/(Nneg+V)
  //   margin = ln (dpos+1)/(dneg+1) + Σ_tokens w(t)      (unseen → w0)
  //
  // Every ln is PortableMath.plog over a ≥1 ratio (arranged as
  // plog(big/small), then subtracted) so the weights are bit-identical
  // in the DuckDB twin; per-token weights are snapped to the 1e-12
  // integer grid ONCE in the |vocab|-sized weights relation, and the
  // per-doc sum runs in DECIMAL(38,0) — token order can't move a bit.
  //
  // Scale: one token-keyed count agg over the train split (map-side
  // partials collapse the Zipf head), two 1-row total aggs broadcast,
  // then the score pass joins exploded test tokens to the
  // |vocab|-sized weights relation — broadcast it when the vocab fits
  // (it's dictionary-sized after DF-capping), else it's one
  // token-keyed shuffle join. Nothing else shuffles raw text.
  // -------------------------------------------------------------------
  def nbScore(docs: DataFrame): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val Grid = 1.0e12
    nbTerms(docs)
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        ((sum(col("tg").cast(Dec)) + min("prg").cast(Dec))
          .cast("string").cast("double") / Grid).as("margin"),
        (max("y") === 1L).as("is_en"))
      .withColumn("pred_en", col("margin") > 0.0)
  }

  /** Per-doc scored NB terms (doc_id, y, tg, prg) before the margin
    * aggregation — shared by [[nbScore]] and the pure-integer
    * [[nbMargins]] diagnostic. */
  private def nbTerms(docs: DataFrame): DataFrame = {
    import graft.functions.PortableMath.plog
    val Grid = 1.0e12
    val lab = docs.withColumn("y",
      when(col("lang") === "en", 1L).otherwise(0L))
    val train = lab.filter(col("doc_id") % 2 === 0)
    val test = lab.filter(col("doc_id") % 2 === 1)
    val counts = explodedTokens(train, "token", col("doc_id"), col("y"))
      .groupBy("token").agg(sum("y").as("cpos"),
        (count(lit(1)) - sum("y")).as("cneg"))
    val tot = counts.agg(sum("cpos").as("npos"), sum("cneg").as("nneg"),
      count(lit(1)).as("v"))
    val dpr = train.agg(sum("y").as("dpos"),
      (count(lit(1)) - sum("y")).as("dneg"))
    val wts = counts.crossJoin(broadcast(tot)).select(col("token"),
      round((plog((col("nneg") + col("v")).cast("double") /
               (col("cneg") + lit(1L)).cast("double")) -
             plog((col("npos") + col("v")).cast("double") /
               (col("cpos") + lit(1L)).cast("double"))) * Grid)
        .cast("long").as("wg"))
    val defaults = tot.crossJoin(dpr).select(
      round((plog((col("nneg") + col("v")).cast("double")) -
             plog((col("npos") + col("v")).cast("double"))) * Grid)
        .cast("long").as("w0g"),
      round((plog((col("dpos") + lit(1L)).cast("double")) -
             plog((col("dneg") + lit(1L)).cast("double"))) * Grid)
        .cast("long").as("prg"))
    explodedTokens(test, "token", col("doc_id"), col("y"))
      .join(wts, Seq("token"), "left")
      .crossJoin(broadcast(defaults))
      .select(col("doc_id"), col("y"),
        coalesce(col("wg"), col("w0g")).as("tg"), col("prg"))
  }

  /** Divergence-pinpointing diagnostic for the NB family: the raw
    * per-doc margin as its exact 1e-12-grid BIGINT (no doubles in the
    * output at all). If the driver's gate ever disagrees on an NB
    * descendant again, this row set names the doc and the exact
    * integer delta; if it matches, the margins are proven identical
    * and any downstream red is a harness artifact, not arithmetic. */
  def nbMargins(docs: DataFrame): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    nbTerms(docs)
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        (sum(col("tg").cast(Dec)) + min("prg").cast(Dec))
          .cast("long").as("mg"))
  }

  def nbMarginsSql: String =
    s"""WITH $nbCtes,
       |mg AS (SELECT doc_id, COUNT(*) AS n_tokens,
       |    CAST(SUM(CAST(tg AS HUGEINT)) + MIN(prg) AS BIGINT) AS mg
       |  FROM terms GROUP BY doc_id)
       |SELECT doc_id, n_tokens, mg FROM mg""".stripMargin

  /** The nbScore CTE chain (everything up to the per-doc margin
    * SELECT), shared by [[nbScoreSql]] and [[nbCalibrationSql]]. */
  private def nbCtes: String = {
    import graft.functions.PortableMath.plogSql
    s"""lab AS (SELECT doc_id, text,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
       |flat_tr AS (SELECT doc_id, y, unnest($tokensSql) AS token
       |  FROM lab WHERE doc_id % 2 = 0),
       |counts AS (SELECT token, SUM(y) AS cpos, COUNT(*) - SUM(y) AS cneg
       |  FROM flat_tr GROUP BY token),
       |tot AS (SELECT SUM(cpos) AS npos, SUM(cneg) AS nneg,
       |    COUNT(*) AS v FROM counts),
       |dpr AS (SELECT SUM(y) AS dpos, COUNT(*) - SUM(y) AS dneg
       |  FROM lab WHERE doc_id % 2 = 0),
       |rat AS (SELECT token,
       |    CAST(nneg + v AS DOUBLE) / CAST(cneg + 1 AS DOUBLE) AS rn,
       |    CAST(npos + v AS DOUBLE) / CAST(cpos + 1 AS DOUBLE) AS rp
       |  FROM counts CROSS JOIN tot),
       |wts AS (SELECT token, CAST(ROUND(
       |    ((${plogSql("rn")}) - (${plogSql("rp")})) * 1e12)
       |    AS BIGINT) AS wg FROM rat),
       |drat AS (SELECT CAST(nneg + v AS DOUBLE) AS dn,
       |    CAST(npos + v AS DOUBLE) AS dp,
       |    CAST(dpos + 1 AS DOUBLE) AS pp, CAST(dneg + 1 AS DOUBLE) AS pn
       |  FROM tot CROSS JOIN dpr),
       |defaults AS (SELECT
       |    CAST(ROUND(((${plogSql("dn")}) - (${plogSql("dp")})) * 1e12)
       |      AS BIGINT) AS w0g,
       |    CAST(ROUND(((${plogSql("pp")}) - (${plogSql("pn")})) * 1e12)
       |      AS BIGINT) AS prg
       |  FROM drat),
       |terms AS (SELECT f.doc_id, f.y, COALESCE(w.wg, d.w0g) AS tg, d.prg
       |  FROM (SELECT doc_id, y, unnest($tokensSql) AS token
       |        FROM lab WHERE doc_id % 2 = 1) f
       |  LEFT JOIN wts w USING (token) CROSS JOIN defaults d),
       |nb AS (SELECT doc_id, COUNT(*) AS n_tokens,
       |  CAST(CAST(SUM(CAST(tg AS HUGEINT)) + MIN(prg) AS VARCHAR)
       |    AS DOUBLE) / 1e12 AS margin,
       |  MAX(y) = 1 AS is_en,
       |  CAST(CAST(SUM(CAST(tg AS HUGEINT)) + MIN(prg) AS VARCHAR)
       |    AS DOUBLE) / 1e12 > 0.0 AS pred_en
       |FROM terms GROUP BY doc_id)""".stripMargin
  }

  def nbScoreSql: String =
    s"WITH $nbCtes\nSELECT doc_id, n_tokens, margin, is_en, pred_en FROM nb"

  // -------------------------------------------------------------------
  // Calibration (reliability) bins over the NB margins: group the
  // scored held-out docs into fixed half-unit margin bins and report
  // the positive fraction per bin — the "is the margin an honest
  // probability signal?" diagnostic that decides where to put the
  // keep/drop threshold. bin = floor(margin·2) is exact (margin is
  // bit-identical cross-engine, ·2 and floor are exact IEEE ops);
  // frac_pos is one division of exact counts. Fixed-width bins, never
  // ntile — no SinglePartition exchange, the bin relation is
  // dictionary-sized at any corpus size.
  // -------------------------------------------------------------------
  def nbCalibration(docs: DataFrame): DataFrame =
    nbScore(docs)
      .select(floor(col("margin") * 2).as("bin"), col("is_en"))
      .groupBy("bin").agg(
        count(lit(1)).as("n"),
        sum(when(col("is_en"), 1L).otherwise(0L)).as("n_pos"))
      .withColumn("frac_pos",
        col("n_pos").cast("double") / col("n").cast("double"))

  // -------------------------------------------------------------------
  // Confusion counts + precision/recall/F1 of the NB predictions on the
  // held-out split — with AUC (StatsOps.aucExact) and the calibration
  // bins this completes the classifier-eval triad. Counts are exact
  // integers from one 1-row agg over the scored docs; the three ratios
  // are single IEEE divisions (F1 via 2·tp/(2·tp+fp+fn) — ONE division,
  // not the p·r composition whose intermediate rounding would differ
  // from the oracle's only if the trees diverged; both engines compute
  // this exact same tree). Degenerate denominators → NULL.
  // -------------------------------------------------------------------
  def nbConfusion(docs: DataFrame): DataFrame = {
    val scored = nbScore(docs)
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    val g = scored.agg(
      cnt(col("pred_en") && col("is_en")).as("tp"),
      cnt(col("pred_en") && !col("is_en")).as("fp"),
      cnt(!col("pred_en") && col("is_en")).as("fn"),
      cnt(!col("pred_en") && !col("is_en")).as("tn"))
    def ratio(num: Column, den: Column) =
      when(den === 0, lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
    g.select(col("tp"), col("fp"), col("fn"), col("tn"),
      ratio(col("tp"), col("tp") + col("fp")).as("precision"),
      ratio(col("tp"), col("tp") + col("fn")).as("recall"),
      ratio(col("tp") * 2, col("tp") * 2 + col("fp") + col("fn")).as("f1"))
  }

  // Every exposed integer aggregate is CAST to BIGINT: DuckDB types
  // SUM(INTEGER) as HUGEINT, and a HUGEINT result column round-trips
  // through pandas as float64 ("21.0" ≠ Spark's int64 "21"), failing a
  // string-canonical hash compare even when the values are identical.
  // The r11/r12 driver fails on exactly this family — the only three
  // queries on the 227-query board with naked-HUGEINT outputs — were
  // this, not value divergence (tools/oracle_type_audit.py guards).
  def nbConfusionSql: String =
    s"""WITH $nbCtes,
       |cm AS (SELECT
       |    CAST(SUM(CASE WHEN pred_en AND is_en THEN 1 ELSE 0 END)
       |      AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN pred_en AND NOT is_en THEN 1 ELSE 0 END)
       |      AS BIGINT) AS fp,
       |    CAST(SUM(CASE WHEN NOT pred_en AND is_en THEN 1 ELSE 0 END)
       |      AS BIGINT) AS fn,
       |    CAST(SUM(CASE WHEN NOT pred_en AND NOT is_en THEN 1 ELSE 0 END)
       |      AS BIGINT) AS tn
       |  FROM nb)
       |SELECT tp, fp, fn, tn,
       |  CASE WHEN tp + fp = 0 THEN NULL
       |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
       |  CASE WHEN tp + fn = 0 THEN NULL
       |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
       |  CASE WHEN tp * 2 + fp + fn = 0 THEN NULL
       |    ELSE CAST(tp * 2 AS DOUBLE) / CAST(tp * 2 + fp + fn AS DOUBLE)
       |  END AS f1
       |FROM cm""".stripMargin

  def nbCalibrationSql: String =
    s"""WITH $nbCtes
       |SELECT CAST(FLOOR(margin * 2) AS BIGINT) AS bin,
       |  COUNT(*) AS n,
       |  CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS frac_pos
       |FROM nb GROUP BY 1""".stripMargin

  // -------------------------------------------------------------------
  // Proper calibration metrics for the NB probabilities — ECE (expected
  // calibration error, Naeini et al. 2015: 10 equal-width probability
  // bins, Σ (n_b/N)·|acc_b − conf_b|), the Brier score, and log-loss.
  // The probabilities come from the PORTABLE sigmoid
  // (PortableMath.pexp/psigmoid — bit-identical in both engines), and
  // log-loss goes through softplus(±margin) so no probability clamping
  // is ever needed: ln(p) = −softplus(−m), ln(1−p) = −softplus(m),
  // with the plog argument always in [1, 2].
  //
  // Every sum crosses engines on the integer grid: conf sums as
  // round(p·1e12), Brier terms as round((p−y)²·1e12), log-loss terms
  // as round(ll·1e12) — exact BIGINT aggregation in any order, one
  // conversion at the end. The ECE absolute-difference algebra stays
  // integral too: (n_b/N)·|acc_b − conf_b| = |npos_b·1e12 − Σpg| /
  // (1e12·N), so ECE is ONE exact integer sum over ≤ 10 bins.
  // 100 TB posture: one scan projection (sigmoid+softplus are scalar
  // codegen), a 10-key agg with map-side partials, a 1-row reduce.
  // -------------------------------------------------------------------
  def nbEce(docs: DataFrame): DataFrame = {
    import graft.functions.PortableMath.{psigmoid, psoftplus}
    val Grid = 1.0e12
    val GridL = 1000000000000L
    val nb = nbScore(docs).select(col("margin"), col("is_en"))
    val scored = nb.select(
      col("is_en"),
      psigmoid(col("margin")).as("p"),
      when(col("is_en"), psoftplus(lit(0.0) - col("margin")))
        .otherwise(psoftplus(col("margin"))).as("ll"))
    val yd = when(col("is_en"), lit(1.0)).otherwise(lit(0.0))
    val rows = scored.select(
      least(floor(col("p") * 10), lit(9L)).as("bin"),
      when(col("is_en"), 1L).otherwise(0L).as("y"),
      round(col("p") * Grid).cast("long").as("pg"),
      round((col("p") - yd) * (col("p") - yd) * Grid).cast("long").as("bg"),
      round(col("ll") * Grid).cast("long").as("lg"))
    // DECIMAL(38,0) sums: the 1e12-grid terms × row counts pass 2^63
    // at large scale (DuckDB's SUM(BIGINT) is HUGEINT — exact — so the
    // Spark side must be exact too); decimal→double converts once at
    // the end, correctly rounded in both engines
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val bins = rows.groupBy("bin").agg(
      count(lit(1)).as("n"), sum("y").as("npos"),
      sum(col("pg").cast(Dec)).as("sumpg"),
      sum(col("bg").cast(Dec)).as("sumbg"),
      sum(col("lg").cast(Dec)).as("sumlg"))
    bins.agg(
        sum("n").as("n"),
        sum(abs(col("npos").cast(Dec) * lit(GridL).cast(Dec)
          - col("sumpg"))).as("enum"),
        sum("sumbg").as("bnum"), sum("sumlg").as("lnum"))
      .select(col("n"),
        (col("enum").cast("double") / (lit(Grid) * col("n").cast("double")))
          .as("ece"),
        (col("bnum").cast("double") / (lit(Grid) * col("n").cast("double")))
          .as("brier"),
        (col("lnum").cast("double") / (lit(Grid) * col("n").cast("double")))
          .as("logloss"))
  }

  def nbEceSql: String = {
    import graft.functions.PortableMath.{pexpSql, plogSql}
    s"""WITH $nbCtes,
       |s0 AS (SELECT is_en, margin,
       |    (${pexpSql("0.0 - ABS(margin)")}) AS enm FROM nb),
       |s1 AS (SELECT is_en, margin,
       |    CASE WHEN margin >= 0.0 THEN 1.0 / (1.0 + enm)
       |      ELSE enm / (1.0 + enm) END AS p,
       |    CASE WHEN is_en THEN 0.0 - margin ELSE margin END AS z,
       |    1.0 + enm AS op
       |  FROM s0),
       |s2 AS (SELECT is_en, p,
       |    GREATEST(z, 0.0) + (${plogSql("op")}) AS ll FROM s1),
       |rws AS (SELECT
       |    LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9) AS bin,
       |    CASE WHEN is_en THEN 1 ELSE 0 END AS y,
       |    CAST(ROUND(p * 1000000000000.0) AS BIGINT) AS pg,
       |    CAST(ROUND((p - (CASE WHEN is_en THEN 1.0 ELSE 0.0 END))
       |      * (p - (CASE WHEN is_en THEN 1.0 ELSE 0.0 END))
       |      * 1000000000000.0) AS BIGINT) AS bg,
       |    CAST(ROUND(ll * 1000000000000.0) AS BIGINT) AS lg
       |  FROM s2),
       |bins AS (SELECT bin, COUNT(*) AS n, SUM(y) AS npos,
       |    SUM(pg) AS sumpg, SUM(bg) AS sumbg, SUM(lg) AS sumlg
       |  FROM rws GROUP BY bin)
       |SELECT CAST(SUM(n) AS BIGINT) AS n,
       |  CAST(SUM(ABS(npos * 1000000000000 - sumpg)) AS DOUBLE)
       |    / (1000000000000.0 * CAST(SUM(n) AS DOUBLE)) AS ece,
       |  CAST(SUM(sumbg) AS DOUBLE)
       |    / (1000000000000.0 * CAST(SUM(n) AS DOUBLE)) AS brier,
       |  CAST(SUM(sumlg) AS DOUBLE)
       |    / (1000000000000.0 * CAST(SUM(n) AS DOUBLE)) AS logloss
       |FROM bins""".stripMargin
  }

  // -------------------------------------------------------------------
  // Ensemble quality gate: majority vote of three INDEPENDENT quality
  // signals — the Gopher heuristic band filter, the Naive-Bayes
  // lang-quality scorer, and the trained logistic regression — over the
  // held-out split (the two learned scorers only score doc_id%2=1 by
  // the shared train/test contract). Production pipelines run exactly
  // this shape: no single gate is trusted alone, a doc survives if ≥2
  // agree. Pure composition of three oracle-gated machineries: one scan
  // each + doc_id-keyed joins (broadcast-scale at the gate SF, plain
  // hash joins at scale; nothing new shuffles).
  // -------------------------------------------------------------------
  def ensembleGate(docs: DataFrame): DataFrame = {
    val g = gopherFilter(docs).select(col("doc_id"), lit(true).as("gok"))
    val nb = nbScore(docs).select(col("doc_id"), col("pred_en").as("nb_en"))
    val lr = logregScore(docs)
      .select(col("doc_id"), col("pred_en").as("lr_en"))
    nb.join(lr, Seq("doc_id"))
      .join(g, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("gok"), lit(false)).as("gopher_ok"),
        col("nb_en"), col("lr_en"))
      .withColumn("keep",
        (col("gopher_ok").cast("int") + col("nb_en").cast("int")
          + col("lr_en").cast("int")) >= 2)
  }

  def ensembleGateSql: String =
    s"""WITH gsel AS (SELECT doc_id FROM (${gopherFilterSql()}) gg),
       |nbsel AS (SELECT doc_id, pred_en AS nb_en FROM ($nbScoreSql) nn),
       |lrsel AS (SELECT doc_id, pred_en AS lr_en
       |  FROM (${logregScoreSql()}) ll)
       |SELECT nbsel.doc_id,
       |  COALESCE(gsel.doc_id IS NOT NULL, FALSE) AS gopher_ok,
       |  nb_en, lr_en,
       |  (CAST(COALESCE(gsel.doc_id IS NOT NULL, FALSE) AS INT) +
       |   CAST(nb_en AS INT) + CAST(lr_en AS INT)) >= 2 AS keep
       |FROM nbsel
       |JOIN lrsel ON nbsel.doc_id = lrsel.doc_id
       |LEFT JOIN gsel ON nbsel.doc_id = gsel.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Tokenizer fertility by source: chars-per-token and bytes-per-token
  // — the standard tokenizer-efficiency readout (a source whose bytes
  // per token runs high is expensive to train on; multilingual corpora
  // live and die by this number). One TextStats scan + one source-keyed
  // aggregate; ratios are IEEE divisions of exact integer sums (counts
  // accumulate in DECIMAL/HUGEINT so order can't move a bit).
  // -------------------------------------------------------------------
  def tokenizerFertility(docs: DataFrame): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val st = graft.functions.VecFunctions.textStats(lower(col("text")), stopwords)
    docs.select(col("source"),
        length(col("text")).cast("long").as("nc"),
        octet_length(col("text")).cast("long").as("nb"),
        st.getItem(0).as("nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt").cast(Dec)).cast("long").as("n_tokens"),
        sum(col("nc").cast(Dec)).cast("long").as("n_chars"),
        sum(col("nb").cast(Dec)).cast("long").as("n_bytes"),
        (sum(col("nc").cast(Dec)).cast("string").cast("double") /
          sum(col("nt").cast(Dec)).cast("string").cast("double"))
          .as("chars_per_token"),
        (sum(col("nb").cast(Dec)).cast("string").cast("double") /
          sum(col("nt").cast(Dec)).cast("string").cast("double"))
          .as("bytes_per_token"))
  }

  def tokenizerFertilitySql: String =
    s"""SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CAST(nt AS HUGEINT)) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CAST(nc AS HUGEINT)) AS BIGINT) AS n_chars,
       |  CAST(SUM(CAST(nb AS HUGEINT)) AS BIGINT) AS n_bytes,
       |  CAST(CAST(SUM(CAST(nc AS HUGEINT)) AS VARCHAR) AS DOUBLE) /
       |    CAST(CAST(SUM(CAST(nt AS HUGEINT)) AS VARCHAR) AS DOUBLE)
       |    AS chars_per_token,
       |  CAST(CAST(SUM(CAST(nb AS HUGEINT)) AS VARCHAR) AS DOUBLE) /
       |    CAST(CAST(SUM(CAST(nt AS HUGEINT)) AS VARCHAR) AS DOUBLE)
       |    AS bytes_per_token
       |FROM (SELECT source,
       |    CAST(length(text) AS BIGINT) AS nc,
       |    CAST(strlen(text) AS BIGINT) AS nb,
       |    CAST(len($tokensSql) AS BIGINT) AS nt
       |  FROM documents) t
       |GROUP BY source""".stripMargin

  // -------------------------------------------------------------------
  // Logistic-regression quality classifier TRAINED IN-ENGINE: batch
  // gradient descent on the TextStats quality features (stopword ratio,
  // type/token ratio, mean token length + bias), `iters` full-batch
  // steps at unit learning rate, then per-doc scores on the held-out
  // split — the trainable sibling of the Naive-Bayes scorer (same
  // doc_id-parity split, same lang='en' target). Each step is ONE scan
  // + ONE 1-row aggregate (4 gradient sums, map-side combined); the
  // weight vector is d+1 doubles collected per step and folded into the
  // next scan as literals, exactly the Lloyd-fit driver-loop shape — at
  // 100 TB the per-step cost is the feature scan, nothing else.
  //
  // Determinism: per-row gradient terms x_j·(y − σ(w·x)) are snapped to
  // the 1e-12 grid and summed in DECIMAL(38,0) (HUGEINT twin) so row
  // order can't move a bit; σ is PortableMath.psigmoid (bit-identical
  // engines); the weight updates and the scoring margin are IDENTICAL
  // IEEE trees in the driver loop and the oracle's unrolled w1..wT
  // CTE chain.
  // -------------------------------------------------------------------
  private def logregFeats(docs: DataFrame): DataFrame = {
    val st = graft.functions.VecFunctions.textStats(lower(col("text")), stopwords)
    docs.select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"), st.as("st"))
      .select(col("doc_id"), col("y"),
        (col("st").getItem(2).cast("double") / col("st").getItem(0)).as("x1"),
        (col("st").getItem(3).cast("double") / col("st").getItem(0)).as("x2"),
        (col("st").getItem(1).cast("double") / col("st").getItem(0)).as("x3"))
  }

  def logregScore(docs: DataFrame, iters: Int = 3): DataFrame = {
    import graft.functions.PortableMath.psigmoid
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val Grid = 1.0e12
    val feats = logregFeats(docs)
    // the train features are scanned once per GD step: materialize once
    val train = feats.filter(col("doc_id") % 2 === 0)
      .select("y", "x1", "x2", "x3").localCheckpoint(true)
    val w = Array.fill(4)(0.0)
    def z: Column =
      lit(w(0)) + lit(w(1)) * col("x1") +
        lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
    for (_ <- 1 to iters) {
      val r = col("y").cast("double") - psigmoid(z)
      val terms = Seq(r, r * col("x1"), r * col("x2"), r * col("x3"))
      val aggs = count(lit(1)).as("n") +:
        terms.zipWithIndex.map { case (t, j) =>
          sum(round(t * Grid).cast("long").cast(Dec)).as(s"g$j") }
      val row = train.agg(aggs.head, aggs.tail: _*).collect()(0)
      val n = row.getLong(0)
      for (j <- 0 to 3)
        w(j) = w(j) +
          row.getDecimal(j + 1).toPlainString.toDouble / (1e12 * n)
    }
    feats.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), z.as("margin"), psigmoid(z).as("prob"),
        (col("y") === 1L).as("is_en"), (z > 0.0).as("pred_en"))
  }

  /** DuckDB twin: the same `iters` steps as unrolled w1..wT CTEs (σ
    * aliased per round so psigmoidSql's multi-reference expansion stays
    * a column read, per the psoftplus note in PortableMath). */
  def logregScoreSql(iters: Int = 3): String = {
    import graft.functions.PortableMath.psigmoidSql
    val stops = stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    def rnd(i: Int): String = {
      def g(t: String, j: Int) =
        s"SUM(CAST(CAST(ROUND($t) AS BIGINT) AS HUGEINT)) AS g$j"
      s"""z$i AS (SELECT y, x1, x2, x3,
         |    w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3 AS z
         |  FROM tr, w${i - 1} w),
         |s$i AS (SELECT y, x1, x2, x3, ${psigmoidSql("z")} AS sg FROM z$i),
         |g$i AS MATERIALIZED (SELECT COUNT(*) AS n,
         |    ${g("(CAST(y AS DOUBLE) - sg) * 1e12", 0)},
         |    ${g("((CAST(y AS DOUBLE) - sg) * x1) * 1e12", 1)},
         |    ${g("((CAST(y AS DOUBLE) - sg) * x2) * 1e12", 2)},
         |    ${g("((CAST(y AS DOUBLE) - sg) * x3) * 1e12", 3)}
         |  FROM s$i),
         |w$i AS (SELECT
         |    w.w0 + CAST(CAST(g.g0 AS VARCHAR) AS DOUBLE) / (1e12 * g.n) AS w0,
         |    w.w1 + CAST(CAST(g.g1 AS VARCHAR) AS DOUBLE) / (1e12 * g.n) AS w1,
         |    w.w2 + CAST(CAST(g.g2 AS VARCHAR) AS DOUBLE) / (1e12 * g.n) AS w2,
         |    w.w3 + CAST(CAST(g.g3 AS VARCHAR) AS DOUBLE) / (1e12 * g.n) AS w3
         |  FROM w${i - 1} w, g$i g)""".stripMargin
    }
    s"""WITH feats AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |    CAST(len(list_filter(toks, t -> list_contains($stops, t))) AS DOUBLE)
       |      / len(toks) AS x1,
       |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS x2,
       |    CAST(list_reduce(list_prepend(0, list_transform(toks, t -> CAST(length(t) AS BIGINT))), (a, b) -> a + b) AS DOUBLE)
       |      / len(toks) AS x3
       |  FROM (SELECT doc_id, lang, $tokensSql AS toks FROM documents) d),
       |tr AS MATERIALIZED (SELECT y, x1, x2, x3 FROM feats WHERE doc_id % 2 = 0),
       |w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
       |${(1 to iters).map(rnd).mkString(",\n")},
       |fin AS (SELECT doc_id, y,
       |    w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3 AS margin
       |  FROM feats, w$iters w WHERE doc_id % 2 = 1)
       |SELECT doc_id, margin, ${psigmoidSql("margin")} AS prob,
       |  y = 1 AS is_en, margin > 0.0 AS pred_en
       |FROM fin""".stripMargin
  }
}
