package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the LLM-data-pipeline surface (builder
  * brief / SURVEY.md §2.2): exact, n-gram Jaccard, MinHash+LSH banding,
  * and SimHash. The oracle-checkable ops (exact, Jaccard) have DuckDB
  * twins; the hash-family ops (MinHash/SimHash — engine-specific hash
  * functions) are covered by planted-duplicate recall tests instead.
  *
  * 100 TB posture: nothing here is all-pairs. Exact dedup is one
  * hash-shuffle on the key; Jaccard joins only docs sharing a shingle
  * (inverted-index blocking); MinHash/SimHash shuffle on (band, bandHash)
  * buckets — O(n·bands) rows through the wire, pairs generated only
  * within buckets.
  */
object Dedup {

  // -------------------------------------------------------------------
  // Exact dedup: keep the lowest doc_id per identical text. One
  // hash-partition shuffle on the (high-cardinality, unskewed) text key
  // with map-side partial min — the canonical scale shape. An
  // alternative key is TextOps.fingerprint(text) (fixed 8-byte key vs
  // arbitrarily long text — cheaper to shuffle at 100 TB).
  // -------------------------------------------------------------------
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "text")

  val exactSql: String =
    "SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text"

  /** Exact-dup groups by content fingerprint: (fp, n_copies, keeper). */
  def exactByFingerprint(docs: DataFrame): DataFrame =
    TextOps.fingerprints(docs)
      .groupBy("fp")
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper"))

  val exactByFingerprintSql: String =
    s"""SELECT fp, COUNT(*) AS n_copies, MIN(doc_id) AS keeper
       |FROM (${TextOps.fingerprintsSql}) f GROUP BY fp""".stripMargin

  /** Exact-dup groups by 128-bit content digest. The rolling-hash
    * fingerprint key is 30 bits — expected n²/2·1e-9 collisions make it
    * a FAST PATH only (26 measured at 200k docs, DedupBench); at
    * LLM-corpus scale (1e10+ docs) the production exact-dedup key is a
    * 128-bit digest, where collisions are ~n²/2^129 ≈ never. Still a
    * fixed 16-byte shuffle key vs arbitrarily long text, and both
    * engines emit the identical lowercase hex, so it stays fully
    * oracle-checkable. */
  def exactByDigest(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
      .groupBy("digest")
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper"))

  val exactByDigestSql: String =
    """SELECT md5(text) AS digest, COUNT(*) AS n_copies,
      |       MIN(doc_id) AS keeper
      |FROM documents GROUP BY md5(text)""".stripMargin

  /** Duplication-growth (novelty) curve over ingestion order: split the
    * doc_id range into `buckets` equal slices and report, per slice, how
    * many docs are exact copies of a doc from ANY earlier position —
    * the "is my nth crawl still adding new content?" census a corpus
    * owner reads before paying for the next crawl (duplication grows
    * superlinearly as a source saturates; cf. the dedup curves in Lee
    * et al. 2022 §5). A doc is a dup iff its doc_id is not the minimum
    * doc_id of its 128-bit digest group, so "earlier" is exact, not
    * per-bucket-approximate.
    *
    * Shape: one digest-keyed aggregate (16-byte keys, never text) + a
    * digest-keyed join back + a `buckets`-group aggregate. Bucketing is
    * floor((doc_id − min_id)·buckets / (max_id − min_id + 1)) in double
    * space — exact IEEE in both engines (products < 2^53 for id spans
    * ≤ ~9e14 at buckets=10, correctly-rounded division, floor) and, by
    * anchoring at min_id and dividing by the span + 1, always lands in
    * [0, buckets) for 1-based or gapped ids too (r14 advice: the n-based
    * form put the max doc of a non-dense-0-based corpus in an
    * out-of-range bucket == buckets). */
  def noveltyCurve(docs: DataFrame, buckets: Int = 10): DataFrame = {
    val fp = docs.select(col("doc_id"),
      md5(col("text").cast("binary")).as("digest"))
    val first = fp.groupBy("digest").agg(min("doc_id").as("first_id"))
    val ids = docs.agg(min("doc_id").as("min_id"), max("doc_id").as("max_id"))
    fp.join(first, "digest")
      .crossJoin(broadcast(ids))
      .select(
        floor((col("doc_id") - col("min_id")).cast("double") * buckets
          / (col("max_id") - col("min_id") + lit(1L)).cast("double"))
          .cast("long").as("bucket"),
        (col("doc_id") > col("first_id")).as("is_dup"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
      .select(col("bucket"), col("n_docs"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_docs")).as("dup_frac"))
  }

  def noveltyCurveSql(buckets: Int = 10): String =
    s"""WITH fp AS (SELECT doc_id, md5(text) AS digest FROM documents),
       |first AS (SELECT digest, MIN(doc_id) AS first_id
       |          FROM fp GROUP BY digest),
       |ids AS (SELECT MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
       |        FROM documents),
       |tagged AS (
       |  SELECT CAST(FLOOR(CAST(f.doc_id - ids.min_id AS DOUBLE) * $buckets
       |    / CAST(ids.max_id - ids.min_id + 1 AS DOUBLE)) AS BIGINT) AS bucket,
       |    f.doc_id > fi.first_id AS is_dup
       |  FROM fp f JOIN first fi ON f.digest = fi.digest, ids)
       |SELECT bucket, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*) AS dup_frac
       |FROM tagged GROUP BY bucket""".stripMargin

  // -------------------------------------------------------------------
  // Incremental (batch-vs-corpus) dedup — the production shape: a new
  // crawl/batch arrives and must be deduped AGAINST the accumulated
  // corpus, not against itself. Anti join on the 128-bit content
  // digest: the history side ships only 16-byte digests (never text) —
  // at 100 TB the history digest relation is ~1% of the corpus bytes
  // and can itself be a pre-materialized, bucketed table so arriving
  // batches join with zero history re-scan. One shuffle on the digest
  // (or none if history digests are bucket-pre-partitioned).
  // -------------------------------------------------------------------

  /** Batch docs whose exact text does not occur in `history` (the
    * batch itself is NOT self-deduped — that's `exact`, composable
    * in front). */
  def dedupAgainstExact(history: DataFrame, batch: DataFrame): DataFrame = {
    val dig = (d: DataFrame) => d.withColumn(
      "__digest", md5(col("text").cast("binary")))
    dig(batch)
      .join(dig(history).select("__digest"), Seq("__digest"), "left_anti")
      .select("doc_id", "text")
  }

  /** Incremental NEAR-dup dedup: batch docs with no verified minhash
    * near-dup in `history` (md5-affine oracle family; the xxhash64
    * production family composes identically). Candidates are
    * CROSS-SIDE only — history×history and batch×batch bucket
    * collisions never join, so the pair work is |batch|-proportional,
    * not |corpus|². Shingle DF capping spans history ∪ batch (the
    * corpus the batch will join). In production the history
    * signatures/bucket relation is write-once per ingest and persisted
    * partitioned by (band, bucket) — the IvfIndex pattern — so each
    * arriving batch probes it without re-hashing the corpus. */
  /** (doc_id, band, bucket) LSH banding over the md5-affine signature
    * family — shared by the in-plan incremental dedup and the
    * persisted DedupIndex. */
  private[ops] def md5BandBuckets(
      docs: DataFrame, n: Int, numPerm: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numPerm / rowsPerBand
    minhashSignaturesMd5(docs, n, numPerm).select(
        col("doc_id"),
        posexplode(transform(
          sequence(lit(0), lit(numBands - 1)),
          b => Md5BandHash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .toDF("doc_id", "band", "bucket")
  }

  /** Exact-Jaccard verification of CROSS-SIDE candidates over an
    * already-capped shingle relation, then anti-join: batch docs with
    * no verified near-dup. Shared by [[dedupAgainstNearMd5]] and
    * [[DedupIndex.probe]]. */
  private[ops] def survivorsOfCross(
      batch: DataFrame, cands0: DataFrame, cappedSh: DataFrame,
      threshold: Double): DataFrame = {
    // Eager localCheckpoint, not cache: both relations are candidate-
    // bounded (tiny), but their LINEAGE carries the full 64-permutation
    // minhash expression forest — with cache() Catalyst re-optimizes
    // that forest on every downstream action (measured: ~4 s of pure
    // driver planning at sf0.1 for a 9k-row verify input). Truncating
    // the plan makes every later action plan from a short scan. On a
    // cluster with executor loss, swap for reliable checkpoint().
    val cands = cands0.localCheckpoint(true)
    val candIds = cands.select(col("da").as("doc_id"))
      .unionAll(cands.select(col("db").as("doc_id"))).distinct()
    val sh = cappedSh.join(candIds, Seq("doc_id"), "left_semi").localCheckpoint(true)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = sh.select(col("doc_id").as("da"), col("shingle"))
    val b = sh.select(col("doc_id").as("db"), col("shingle"))
    // candidate-bounded verify (same shape as prefixJaccardPairs):
    // expand each candidate pair by da's shingles, then join on the
    // composite (db, shingle) key — the intermediate is |cands|·avg-set
    // rows, never the full shingle self-equijoin of candidate docs
    // (which pairs every two candidate docs sharing ANY shingle, not
    // just the candidate pairs).
    val verified = cands.join(a, Seq("da"))
      .join(b, Seq("db", "shingle"))
      .groupBy("da", "db").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("da"), col("sz").as("sza")), Seq("da"))
      .join(sizes.select(col("doc_id").as("db"), col("sz").as("szb")), Seq("db"))
      .filter(col("inter").cast("double") /
        (col("sza") + col("szb") - col("inter")) >= threshold)
    batch
      .join(verified.select(col("db").as("doc_id")), Seq("doc_id"), "left_anti")
      .select("doc_id", "text")
  }

  def dedupAgainstNearMd5(
      history: DataFrame, batch: DataFrame,
      n: Int = 3, numPerm: Int = 64, rowsPerBand: Int = 4,
      threshold: Double = 0.8, maxDf: Int = DefaultMaxDf): DataFrame = {
    val all = history.select(col("doc_id"), col("text"))
      .unionByName(batch.select(col("doc_id"), col("text")))
    val buckets = md5BandBuckets(all, n, numPerm, rowsPerBand).cache()
    val h = buckets.join(history.select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("da"), col("band"), col("bucket"))
    val bb = buckets.join(batch.select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("db"), col("band"), col("bucket"))
    val cands = h.join(bb, Seq("band", "bucket")).select("da", "db").distinct()
    survivorsOfCross(batch, cands,
      cappedShingles(shingles(all, n), maxDf), threshold)
  }

  /** DuckDB twin of [[dedupAgainstNearMd5]] for a documents-table
    * split: `histCond`/`batchCond` render the side predicates for a
    * given doc_id expression. */
  def dedupAgainstNearMd5Sql(
      histCond: String => String, batchCond: String => String,
      n: Int = 3, numPerm: Int = 64, rowsPerBand: Int = 4,
      threshold: Double = 0.8, maxDf: Int = DefaultMaxDf): String = {
    s"""WITH sh0 AS (${shinglesSql(n)}),
       |hs AS (SELECT doc_id, ${md5Base30Sql("shingle")} AS h FROM sh0),
       |${bandsSql(numPerm, rowsPerBand)},
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE ${histCond("a.doc_id")} AND ${batchCond("b.doc_id")}),
       |${candShinglesSql(maxDf)},
       |verified AS (
       |  SELECT i.da, i.db FROM (
       |    SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
       |    FROM sh a JOIN sh b ON a.shingle = b.shingle
       |    WHERE EXISTS (SELECT 1 FROM cands c
       |                  WHERE c.da = a.doc_id AND c.db = b.doc_id)
       |    GROUP BY 1, 2) i
       |  JOIN sizes sa ON i.da = sa.doc_id
       |  JOIN sizes sb ON i.db = sb.doc_id
       |  WHERE CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter)
       |        >= $threshold)
       |SELECT d.doc_id, d.text FROM documents d
       |WHERE ${batchCond("d.doc_id")}
       |  AND NOT EXISTS (SELECT 1 FROM verified v WHERE v.db = d.doc_id)""".stripMargin
  }

  // -------------------------------------------------------------------
  // Word n-gram shingles (default n=3), distinct per doc.
  // -------------------------------------------------------------------
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    // Per-doc array_distinct BEFORE the explode instead of a row-level
    // .distinct() after it (r17, guide §2.4): doc_id is unique per
    // input row, so "distinct (doc_id, shingle)" is exactly "distinct
    // shingle within each doc" — a per-row projection. The previous
    // shape paid a full exchange of the exploded (doc_id, shingle)
    // string stream in EVERY consumer before its own shingle-keyed
    // shuffle. The docs are first spread to shuffle-partitions width
    // (explicit count — AQE would coalesce a keyless-count repartition
    // of the byte-tiny docs relation to ~1 partition, §2.5): without
    // it the tokenize+explode+dedup work inherits the SCAN parallelism
    // of one small parquet file in local mode, and that heavy
    // projection is exactly what must fan out.
    docs.repartition(
        docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_id"))
      .select(
        col("doc_id"),
        TextOps.tokens(col("text")).as("tk"))
      .select(
        col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), greatest(size(col("tk")) - (n - 1), lit(0))),
          i => array_join(slice(col("tk"), i, lit(n)), " ")))).as("shingle"))

  def shinglesSql(n: Int = 3): String =
    s"""SELECT DISTINCT doc_id,
       |  unnest(list_transform(generate_series(1, len(tk) - ${n - 1}),
       |    i -> array_to_string(list_slice(tk, i, i + ${n - 1}), ' '))) AS shingle
       |FROM (SELECT doc_id,
       |  list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
       |  FROM documents) d""".stripMargin

  /** Default document-frequency cap for blocking shingles. A shingle
    * appearing in more than `maxDf` documents contributes O(df²) pairs to
    * the blocking join but almost no discrimination (it's corpus
    * boilerplate) — at 100 TB one hot 3-gram is a quadratic bomb. Capped
    * relations define Jaccard over the KEPT (discriminative) shingle
    * sets — a standard, well-defined approximation that is EXACT whenever
    * no shingle in either doc exceeds the cap (always true on the test
    * fixtures; DedupSpec asserts results are unchanged). */
  val DefaultMaxDf: Int = 1000

  /** Shingles restricted to those with document frequency <= maxDf.
    * One extra aggregate+semi-join, both keyed on `shingle` — the same
    * key as the downstream blocking join, so co-partitioned. */
  def cappedShingles(sh: DataFrame, maxDf: Int): DataFrame = {
    val keep = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("shingle")
    sh.join(keep, Seq("shingle"), "left_semi")
  }

  // -------------------------------------------------------------------
  // N-gram Jaccard near-dup join with inverted-index blocking: only doc
  // pairs sharing >= 1 (DF-capped) shingle are compared. |A∩B| comes from
  // the blocking join's group count; |A∪B| = |A|+|B|-|A∩B|. The shuffle
  // key is the shingle (bounded skew for 3-grams, hard-bounded by the DF
  // cap); the pair aggregation shuffles candidate pairs only — never n².
  // -------------------------------------------------------------------
  def ngramJaccardPairs(
      docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
      maxDf: Int = DefaultMaxDf): DataFrame =
    overlaps(cappedShingles(shingles(docs, n), maxDf).cache())
      .withColumn("jaccard", jaccard)
      .filter(col("jaccard") >= threshold)
      .select("da", "db", "inter", "jaccard")

  /** Shingle overlap of every two docs of `sh` (doc_id, shingle) that
    * share a shingle: (da < db, inter = |A∩B|, sza = |A|, szb = |B|).
    * The shuffle key is the shingle; `keep` may narrow the pair stream
    * before the pair count (to LSH candidates, in [[verifyCandidates]]). */
  private def overlaps(
      sh: DataFrame, keep: DataFrame => DataFrame = d => d): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = sh.select(col("doc_id").as("da"), col("shingle"))
    val b = sh.select(col("doc_id").as("db"), col("shingle"))
    keep(a.join(b, Seq("shingle")).filter(col("da") < col("db")))
      .groupBy("da", "db").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("da"), col("sz").as("sza")), Seq("da"))
      .join(sizes.select(col("doc_id").as("db"), col("sz").as("szb")), Seq("db"))
  }

  /** |A∩B| / |A∪B| over [[overlaps]]' columns. */
  private val jaccard =
    col("inter").cast("double") / (col("sza") + col("szb") - col("inter"))

  /** SQL twin of [[overlaps]] over the DF-capped shingles, closed by
    * the pair `measure` columns and the `keep` predicate. */
  private def overlapsSql(
      n: Int, maxDf: Int, measure: String, keep: String): String =
    s"""WITH sh0 AS (${shinglesSql(n)}),
       |sh AS (SELECT doc_id, shingle FROM sh0 WHERE shingle IN (
       |  SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= $maxDf)),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT da, db, inter,
       |       $measure
       |FROM inter
       |JOIN sizes sa ON da = sa.doc_id
       |JOIN sizes sb ON db = sb.doc_id
       |WHERE $keep""".stripMargin

  def ngramJaccardPairsSql(
      n: Int = 3, threshold: Double = 0.8, maxDf: Int = DefaultMaxDf): String =
    overlapsSql(n, maxDf,
      "CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard",
      s"CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= $threshold")

  /** Directed n-gram CONTAINMENT pairs: c(a→b) = |A∩B| / |A| — the
    * asymmetric cousin of Jaccard that resemblance misses (a short
    * quote fully inside a long doc has tiny Jaccard but containment 1;
    * Broder 1997 distinguishes exactly these two). Reports both
    * directions per unordered pair and keeps those where either side is
    * ≥ `threshold` — the "doc A is (nearly) inside doc B" detector for
    * quote/boilerplate/subset dedup. The DF-capped inverted-index
    * blocking and intersection join are [[overlaps]], as for
    * [[ngramJaccardPairs]]; only the measure differs. */
  def ngramContainmentPairs(
      docs: DataFrame, n: Int = 3, threshold: Double = 0.9,
      maxDf: Int = DefaultMaxDf): DataFrame =
    overlaps(cappedShingles(shingles(docs, n), maxDf).cache())
      .withColumn("cont_ab", col("inter").cast("double") / col("sza"))
      .withColumn("cont_ba", col("inter").cast("double") / col("szb"))
      .filter(greatest(col("cont_ab"), col("cont_ba")) >= threshold)
      .select("da", "db", "inter", "cont_ab", "cont_ba")

  def ngramContainmentPairsSql(
      n: Int = 3, threshold: Double = 0.9, maxDf: Int = DefaultMaxDf): String =
    overlapsSql(n, maxDf,
      """CAST(inter AS DOUBLE) / sa.sz AS cont_ab,
        |       CAST(inter AS DOUBLE) / sb.sz AS cont_ba""".stripMargin,
      s"""GREATEST(CAST(inter AS DOUBLE) / sa.sz,
         |               CAST(inter AS DOUBLE) / sb.sz) >= $threshold""".stripMargin)

  /** Cross-source near-dup matrix — which sources copy which: the
    * verified n-gram Jaccard pair relation aggregated by unordered
    * source pair. The diagonal (source_a = source_b) is within-source
    * boilerplate; heavy off-diagonal cells are syndication/mirroring
    * between feeds — the corpus-forensics census that decides whether
    * to dedup within or across source partitions, and which feed to
    * drop when paying for overlap twice. Pair generation is the same
    * DF-capped inverted-index blocking as [[ngramJaccardPairs]]; this
    * adds two doc_id-keyed joins shipping only (doc_id, source) and a
    * |sources|²-group aggregate. */
  def sourceMatrix(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
      maxDf: Int = DefaultMaxDf): DataFrame = {
    val pairs = ngramJaccardPairs(docs, n, threshold, maxDf)
      .select("da", "db")
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("da"), col("source").as("sa")), Seq("da"))
      .join(src.select(col("doc_id").as("db"), col("source").as("sb")), Seq("db"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  def sourceMatrixSql(n: Int = 3, threshold: Double = 0.8,
      maxDf: Int = DefaultMaxDf): String =
    s"""WITH pp AS (SELECT da, db
       |  FROM (${OracleCtes.materialize(
            ngramJaccardPairsSql(n, threshold, maxDf))}) q)
       |SELECT LEAST(sa.source, sb.source) AS source_a,
       |  GREATEST(sa.source, sb.source) AS source_b,
       |  COUNT(*) AS n_pairs
       |FROM pp
       |JOIN documents sa ON pp.da = sa.doc_id
       |JOIN documents sb ON pp.db = sb.doc_id
       |GROUP BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // Prefix-filtering similarity self-join (SSJoin/All-Pairs/PPJoin
  // family: Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07, Xiao et
  // al. WWW'08). The alternative scalability mechanism to the DF cap
  // above — LOSSLESS instead of approximate. Order each doc's shingle
  // set by ascending global document frequency (rarest first; ties by
  // shingle string so the order is total and engine-independent) and
  // index only the first p = |x| - ceil(t·|x|) + 1 shingles: two sets
  // with Jaccard >= t must overlap within these prefixes (if they
  // shared none, the intersection is bounded by the suffix length
  // ceil(t|x|)-1 < t·|union|), so candidate generation over prefixes
  // alone finds every qualifying pair. The quadratic-bomb boilerplate
  // shingle sorts LAST by DF and almost never enters a prefix — the
  // hot key disarms itself, no cap or tuning knob needed.
  //
  // 100 TB posture: the inverted index carries ~(1-t)·|shingles| + n
  // entries (20% + 1/doc at t=0.8); candidate verification joins the
  // candidate pairs back against the full shingle relation on the
  // composite (doc, shingle) key — candidate-bounded, never n². Three
  // shuffles total (DF agg reuses the shingle key; rank window on
  // doc_id; pair agg), all on unskewed keys.
  // -------------------------------------------------------------------
  def prefixJaccardPairs(
      docs: DataFrame, n: Int = 3, threshold: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingles(docs, n).cache()
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val ranked = sh.join(dfreq, Seq("shingle"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df").asc, col("shingle").asc)))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
    // ceil over t·sz guarded against FP over-rounding: when t·sz is
    // mathematically integral (e.g. t=0.75, sz=8) the product can float
    // a hair above the integer and over-ceil, shortening the prefix
    // below the lossless bound. The -1e-9 nudge is safe for any t,sz
    // realistically in range (t·sz has ulp << 1e-9 for sz < 2^40).
    val prefix = ranked
      .filter(col("rk") <=
        col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
      .select("doc_id", "shingle")
    val cand = prefix.select(col("doc_id").as("da"), col("shingle"))
      .join(prefix.select(col("doc_id").as("db"), col("shingle")), Seq("shingle"))
      .filter(col("da") < col("db"))
      .select("da", "db").distinct()
    // exact verify: expand each candidate pair by da's full shingle set,
    // keep the shingles db also holds — the second join is on the
    // composite (db, shingle) key, so the intermediate stays
    // candidate-bounded (|cand| × avg set size), never a cross product
    val inter = cand
      .join(sh.select(col("doc_id").as("da"), col("shingle")), Seq("da"))
      .join(sh.select(col("doc_id").as("db"), col("shingle")), Seq("db", "shingle"))
      .groupBy("da", "db").agg(count(lit(1)).as("inter"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    inter
      .join(sizes.select(col("doc_id").as("da"), col("sz").as("sza")), Seq("da"))
      .join(sizes.select(col("doc_id").as("db"), col("sz").as("szb")), Seq("db"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("da", "db", "inter", "jaccard")
  }

  def prefixJaccardPairsSql(n: Int = 3, threshold: Double = 0.8): String =
    s"""WITH sh AS (${shinglesSql(n)}),
       |dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
       |ranked AS (
       |  SELECT s.doc_id, s.shingle,
       |    ROW_NUMBER() OVER (PARTITION BY s.doc_id
       |      ORDER BY d.df ASC, s.shingle ASC) AS rk,
       |    COUNT(*) OVER (PARTITION BY s.doc_id) AS sz
       |  FROM sh s JOIN dfreq d ON s.shingle = d.shingle),
       |prefix AS (SELECT doc_id, shingle FROM ranked
       |  WHERE rk <= sz - CEIL($threshold * sz - 1e-9) + 1),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM prefix a JOIN prefix b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT c.da, c.db, COUNT(*) AS inter
       |  FROM cand c
       |  JOIN sh x ON x.doc_id = c.da
       |  JOIN sh y ON y.doc_id = c.db AND y.shingle = x.shingle
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)
       |SELECT da, db, inter,
       |       CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
       |FROM inter
       |JOIN sizes sa ON da = sa.doc_id
       |JOIN sizes sb ON db = sb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= $threshold""".stripMargin

  // -------------------------------------------------------------------
  // Hash families. Production is xxhash64 (codegen'd, engine-native —
  // not DuckDB-expressible, so those queries are test-carried). The
  // md5-60 family below is the ORACLE twin family: both engines agree
  // bit-exactly on "value of the first 15 hex digits (60 bits) of
  // md5(seed || '|' || s)", which makes the ENTIRE minhash/simhash
  // pipeline (signatures → banding → candidates → verify) replayable in
  // DuckDB. Same operator shapes, same shuffle structure — only the
  // hash kernel differs.
  // -------------------------------------------------------------------

  /** 60-bit seeded hash both engines compute identically. */
  def md5Hash60(seed: Int, s: Column): Column =
    conv(substring(md5(concat(lit(s"$seed|"), s).cast("binary")), 1, 15), 16, 10)
      .cast("long")

  def md5Hash60Sql(seed: Int, expr: String): String =
    s"CAST(('0x' || substr(md5('$seed|' || $expr), 1, 15)) AS BIGINT)"

  /** Production base hash: ONE xxhash64 per shingle, folded to 30
    * bits — the numPerm permutations are affine transforms of this
    * base (below), never numPerm string hashes per shingle. (The
    * first shape hashed the shingle string once PER PERMUTATION:
    * 64 string hashes per shingle row made the xxhash64 "fast"
    * family 3x SLOWER than its md5 oracle twin at sf1 — 91 s vs
    * 33 s — because the md5 twin already used the hash-once-affine
    * construction.) */
  def xxBase30(s: Column): Column =
    xxhash64(s).bitwiseAND(lit(Base30Mask))

  /** The md5 signature family is ONE md5 per shingle (a 30-bit base
    * hash), then numPerm affine universal-hash permutations
    * h_p = (a_p·h + b_p) mod P — the textbook MinHash construction
    * (Broder; Carter-Wegman universal hashing). All follow-up math is
    * int64 (products < 2^60), so the whole family is DuckDB-exact at
    * 1/numPerm-th the md5 cost of hashing per permutation (measured:
    * 16.9 s → ~4 s at sf0.1 for the 64-perm pipeline). */
  val MinhashPrime: Long = 1073741789L // largest prime < 2^30
  private val Base30Mask: Long = (1L << 30) - 1

  def md5Base30(s: Column): Column = md5Hash60(0, s).bitwiseAND(lit(Base30Mask))
  def md5Base30Sql(expr: String): String =
    s"(${md5Hash60Sql(0, expr)} & $Base30Mask)"

  /** Deterministic seeded affine constants (a_p in [1, P), b_p in
    * [0, P)) — inlined as literals into the DuckDB twin, like the LSH
    * hyperplanes. */
  def affineConsts(numPerm: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(9001)
    Seq.fill(numPerm)(
      (1L + rnd.nextLong(MinhashPrime - 1), rnd.nextLong(MinhashPrime)))
  }

  /** Band-bucket key from a band's signature slice: production family. */
  val XxBandHash: Column => Column = arr => xxhash64(arr)
  /** Oracle family: md5 hex of the comma-joined decimal values (DuckDB:
    * md5(m0::VARCHAR || ',' || ...)). */
  val Md5BandHash: Column => Column = arr =>
    md5(concat_ws(",", transform(arr, _.cast("string"))).cast("binary"))

  // -------------------------------------------------------------------
  // MinHash signatures + LSH banding. numPerm affine permutations of
  // one base hash per shingle, min-folded per doc and grouped into
  // bands of `rowsPerBand`; docs agreeing on a whole band land in the
  // same bucket. Signature computation is one doc_id-keyed aggregate
  // with map-side partials (the shuffle carries numPerm longs per
  // doc, never the shingles); the bucket join shuffles O(n·bands)
  // rows. P[bucket-collision] = 1-(1-j^r)^b — with 64 perms,
  // 16 bands × 4 rows, j=0.8 docs collide w.p. ~99.98%.
  // -------------------------------------------------------------------
  def minhashSignatures(
      docs: DataFrame, n: Int = 3, numPerm: Int = 64): DataFrame =
    signatures(docs, n, numPerm, xxBase30)

  /** Signatures over the md5-affine family: one md5 base hash per
    * shingle, the same DAG as [[minhashSignatures]] ([[signatures]]). */
  def minhashSignaturesMd5(
      docs: DataFrame, n: Int = 3, numPerm: Int = 64): DataFrame =
    signatures(docs, n, numPerm, md5Base30)

  /** (doc_id, sig): numPerm affine permutations of the 30-bit `base`
    * hash of each shingle, min-folded per doc. */
  private def signatures(
      docs: DataFrame, n: Int, numPerm: Int, base: Column => Column): DataFrame = {
    // Shape matters twice. (1) A nested transform(sequence, p ->
    // array_min(transform(sh, ...))) would be a CodegenFallback
    // (interpreted) per row — exploding shingles and taking numPerm
    // min() aggregates keeps everything inside whole-stage codegen +
    // a partial/final HashAggregate, and the shuffle carries only
    // numPerm longs per doc. (2) The shingle STRING is hashed exactly
    // once (projected before the aggregate); the numPerm
    // permutations are affine Carter-Wegman transforms of that long —
    // numPerm string hashes per shingle made this 3x slower at sf1.
    val hs = shingles(docs, n)
      .select(col("doc_id"), base(col("shingle")).as("h"))
    val aggs = affineConsts(numPerm).zipWithIndex.map { case ((a, b), p) =>
      min((lit(a) * col("h") + lit(b)) % MinhashPrime).as(s"m$p")
    }
    hs.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until numPerm).map(p => col(s"m$p")): _*).as("sig"))
  }

  /** SQL twin of [[signatures]] (over a CTE `hs(doc_id, h)`) and of the
    * banding in [[lshCandidatePairsFromSigs]]: CTEs `sigs(doc_id,
    * m0..)` and `buckets(doc_id, band, bucket)`. */
  private def bandsSql(numPerm: Int, rowsPerBand: Int): String = {
    val mins = affineConsts(numPerm).zipWithIndex
      .map { case ((a, b), p) => s"MIN(($a * h + $b) % $MinhashPrime) AS m$p" }
      .mkString(",\n    ")
    val bands = (0 until numPerm / rowsPerBand).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(p => s"CAST(m$p AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($cols) AS bucket FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""sigs AS (SELECT doc_id,
       |    $mins
       |  FROM hs GROUP BY doc_id),
       |buckets AS (
       |  $bands)""".stripMargin
  }

  /** [[bandsSql]] plus CTE `cands(da, db)`, da < db: the SQL twin of
    * [[lshCandidatePairsFromSigs]]. */
  private def candidatesSql(numPerm: Int, rowsPerBand: Int): String =
    s"""${bandsSql(numPerm, rowsPerBand)},
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin

  /** CTEs `cids`, `sh` (the DF-capped shingles of `sh0` of candidate
    * docs) and `sizes`: the SQL twin of the verify input in
    * [[verifyCandidates]] and [[survivorsOfCross]]. */
  private def candShinglesSql(maxDf: Int): String =
    s"""cids AS (SELECT da AS doc_id FROM cands UNION SELECT db FROM cands),
       |sh AS (SELECT doc_id, shingle FROM sh0
       |  WHERE shingle IN (
       |    SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= $maxDf)
       |  AND doc_id IN (SELECT doc_id FROM cids)),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)""".stripMargin

  def lshCandidatePairs(
      docs: DataFrame, n: Int = 3, numPerm: Int = 64, rowsPerBand: Int = 4,
      bandHash: Column => Column = XxBandHash): DataFrame =
    lshCandidatePairsFromSigs(
      minhashSignatures(docs, n, numPerm), numPerm, rowsPerBand, bandHash)

  def lshCandidatePairsFromSigs(
      sigsIn: DataFrame, numPerm: Int, rowsPerBand: Int,
      bandHash: Column => Column): DataFrame = {
    val numBands = numPerm / rowsPerBand
    // cached: the signature projection (the expensive part — the
    // shingle hashing) feeds both sides of the bucket self-join
    val sigs = sigsIn.cache()
    val buckets = sigs.select(
        col("doc_id"),
        posexplode(transform(
          sequence(lit(0), lit(numBands - 1)),
          b => bandHash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .toDF("doc_id", "band", "bucket")
    val a = buckets.select(col("doc_id").as("da"), col("band"), col("bucket"))
    val b = buckets.select(col("doc_id").as("db"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("da") < col("db"))
      .select("da", "db").distinct()
  }

  /** MinHash near-dup pipeline: LSH candidates, then exact-Jaccard
    * verification of candidates only (never all pairs). The shingle
    * relation is semi-joined down to candidate doc_ids on BOTH sides
    * BEFORE the pair join — without that pre-filter the verify stage
    * regenerates every shingle-sharing pair in the corpus, defeating the
    * LSH; with it the pair join touches only candidate docs' shingles. */
  def minhashNearDups(
      docs: DataFrame, n: Int = 3, numPerm: Int = 64,
      rowsPerBand: Int = 4, threshold: Double = 0.8,
      maxDf: Int = DefaultMaxDf,
      bandHash: Column => Column = XxBandHash): DataFrame =
    verifyCandidates(docs,
      lshCandidatePairs(docs, n, numPerm, rowsPerBand, bandHash),
      n, threshold, maxDf)

  /** Exact-Jaccard verification of an LSH candidate pair set (shared by
    * both hash families). */
  private def verifyCandidates(
      docs: DataFrame, candsIn: DataFrame, n: Int, threshold: Double,
      maxDf: Int): DataFrame = {
    val cands = candsIn.cache()
    val candIds = cands.select(col("da").as("doc_id"))
      .unionAll(cands.select(col("db").as("doc_id"))).distinct()
    val sh = cappedShingles(shingles(docs, n), maxDf)
      .join(candIds, Seq("doc_id"), "left_semi").cache()
    overlaps(sh, _.join(cands, Seq("da", "db"), "left_semi"))
      .withColumn("jaccard", jaccard)
      .filter(col("jaccard") >= threshold)
      .select("da", "db", "jaccard")
  }

  // -------------------------------------------------------------------
  // Near-dup GROUPS: connected components over the near-dup pair
  // relation (pairwise output alone under-deletes — A~B and B~C must
  // collapse into ONE keeper even when A~C falls below the threshold).
  // Min-label propagation: label(v) := min(label(v), min of neighbor
  // labels), iterated to fixpoint — O(component diameter) rounds, and
  // dup-cluster diameters are tiny in practice. Each round is one join +
  // one min-aggregate, both shuffling only the (small) pair-graph
  // relation, never the corpus. At extreme scale swap for alternating
  // large-star/small-star (O(log n) rounds) — the driver-loop shape here
  // is the same one KMeansFit uses.
  // -------------------------------------------------------------------

  /** (doc_id, group_id) for every doc in `pairs` (da, db columns);
    * group_id = the smallest doc_id reachable through the pair graph. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // symmetrize in ONE pass over `pairs`: the unionAll(select, select)
    // formulation plans the (expensive — e.g. the full n-gram Jaccard
    // join) pairs subtree TWICE, and both copies execute during edge
    // materialization; explode duplicates each row after it is computed
    // once
    val edges = pairs.select(explode(array(
        struct(col("da").as("a"), col("db").as("b")),
        struct(col("db").as("a"), col("da").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .cache()
    // localCheckpoint per iteration: each round references the previous
    // labels in the neighbor-min join, so without lineage truncation the
    // logical plan grows every round — exponential planning cost by
    // iteration ~10. Eager checkpoint keeps the plan depth constant (on
    // a cluster with executor loss, swap for reliable checkpoint() to a
    // checkpoint dir).
    var labels = edges.groupBy("a").agg(min("b").as("mb"))
      .select(col("a").as("doc_id"), least(col("a"), col("mb")).as("group_id"))
      .localCheckpoint(true)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("b"), col("group_id").as("nl")), Seq("b"))
        .groupBy("a").agg(min("nl").as("nm"))
      val stepped = labels
        .join(nbrMin.select(col("a").as("doc_id"), col("nm")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("group_id").as("old"),
          least(col("group_id"), coalesce(col("nm"), col("group_id"))).as("g1"))
      // Pointer doubling (PRAM path-jumping): g2 = label(g1). One extra
      // join against the n-row label table per round collapses label
      // chains geometrically, so convergence takes O(log diameter)
      // rounds instead of O(diameter) — a 1000-hop dup chain resolves in
      // ~10 rounds, not 1000. Labels only ever decrease and label
      // values are always node ids present in the table (group_id <=
      // doc_id by construction), so the fixpoint — every node at its
      // component minimum — is unchanged.
      //
      // The changed-this-round flag rides INSIDE the checkpointed frame:
      // the eager localCheckpoint is already the round's one real job,
      // so the convergence test becomes a short-circuit scan of the
      // materialized in-memory labels instead of the extra
      // join-with-previous + count() job each round used to pay
      // (halves the job count of the whole loop).
      val next = stepped
        .join(labels.select(col("doc_id").as("g1"), col("group_id").as("pl")),
          Seq("g1"), "left")
        .select(col("doc_id"),
          least(col("g1"), coalesce(col("pl"), col("g1"))).as("group_id"),
          (least(col("g1"), coalesce(col("pl"), col("g1"))) < col("old")).as("chg"))
        .localCheckpoint(true)
      changed = next.filter(col("chg")).limit(1).count()
      labels = next.drop("chg")
      iter += 1
    }
    edges.unpersist(blocking = false)
    // With doubling, maxIter=20 covers components of diameter ~2^20;
    // exhausting it means something is deeply wrong — fail loudly
    // rather than return silently split groups.
    require(changed == 0L,
      s"connectedComponents did not converge within $maxIter rounds")
    labels
  }

  /** Transitive near-dup groups from the n-gram Jaccard pair join. */
  def nearDupGroups(
      docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
      maxDf: Int = DefaultMaxDf): DataFrame =
    connectedComponents(ngramJaccardPairs(docs, n, threshold, maxDf))

  /** DuckDB twin: transitive closure by recursive CTE (UNION dedup makes
    * the fixpoint terminate on cycles), then min over the reach set. */
  def nearDupGroupsSql(
      n: Int = 3, threshold: Double = 0.8, maxDf: Int = DefaultMaxDf): String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT da, db FROM (${ngramJaccardPairsSql(n, threshold, maxDf)}) p),
       |edges AS (SELECT da AS a, db AS b FROM pairs
       |          UNION SELECT db, da FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
       |SELECT a AS doc_id, LEAST(a, MIN(b)) AS group_id
       |FROM reach GROUP BY a""".stripMargin

  /** The deduplicated corpus: every doc except non-keeper members of a
    * near-dup group (keeper = the group's smallest doc_id). The
    * "what a pipeline actually consumes" composition of
    * [[nearDupGroups]] — one anti-join against the (small) loser set. */
  def dedupedCorpus(
      docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
      maxDf: Int = DefaultMaxDf): DataFrame = {
    val losers = nearDupGroups(docs, n, threshold, maxDf)
      .filter(col("doc_id") =!= col("group_id")).select("doc_id")
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  def dedupedCorpusSql(
      n: Int = 3, threshold: Double = 0.8, maxDf: Int = DefaultMaxDf): String =
    s"""SELECT * FROM documents WHERE doc_id NOT IN (
       |  SELECT doc_id FROM (${nearDupGroupsSql(n, threshold, maxDf)}) g
       |  WHERE doc_id <> group_id)""".stripMargin

  /** Quality-aware dedup: like [[dedupedCorpus]] but each near-dup
    * group keeps its argmax-quality member — here most `n_chars`, tie →
    * lowest doc_id — instead of blindly the lowest id. This is the
    * policy production pipelines actually run (keep-longest /
    * keep-highest-score); any scalar quality column drops in for
    * n_chars unchanged. Costs one extra broadcast-scale join + a
    * group-sized window over the (tiny) near-dup membership — the
    * corpus itself still only sees the final anti-join. */
  def dedupKeepBest(
      docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
      maxDf: Int = DefaultMaxDf): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group_id")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val losers = nearDupGroups(docs, n, threshold, maxDf)
      .join(docs.select("doc_id", "n_chars"), Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") > 1).select("doc_id")
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  def dedupKeepBestSql(
      n: Int = 3, threshold: Double = 0.8, maxDf: Int = DefaultMaxDf): String =
    s"""SELECT * FROM documents WHERE doc_id NOT IN (
       |  SELECT doc_id FROM (
       |    SELECT g.doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY g.group_id
       |        ORDER BY d.n_chars DESC, g.doc_id ASC) AS rk
       |    FROM (${nearDupGroupsSql(n, threshold, maxDf)}) g
       |    JOIN documents d ON g.doc_id = d.doc_id) r
       |  WHERE rk > 1)""".stripMargin

  // -------------------------------------------------------------------
  // SimHash: 64-bit signature — bit j is the sign of the sum over
  // tokens of ±1 depending on bit j of the token's hash. Near-dups =
  // pairs within `maxHamming`. Candidate generation uses the pigeonhole
  // trick: split the 64 bits into (maxHamming+1) chunks; any pair
  // within maxHamming agrees exactly on >= 1 chunk → join on
  // (chunkIdx, chunkValue), O(n·chunks) shuffle.
  // -------------------------------------------------------------------
  /** Column-expression simhash (64 per-row folds — interpreted; fine for
    * small relations / single columns). The relation-level `simhashes`
    * below uses the codegen explode+aggregate shape instead. */
  def simhash(tokensCol: Column): Column =
    (0 until 64).map { j =>
      val bitSum = aggregate(
        tokensCol, lit(0L),
        (acc, t) => acc +
          when(shiftright(xxhash64(t), j).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(bitSum > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  def simhashes(docs: DataFrame): DataFrame = simhashesOf(docs, xxhash64(_), 64)

  /** (doc_id, simhash) over the low `bits` bits of each token's `hash`:
    * explode tokens (multiset — weights count), one codegen'd
    * HashAggregate computing the signed bit sums, then compose the
    * signature from the sums. */
  private def simhashesOf(
      docs: DataFrame, hash: Column => Column, bits: Int): DataFrame = {
    val tok = TextOps.explodedTokens(docs, "t", col("doc_id"))
    val h = hash(col("t"))
    val aggs = (0 until bits).map(j =>
      sum(when(shiftright(h, j).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"b$j"))
    tok.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(j =>
          when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
        ).reduce(_ + _).as("simhash"))
  }

  /** Candidate pairs with Hamming distance <= maxHamming (pigeonhole
    * chunk join), verified by an exact popcount on the XOR. */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingPairs(simhashes(docs), 64, maxHamming)

  /** Pairs of `sh` (doc_id, simhash) signatures of `bits` bits within
    * `maxHamming`: the bits split into maxHamming + 1 chunks, pairs
    * agreeing on a whole chunk join, the XOR popcount verifies. */
  private def hammingPairs(
      sh: DataFrame, bits: Int, maxHamming: Int): DataFrame = {
    val chunks = maxHamming + 1
    val bitsPer = bits / chunks
    val chunked = sh.select(
        col("doc_id"), col("simhash"),
        posexplode(array((0 until chunks).map { c =>
          shiftright(col("simhash"), c * bitsPer)
            .bitwiseAND((1L << bitsPer) - 1)
        }: _*)))
      .toDF("doc_id", "simhash", "chunk", "val")
    val a = chunked.select(col("doc_id").as("da"), col("simhash").as("ha"),
      col("chunk"), col("val"))
    val b = chunked.select(col("doc_id").as("db"), col("simhash").as("hb"),
      col("chunk"), col("val"))
    a.join(b, Seq("chunk", "val"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // -------------------------------------------------------------------
  // Oracle twins of the hash-family pipelines (md5-60 family). Same
  // operator DAG and shuffle structure as the xxhash64 production
  // queries — signatures are min-aggregates over exploded shingles,
  // banding is a posexplode + bucket equi-join, verification is the
  // candidate-bounded exact Jaccard — but every hash is
  // DuckDB-expressible, so the driver hash-checks the WHOLE pipeline.
  // -------------------------------------------------------------------

  /** Threshold operating curve for near-dup dedup: how many pairs (and
    * how many would-be-deleted docs) fall at or above each candidate
    * Jaccard threshold — the tuning readout for picking the dedup
    * aggressiveness before committing to a corpus-wide delete. ONE
    * pass of the pair join at the floor threshold, then a 5%-bucket
    * histogram with a descending cumulative over the CONSTANT
    * ≤(1−floor)/0.05-row spine (an unpartitioned window over ~6 rows,
    * not data). Pair counts are exact integers. */
  def thresholdCurve(
      docs: DataFrame, n: Int = 3, floorT: Double = 0.7,
      maxDf: Int = DefaultMaxDf): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = ngramJaccardPairs(docs, n, floorT, maxDf)
    // bucket = the highest 5%-grid threshold the pair clears; jaccard
    // = 1 tops out at the 0.95 bucket so the spine stays fixed
    val b = least(floor(col("jaccard") * 20).cast("int"), lit(19))
    val hist = pairs.select(b.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_at_bucket"))
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("threshold", col("bucket").cast("double") / 20)
      .withColumn("n_pairs_ge", sum(col("n_at_bucket")).over(w))
      .select("threshold", "n_at_bucket", "n_pairs_ge")
  }

  def thresholdCurveSql(
      n: Int = 3, floorT: Double = 0.7, maxDf: Int = DefaultMaxDf): String =
    s"""WITH pairs AS (${ngramJaccardPairsSql(n, floorT, maxDf)}),
       |hist AS (
       |  SELECT LEAST(CAST(FLOOR(jaccard * 20) AS INT), 19) AS bucket,
       |    COUNT(*) AS n_at_bucket
       |  FROM pairs GROUP BY 1)
       |SELECT CAST(bucket AS DOUBLE) / 20 AS threshold, n_at_bucket,
       |  CAST(SUM(n_at_bucket) OVER (ORDER BY bucket DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS n_pairs_ge
       |FROM hist""".stripMargin

  /** Banding-loss evaluation of the MinHash pipeline: compare the
    * md5-family LSH near-dup pairs against the exact n-gram Jaccard
    * truth at the same threshold — n_truth / n_found / n_hit plus
    * precision and recall in one row. Because candidates are verified
    * with the exact Jaccard, precision is 1 BY CONSTRUCTION (asserted
    * by the gate, not assumed); recall is the number that matters —
    * how many true near-dup pairs the banding scheme never surfaced.
    * This is the eval a pipeline owner runs before trusting b/r
    * settings at scale. Three 1-row aggregates over the two
    * (already scale-shaped) pair pipelines + a pair-keyed semi join. */
  def minhashEval(
      docs: DataFrame, n: Int = 3, numPerm: Int = 64,
      rowsPerBand: Int = 4, threshold: Double = 0.8,
      maxDf: Int = DefaultMaxDf): DataFrame = {
    // NOTE: running the two eager checkpoints concurrently from two
    // driver threads was tried and REJECTED: both pipelines are
    // shuffle-heavy scans that each saturate the cluster on their own,
    // so overlap only added contention (7.1 s → ~9.9 s at sf0.1).
    val truth = ngramJaccardPairs(docs, n, threshold, maxDf)
      .select("da", "db").localCheckpoint(true)
    val found = minhashNearDupsMd5(docs, n, numPerm, rowsPerBand,
      threshold, maxDf).select("da", "db").localCheckpoint(true)
    val tA = truth.agg(count(lit(1)).as("n_truth"))
    val fA = found.agg(count(lit(1)).as("n_found"))
    val hA = truth.join(found, Seq("da", "db"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    tA.crossJoin(fA).crossJoin(hA).select(
      col("n_truth"), col("n_found"), col("n_hit"),
      when(col("n_found") > 0,
        col("n_hit").cast("double") / col("n_found")).as("precision"),
      when(col("n_truth") > 0,
        col("n_hit").cast("double") / col("n_truth")).as("recall"))
  }

  /** Sampled dedup-quality eval — the at-scale path for [[minhashEval]]
    * (SF10_SPOT r15: the full eval rides TWO output-quadratic pair
    * relations, 2885 s and ~48 GB of heap at sf10): estimate the same
    * precision/recall on the deterministic `doc_id % mod == 0`
    * subcorpus, so both pair relations scale with (n/mod)² of the
    * full-eval cost. Sampling DOCS (not pairs) keeps truth and found
    * consistent — a pair survives iff both endpoints survive — so
    * within-sample precision/recall are the exact eval of the sampled
    * corpus, and an unbiased estimator of pair-level quality under the
    * fixture's id-independent content. The DF cap re-derives on the
    * sample in BOTH engines. */
  def minhashEvalSampled(
      docs: DataFrame, mod: Long = 4L, n: Int = 3, numPerm: Int = 64,
      rowsPerBand: Int = 4, threshold: Double = 0.8,
      maxDf: Int = DefaultMaxDf): DataFrame =
    minhashEval(docs.filter(col("doc_id") % mod === 0),
      n, numPerm, rowsPerBand, threshold, maxDf)

  /** Corpus-size-derived sample modulus for the registered `dedup_eval`
    * (r16, VERDICT r15 item 2): the FULL eval rides two
    * output-quadratic pair relations (2885 s / ~48 GB at sf10), so
    * above 100k docs the eval auto-samples. The modulus is the
    * smallest power of 4 that brings the SAMPLED subcorpus back under
    * the 100k-doc affordability threshold (capped at 64) — the eval's
    * cost is then bounded by the cost of a full eval at 100k docs
    * regardless of corpus size. (A first cut escalated only 4× per
    * 16× of corpus; at the 500k-doc scale fixture that still sampled
    * 125k docs and measured ~900 s — the threshold form samples 31k
    * there and keeps the row seconds-scale.) ≤ 100k docs (every gate
    * SF and sf1) the modulus is 1 — the full eval, hash-identical to
    * the r15 registration. */
  def evalAutoMod(nDocs: Long): Long =
    if (nDocs > 1600000L) 64L
    else if (nDocs > 400000L) 16L
    else if (nDocs > 100000L) 4L
    else 1L

  /** [[minhashEval]] at the data-dependent sample modulus — the
    * registered `dedup_eval` since r16. mod = 1 keeps every doc (the
    * `% 1 === 0` filter is the identity), so the full form still runs
    * wherever it is affordable. */
  def minhashEvalAuto(
      docs: DataFrame, n: Int = 3, numPerm: Int = 64,
      rowsPerBand: Int = 4, threshold: Double = 0.8,
      maxDf: Int = DefaultMaxDf): DataFrame = {
    val mod = evalAutoMod(docs.count())
    minhashEval(docs.filter(col("doc_id") % mod === 0),
      n, numPerm, rowsPerBand, threshold, maxDf)
  }

  /** Twin of [[minhashEvalAuto]]: the shadowing `documents` CTE derives
    * the SAME modulus staircase from its own COUNT(*) (pure-integer
    * CASE — exact at every n in both engines), so the full eval SQL is
    * reused verbatim below it. */
  def minhashEvalAutoSql(
      n: Int = 3, numPerm: Int = 64, rowsPerBand: Int = 4,
      threshold: Double = 0.8, maxDf: Int = DefaultMaxDf): String = {
    val inner = minhashEvalSql(n, numPerm, rowsPerBand, threshold, maxDf)
    require(inner.startsWith("WITH "), "inner eval SQL must be a WITH chain")
    s"""WITH nmod AS (SELECT CAST(CASE
       |    WHEN COUNT(*) > 1600000 THEN 64
       |    WHEN COUNT(*) > 400000 THEN 16
       |    WHEN COUNT(*) > 100000 THEN 4
       |    ELSE 1 END AS BIGINT) AS md FROM main.documents),
       |documents AS (SELECT * FROM main.documents
       |  WHERE doc_id % (SELECT md FROM nmod) = 0),
       |""".stripMargin + inner.stripPrefix("WITH ")
  }

  /** Twin of [[minhashEvalSampled]]: a leading CTE shadows `documents`
    * with the sampled subcorpus (the base table stays reachable as
    * `main.documents`), so the full eval SQL is reused verbatim. */
  def minhashEvalSampledSql(
      mod: Long = 4L, n: Int = 3, numPerm: Int = 64,
      rowsPerBand: Int = 4, threshold: Double = 0.8,
      maxDf: Int = DefaultMaxDf): String = {
    val inner = minhashEvalSql(n, numPerm, rowsPerBand, threshold, maxDf)
    require(inner.startsWith("WITH "), "inner eval SQL must be a WITH chain")
    s"WITH documents AS (SELECT * FROM main.documents WHERE doc_id % $mod = 0),\n" +
      inner.stripPrefix("WITH ")
  }

  def minhashEvalSql(
      n: Int = 3, numPerm: Int = 64, rowsPerBand: Int = 4,
      threshold: Double = 0.8, maxDf: Int = DefaultMaxDf): String =
    // the inner pipelines are PRE-materialized: the registration-time
    // OracleCtes.materialize only rewrites depth-0 CTE names, and the
    // un-hinted inner shingle chains (sh0 referenced 2-3× each) re-
    // evaluated per reference at sf1 until DuckDB's spill disk filled
    s"""WITH tt AS (SELECT da, db
       |  FROM (${OracleCtes.materialize(
            ngramJaccardPairsSql(n, threshold, maxDf))}) q1),
       |ff AS (SELECT da, db
       |  FROM (${OracleCtes.materialize(minhashNearDupsMd5Sql(
            n, numPerm, rowsPerBand, threshold, maxDf))}) q2),
       |ta AS (SELECT COUNT(*) AS n_truth FROM tt),
       |fa AS (SELECT COUNT(*) AS n_found FROM ff),
       |ha AS (SELECT COUNT(*) AS n_hit FROM tt
       |  WHERE EXISTS (SELECT 1 FROM ff
       |                WHERE ff.da = tt.da AND ff.db = tt.db))
       |SELECT CAST(n_truth AS BIGINT) AS n_truth,
       |  CAST(n_found AS BIGINT) AS n_found,
       |  CAST(n_hit AS BIGINT) AS n_hit,
       |  CASE WHEN n_found > 0
       |    THEN CAST(n_hit AS DOUBLE) / n_found END AS precision,
       |  CASE WHEN n_truth > 0
       |    THEN CAST(n_hit AS DOUBLE) / n_truth END AS recall
       |FROM ta, fa, ha""".stripMargin

  // -------------------------------------------------------------------
  // b-bit minhash (Li & König, "b-Bit Minwise Hashing", WWW 2010): keep
  // only the lowest b bits of each of the numPerm minhash values — the
  // signature store shrinks 64/b-fold (b=1: 64 perms in 8 BYTES instead
  // of 512), the at-scale memory story for billion-doc signature
  // tables. The price is estimator variance, not bias: lowest-b-bit
  // collisions happen by chance w.p. C ≈ 2^-b even for disjoint sets,
  // and the corrected estimator Ĵ_b = (P_b − C) / (1 − C) (their Eq. 3
  // in the large-vocabulary limit) undoes it. This query scores every
  // LSH candidate pair with BOTH estimators — full-width agreement
  // (the classic Ĵ = matches/numPerm) and the b-bit correction — so a
  // pipeline owner can read the precision cost of the 64× compression
  // on real pairs before flipping the signature store over.
  // All-integer agreement counts; each estimator is exact binary
  // arithmetic (numPerm and 2^b are powers of two), so both engines
  // agree bit-for-bit. Candidate generation is the same banded LSH as
  // dedup_minhash — never all-pairs; the pair relation carries two
  // numPerm-long signatures only for candidate docs.
  // -------------------------------------------------------------------
  def bbitMinhash(
      docs: DataFrame, n: Int = 3, numPerm: Int = 64,
      rowsPerBand: Int = 4, b: Int = 1): DataFrame = {
    require(b >= 1 && b < 31, s"b=$b out of range")
    val sigs = minhashSignaturesMd5(docs, n, numPerm).cache()
    val cands = lshCandidatePairsFromSigs(sigs, numPerm, rowsPerBand, Md5BandHash)
    val modB = lit(1L << b)
    val c = 1.0 / (1L << b).toDouble
    def agreeCount(cmp: (Column, Column) => Column) =
      aggregate(
        zip_with(col("siga"), col("sigb"),
          (x, y) => when(cmp(x, y), 1L).otherwise(0L)),
        lit(0L), (acc, v) => acc + v)
    cands
      .join(sigs.select(col("doc_id").as("da"), col("sig").as("siga")), Seq("da"))
      .join(sigs.select(col("doc_id").as("db"), col("sig").as("sigb")), Seq("db"))
      .select(col("da"), col("db"),
        agreeCount(_ === _).as("agree_full"),
        agreeCount((x, y) => (x % modB) === (y % modB)).as("agree_b"))
      .select(col("da"), col("db"), col("agree_full"), col("agree_b"),
        (col("agree_full").cast("double") / lit(numPerm.toDouble))
          .as("jhat_full"),
        ((col("agree_b").cast("double") / lit(numPerm.toDouble) - lit(c))
          / (lit(1.0) - lit(c))).as("jhat_b"))
  }

  def bbitMinhashSql(
      n: Int = 3, numPerm: Int = 64, rowsPerBand: Int = 4,
      b: Int = 1): String = {
    val modB = 1L << b
    val cE = graft.functions.PortableMath.dlitE(1.0 / modB.toDouble)
    val npE = graft.functions.PortableMath.dlitE(numPerm.toDouble)
    val agreeFull = (0 until numPerm)
      .map(p => s"(CASE WHEN sa.m$p = sb.m$p THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val agreeB = (0 until numPerm)
      .map(p => s"(CASE WHEN sa.m$p % $modB = sb.m$p % $modB THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH sh0 AS (${shinglesSql(n)}),
       |hs AS (SELECT doc_id, ${md5Base30Sql("shingle")} AS h FROM sh0),
       |${candidatesSql(numPerm, rowsPerBand)},
       |agr AS (
       |  SELECT c.da, c.db,
       |    CAST($agreeFull AS BIGINT) AS agree_full,
       |    CAST($agreeB AS BIGINT) AS agree_b
       |  FROM cands c
       |  JOIN sigs sa ON c.da = sa.doc_id
       |  JOIN sigs sb ON c.db = sb.doc_id)
       |SELECT da, db, agree_full, agree_b,
       |  CAST(agree_full AS DOUBLE) / $npE AS jhat_full,
       |  (CAST(agree_b AS DOUBLE) / $npE - $cE) / (1e0 - $cE) AS jhat_b
       |FROM agr""".stripMargin
  }

  // -------------------------------------------------------------------
  // Weighted (multiset) Jaccard verification of LSH candidates:
  // J_w(A,B) = Σ_s min(c_A(s), c_B(s)) / Σ_s max(c_A(s), c_B(s)) over
  // shingle OCCURRENCE counts — the histogram-intersection similarity.
  // Set-Jaccard treats a doc that repeats one boilerplate block 50
  // times as a tiny shingle set (near-dup of the single-copy doc at
  // J=1); the multiset view weighs the repetition and separates
  // "same content" from "same content, spammed" — the distinction a
  // quality-aware dedup keep-policy needs. Σmax folds to
  // t_A + t_B − Σmin, so one pair-keyed Σmin aggregation plus two
  // doc-keyed totals is the whole computation; candidates come from
  // the same banded LSH as dedup_minhash (never all-pairs) and the
  // count relation is DF-capped exactly like the set-Jaccard verify
  // (df = docs containing the shingle — multiplicity doesn't change
  // the quadratic-bomb analysis).
  // -------------------------------------------------------------------

  /** Multiset shingle relation: one row per (doc_id, shingle) with its
    * occurrence count — [[shingles]] without the distinct, aggregated. */
  def shingleCounts(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(
        col("doc_id"),
        TextOps.tokens(col("text")).as("tk"))
      .select(
        col("doc_id"),
        explode(transform(
          sequence(lit(1), greatest(size(col("tk")) - (n - 1), lit(0))),
          i => array_join(slice(col("tk"), i, lit(n)), " "))).as("shingle"))
      .groupBy("doc_id", "shingle").agg(count(lit(1)).as("cnt"))

  def weightedJaccardPairs(
      docs: DataFrame, n: Int = 3, numPerm: Int = 64, rowsPerBand: Int = 4,
      threshold: Double = 0.8, maxDf: Int = DefaultMaxDf): DataFrame = {
    val cands = lshCandidatePairsFromSigs(
      minhashSignaturesMd5(docs, n, numPerm), numPerm, rowsPerBand,
      Md5BandHash).cache()
    val candIds = cands.select(col("da").as("doc_id"))
      .unionAll(cands.select(col("db").as("doc_id"))).distinct()
    // DF cap on the count relation: one row per (doc, shingle) means
    // COUNT(*) per shingle IS the document frequency
    val dfOk = shingleCounts(docs, n)
    val capped = dfOk.withColumn("df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("shingle")))
      .filter(col("df") <= maxDf).drop("df")
    val cnts = capped.join(candIds, Seq("doc_id"), "left_semi").cache()
    val tot = cnts.groupBy("doc_id").agg(sum("cnt").as("tw"))
    val inter = cnts.select(col("doc_id").as("da"), col("shingle"), col("cnt").as("ca"))
      .join(cnts.select(col("doc_id").as("db"), col("shingle"), col("cnt").as("cb")),
        Seq("shingle"))
      .filter(col("da") < col("db"))
      .join(cands, Seq("da", "db"), "left_semi")
      .groupBy("da", "db").agg(sum(least(col("ca"), col("cb"))).as("interw"))
    inter
      .join(tot.select(col("doc_id").as("da"), col("tw").as("ta")), Seq("da"))
      .join(tot.select(col("doc_id").as("db"), col("tw").as("tb")), Seq("db"))
      .withColumn("wjaccard",
        col("interw").cast("double") / (col("ta") + col("tb") - col("interw")))
      .filter(col("wjaccard") >= threshold)
      .select("da", "db", "wjaccard")
  }

  def weightedJaccardPairsSql(
      n: Int = 3, numPerm: Int = 64, rowsPerBand: Int = 4,
      threshold: Double = 0.8, maxDf: Int = DefaultMaxDf): String = {
    val thr = graft.functions.PortableMath.dlitE(threshold)
    s"""WITH shm AS (
       |  SELECT doc_id,
       |    unnest(list_transform(generate_series(1, len(tk) - ${n - 1}),
       |      i -> array_to_string(list_slice(tk, i, i + ${n - 1}), ' '))) AS shingle
       |  FROM (SELECT doc_id,
       |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
       |    FROM documents) d),
       |shc AS (SELECT doc_id, shingle, COUNT(*) AS cnt
       |  FROM shm GROUP BY doc_id, shingle),
       |hs AS (SELECT doc_id, ${md5Base30Sql("shingle")} AS h
       |  FROM (SELECT DISTINCT doc_id, shingle FROM shm) s),
       |${candidatesSql(numPerm, rowsPerBand)},
       |cids AS (SELECT da AS doc_id FROM cands UNION SELECT db FROM cands),
       |cnts AS (SELECT doc_id, shingle, cnt FROM shc
       |  WHERE shingle IN (
       |    SELECT shingle FROM shc GROUP BY shingle HAVING COUNT(*) <= $maxDf)
       |  AND doc_id IN (SELECT doc_id FROM cids)),
       |tot AS (SELECT doc_id, SUM(cnt) AS tw FROM cnts GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db,
       |    SUM(LEAST(a.cnt, b.cnt)) AS interw
       |  FROM cnts a JOIN cnts b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  WHERE EXISTS (SELECT 1 FROM cands c
       |                WHERE c.da = a.doc_id AND c.db = b.doc_id)
       |  GROUP BY 1, 2)
       |SELECT da, db,
       |  CAST(interw AS DOUBLE) / (ta.tw + tb.tw - interw) AS wjaccard
       |FROM inter
       |JOIN tot ta ON da = ta.doc_id
       |JOIN tot tb ON db = tb.doc_id
       |WHERE CAST(interw AS DOUBLE) / (ta.tw + tb.tw - interw) >= $thr"""
      .stripMargin
  }

  /** [[minhashNearDups]] over the md5-affine hash family. */
  def minhashNearDupsMd5(
      docs: DataFrame, n: Int = 3, numPerm: Int = 64,
      rowsPerBand: Int = 4, threshold: Double = 0.8,
      maxDf: Int = DefaultMaxDf): DataFrame =
    verifyCandidates(docs,
      lshCandidatePairsFromSigs(
        minhashSignaturesMd5(docs, n, numPerm), numPerm, rowsPerBand,
        Md5BandHash),
      n, threshold, maxDf)

  def minhashNearDupsMd5Sql(
      n: Int = 3, numPerm: Int = 64, rowsPerBand: Int = 4,
      threshold: Double = 0.8, maxDf: Int = DefaultMaxDf): String = {
    s"""WITH sh0 AS (${shinglesSql(n)}),
       |hs AS (SELECT doc_id, ${md5Base30Sql("shingle")} AS h FROM sh0),
       |${candidatesSql(numPerm, rowsPerBand)},
       |${candShinglesSql(maxDf)},
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  WHERE EXISTS (SELECT 1 FROM cands c
       |                WHERE c.da = a.doc_id AND c.db = b.doc_id)
       |  GROUP BY 1, 2)
       |SELECT da, db,
       |       CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
       |FROM inter
       |JOIN sizes sa ON da = sa.doc_id
       |JOIN sizes sb ON db = sb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= $threshold""".stripMargin
  }

  /** [[simhashes]] over the md5-60 family ([[simhashesOf]]): 60-bit
    * signature (bit j = sign of the ±1 sum over token hashes' bit j). */
  def simhashesMd5(docs: DataFrame): DataFrame =
    simhashesOf(docs, md5Hash60(0, _), 60)

  /** [[simhashNearDups]] over the md5-60 family ([[hammingPairs]]):
    * 60-bit signatures, pigeonhole chunks of 15 bits (maxHamming=3 → 4
    * chunks). */
  def simhashNearDupsMd5(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingPairs(simhashesMd5(docs), 60, maxHamming)

  def simhashNearDupsMd5Sql(maxHamming: Int = 3): String = {
    val chunks = maxHamming + 1
    val bitsPer = 60 / chunks
    val mask = (1L << bitsPer) - 1
    val chunkRows = (0 until chunks).map(c =>
      s"SELECT doc_id, simhash, $c AS chunk, (simhash >> ${c * bitsPer}) & $mask AS val FROM sig"
    ).mkString("\n  UNION ALL ")
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS t
       |  FROM documents),
       |h AS (SELECT doc_id, ${md5Hash60Sql(0, "t")} AS h FROM tok),
       |bits AS (
       |  SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j) js
       |  GROUP BY doc_id, j),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
       |         AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id),
       |chunked AS (
       |  $chunkRows),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
       |         bit_count(xor(a.simhash, b.simhash)) AS hamming
       |  FROM chunked a JOIN chunked b
       |    ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id)
       |SELECT da, db, CAST(hamming AS BIGINT) AS hamming
       |FROM pairs WHERE hamming <= $maxHamming""".stripMargin
  }

  // -------------------------------------------------------------------
  // Record linkage: blocked edit-distance fuzzy join. The classic
  // "same entity, typo'd name" matcher — exact Levenshtein is O(len²)
  // per PAIR, so the join is never all-pairs: candidates share a
  // blocking key (here the name's first token — in production a domain
  // key: zip code, phonetic code, sort-neighborhood window) and only
  // within-block pairs pay the DP. One shuffle on the block key; block
  // sizes are the skew knob, same role as the DF cap in
  // [[ngramJaccardPairs]]. Both engines implement the identical
  // classic Wagner-Fischer distance (integer-exact — no float drift),
  // so the op is fully oracle-checkable.
  // -------------------------------------------------------------------

  /** Hard per-block distinct-name ceiling for the edit-distance DP —
    * the worst-case bound the block key alone can't give (an
    * adversarial corpus can put every name in one block and the
    * DP count goes D²/2 unbounded). Within a block, names rank by
    * (length, name) — a total, engine-independent order (binary
    * string compare in both engines) — and only the first
    * `MaxBlockNames` enter the candidate join: ≤ C·(C−1)/2 DPs per
    * block no matter the corpus. Self-disarming like the DF cap
    * above: 4096 never fires at the gate SFs or sf1 (64 distinct
    * names), and when it does fire both engines drop the IDENTICAL
    * tail (the twin carries the same QUALIFY), so the oracle compare
    * survives adversarial skew too. Truncation is observable, not
    * silent: [[editDistanceBlockStats]] reports per-block name
    * counts with a `truncated` flag as its own gated query. */
  val MaxBlockNames = 4096

  /** Within-block name pairs at edit distance <= maxDist over
    * part(p_partkey, p_name). Output (a_key, b_key, dist), a < b.
    *
    * The O(len²)-per-pair DP runs on the DISTINCT-NAME domain, not the
    * row domain: real catalogs repeat names heavily (here 64 distinct
    * names at every SF), so N²/2 row-pair DPs collapse to D²/2
    * name-pair DPs with D bounded by the vocabulary, and rows only
    * reappear in the final key-expansion joins (shuffled on name).
    * The first measured version paid the DP per row pair: 23.4 s at
    * sf0.1 vs ~2 s for this shape — same output, bit for bit. Within
    * a block the DP itself is banded: a length-difference prefilter
    * (dist >= |Δlen|) drops pairs for two cheap length reads, and the
    * survivors run the THRESHOLDED Wagner-Fischer (O(len·maxDist)
    * cells with early exit) rather than the full O(len²) table —
    * exact distances for every kept pair, so the DuckDB twin (which
    * computes the unbounded DP) still hash-matches. */
  def editDistancePairs(
      part: DataFrame, maxDist: Int = 2,
      maxBlock: Int = MaxBlockNames): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = part.select(
      col("p_partkey"), lower(col("p_name")).as("name"),
      substring_index(lower(col("p_name")), " ", 1).as("blk"))
    val names = p.select("blk", "name").distinct()
      .withColumn("rk", row_number().over(
        Window.partitionBy("blk").orderBy(length(col("name")), col("name"))))
      .filter(col("rk") <= maxBlock).drop("rk")
    val namePairs = names.select(col("blk"), col("name").as("a_name"))
      .join(names.select(col("blk"), col("name").as("b_name")), Seq("blk"))
      .filter(col("a_name") <= col("b_name"))
      // dist >= |len(a) - len(b)|: prune the candidate band with two
      // length reads before any DP cell is touched
      .filter(abs(length(col("a_name")) - length(col("b_name")))
        <= maxDist)
      // thresholded levenshtein: banded O(len·maxDist) DP with early
      // exit (-1 past the bound) instead of the full O(len²) table —
      // for kept pairs the value is the exact distance, so the oracle
      // compare is untouched
      .withColumn("dist",
        levenshtein(col("a_name"), col("b_name"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
    val ka = p.select(col("name").as("a_name"), col("p_partkey").as("ka"))
    val kb = p.select(col("name").as("b_name"), col("p_partkey").as("kb"))
    namePairs
      .join(ka, "a_name").join(kb, "b_name")
      .filter(col("a_name") < col("b_name") || col("ka") < col("kb"))
      .select(least(col("ka"), col("kb")).as("a_key"),
        greatest(col("ka"), col("kb")).as("b_key"), col("dist"))
  }

  def editDistancePairsSql(
      maxDist: Int = 2, maxBlock: Int = MaxBlockNames): String =
    s"""WITH p AS (SELECT p_partkey, lower(p_name) AS name,
       |  split_part(lower(p_name), ' ', 1) AS blk FROM part),
       |names AS (SELECT blk, name FROM (SELECT DISTINCT blk, name FROM p)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY blk
       |    ORDER BY LENGTH(name), name) <= $maxBlock),
       |npairs AS (
       |  SELECT a.name AS a_name, b.name AS b_name,
       |    CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
       |  FROM names a JOIN names b ON a.blk = b.blk AND a.name <= b.name
       |  WHERE levenshtein(a.name, b.name) <= $maxDist)
       |SELECT LEAST(ka.p_partkey, kb.p_partkey) AS a_key,
       |  GREATEST(ka.p_partkey, kb.p_partkey) AS b_key, n.dist
       |FROM npairs n
       |JOIN p ka ON ka.name = n.a_name
       |JOIN p kb ON kb.name = n.b_name
       |WHERE n.a_name < n.b_name OR ka.p_partkey < kb.p_partkey""".stripMargin

  /** Per-block distinct-name counts for the edit-distance blocking,
    * with the truncation flag: `truncated` marks blocks whose name
    * count exceeds [[MaxBlockNames]], i.e. blocks where the hard DP
    * ceiling in [[editDistancePairs]] actually dropped candidates.
    * This is the observability half of the cap — skew diagnosis is a
    * gated query, not a silent drop. Block-key-sized relation. */
  def editDistanceBlockStats(
      part: DataFrame, maxBlock: Int = MaxBlockNames): DataFrame =
    part.select(lower(col("p_name")).as("name"))
      .withColumn("blk", substring_index(col("name"), " ", 1))
      .select("blk", "name").distinct()
      .groupBy("blk").agg(count(lit(1)).as("n_names"))
      .withColumn("truncated", col("n_names") > maxBlock)

  def editDistanceBlockStatsSql(maxBlock: Int = MaxBlockNames): String =
    s"""WITH names AS (SELECT DISTINCT
       |    split_part(lower(p_name), ' ', 1) AS blk,
       |    lower(p_name) AS name FROM part)
       |SELECT blk, COUNT(*) AS n_names,
       |  COUNT(*) > $maxBlock AS truncated
       |FROM names GROUP BY blk""".stripMargin

  // -------------------------------------------------------------------
  // Content-defined chunking (CDC) dedup census — the storage-dedup
  // classic (Muthitacharoen et al., LBFS SOSP 2001) at token
  // granularity: a token closes a chunk iff its content hash ≡ 0
  // (mod `div`), so chunk boundaries move WITH the content — an
  // insertion near the top of a doc re-aligns at the next boundary
  // instead of shifting every downstream chunk the way fixed-size
  // chunking does. The census reports every chunk appearing in ≥
  // `minDocs` distinct docs: the shared-boilerplate/dedupable-bytes
  // inventory at sub-document granularity (complements span dedup's
  // positional n-gram view with insertion-robust variable chunks).
  //
  // Boundary hash = the cross-engine md5Base30 (same family as the
  // MinHash base), so both engines cut identically. Chunk assembly is
  // a PER-ROW projection: boundary tokens get a sentinel U+0001
  // appended, the array joins on ' ', and one split on "\u0001 "
  // yields the chunk list — zero shuffle until the census aggregate,
  // which shuffles only (md5, n_tokens, doc_id) fixed-width rows.
  // 100 TB posture: all per-doc state is row-local (no doc-keyed
  // window/shuffle); the census agg is map-side-combined on the chunk
  // hash; duplicate-heavy corpora collapse on the map side.
  // -------------------------------------------------------------------
  def cdcChunkCensus(
      docs: DataFrame, div: Long = 8L, minDocs: Long = 2L): DataFrame = {
    val tk = TextOps.tokens(col("text"))
    val marked = transform(tk, t =>
      when(md5Base30(t) % lit(div) === lit(0L), concat(t, lit("\u0001")))
        .otherwise(t))
    docs.select(col("doc_id"),
        explode(split(rtrim(array_join(marked, " "), "\u0001"), "\u0001 "))
          .as("chunk"))
      .select(col("doc_id"), md5(col("chunk").cast("binary")).as("chunk_md5"),
        size(split(col("chunk"), " ")).cast("long").as("n_tokens"))
      .groupBy("chunk_md5", "n_tokens")
      .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_occs"))
      .filter(col("n_docs") >= minDocs)
  }

  // -------------------------------------------------------------------
  // Sentence-level duplication census — CCNet's line-level dedup
  // (Wenzek et al. 2020) at the linguistic unit this corpus has:
  // sentences split on [.!?]+ runs, trimmed, lower-cased. The unit
  // complements the positional n-gram view (span dedup) and the
  // hash-boundary view (CDC): repeated SENTENCES are the
  // boilerplate/citation signal quality pipelines actually delete by.
  // Zero shuffle until the census aggregate on (md5, doc_id)
  // fixed-width rows, map-side-combined; at 100 TB the dedup pass
  // keyed on sentence hash is exactly CCNet's shard-parallel shape.
  // -------------------------------------------------------------------
  def sentenceCensus(docs: DataFrame, minDocs: Long = 2L): DataFrame =
    docs.select(col("doc_id"),
        explode(split(lower(col("text")), "[.!?]+")).as("raw"))
      .select(col("doc_id"), trim(col("raw")).as("sent"))
      .filter(col("sent") =!= "")
      .select(col("doc_id"), md5(col("sent").cast("binary")).as("sent_md5"),
        length(col("sent")).cast("long").as("n_chars"))
      .groupBy("sent_md5", "n_chars")
      .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_occs"))
      .filter(col("n_docs") >= minDocs)

  def sentenceCensusSql(minDocs: Long = 2L): String =
    s"""WITH s AS (SELECT doc_id,
       |    trim(unnest(regexp_split_to_array(lower(text), '[.!?]+'))) AS sent
       |  FROM documents),
       |h AS (SELECT doc_id, md5(sent) AS sent_md5,
       |    CAST(length(sent) AS BIGINT) AS n_chars
       |  FROM s WHERE sent <> '')
       |SELECT sent_md5, n_chars,
       |  COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occs
       |FROM h GROUP BY 1, 2
       |HAVING COUNT(DISTINCT doc_id) >= $minDocs""".stripMargin

  // -------------------------------------------------------------------
  // Truncation-pair detection: doc pairs where one doc's token stream
  // is a STRICT PREFIX of another's — the crawl-truncation /
  // re-scrape artifact exact dedup misses (hashes differ) and Jaccard
  // under-scores (containment ≠ resemblance). Blocking: both sides of
  // a qualifying pair share their first-`k`-token hash, so the join
  // space is the k-prefix hash index, never doc×doc; the contract
  // floor (the shorter side must have ≥ k tokens) is explicit.
  // Verify compares md5(first-lenA-tokens of B) to md5(A) — only B's
  // token array rides the join; A contributes fixed-width (md5, len).
  // -------------------------------------------------------------------
  /** Hard per-(prefix, length) participant ceiling for the truncation
    * join — the r14 audit's output-cap gap: a corpus with heavy exact
    * replication shares BOTH the k-token prefix and the total length
    * across every replica, so qualifying pairs grow ~replicas² per
    * natural (trunc, full) relation with no bits/blocking knob to turn
    * (SF10_SPOT: 3.7 s → 109.8 s for 10× data). Same-length docs can
    * never pair (the contract is STRICT full_tokens > trunc_tokens),
    * so capping each (pk, len) group to its first `MaxTruncGroup`
    * doc_ids — a total, engine-independent order — collapses replica
    * fan-out to ≤ C² output pairs per relation while every
    * cross-length relation keeps representatives on both sides. The
    * cap self-disarms at the gate SFs (max group size ≤ 4) and fires
    * only under replication-class skew, where both engines drop the
    * IDENTICAL tail (the twin carries the same QUALIFY). Truncation is
    * observable, not silent: [[truncationGroupStats]] reports group
    * sizes with a `truncated` flag as its own gated query. */
  val MaxTruncGroup = 8

  private def truncationBase(docs: DataFrame, k: Int, maxGroup: Int) = {
    val tk = TextOps.tokens(col("text"))
    docs.select(col("doc_id"), tk.as("tk"))
      .filter(size(col("tk")) >= k)
      .select(col("doc_id"), col("tk"), size(col("tk")).cast("long").as("len"),
        md5(array_join(slice(col("tk"), 1, k), " ").cast("binary")).as("pk"))
  }

  def truncationPairs(
      docs: DataFrame, k: Int = 16,
      maxGroup: Int = MaxTruncGroup): DataFrame = {
    // bounded-heap per-(pk, len) keep-first: the custom TopKPerKey
    // operator (partial per-partition heaps, ≤ maxGroup·partitions
    // rows per key on the wire) — no Window, no per-group sort of the
    // token arrays
    val capped = org.apache.spark.sql.graft.TopKPerKey(
      truncationBase(docs, k, maxGroup), Seq("pk", "len"),
      Seq(("doc_id", true)), maxGroup)
    val a = capped.select(col("doc_id").as("trunc_doc"), col("pk"),
      col("len").as("trunc_tokens"),
      md5(array_join(col("tk"), " ").cast("binary")).as("amd5"))
    val b = capped.select(col("doc_id").as("full_doc"), col("pk"),
      col("len").as("full_tokens"), col("tk").as("btk"))
    a.join(b, Seq("pk"))
      .filter(col("full_tokens") > col("trunc_tokens"))
      .filter(md5(array_join(
        slice(col("btk"), lit(1), col("trunc_tokens").cast("int")), " ")
        .cast("binary")) === col("amd5"))
      .select(col("trunc_doc"), col("full_doc"),
        col("trunc_tokens"), col("full_tokens"))
  }

  def truncationPairsSql(
      k: Int = 16, maxGroup: Int = MaxTruncGroup): String =
    s"""WITH base AS (
       |  SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS len,
       |    md5(array_to_string(list_slice(tk, 1, $k), ' ')) AS pk
       |  FROM (SELECT doc_id,
       |      list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
       |    FROM documents) d
       |  WHERE len(tk) >= $k
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY pk, len(tk)
       |    ORDER BY doc_id) <= $maxGroup)
       |SELECT a.doc_id AS trunc_doc, b.doc_id AS full_doc,
       |  a.len AS trunc_tokens, b.len AS full_tokens
       |FROM base a JOIN base b ON a.pk = b.pk AND b.len > a.len
       |WHERE md5(array_to_string(list_slice(b.tk, 1, CAST(a.len AS INT)), ' '))
       |    = md5(array_to_string(a.tk, ' '))""".stripMargin

  /** Per-(prefix, length) group census for the truncation-pair cap:
    * `truncated` marks groups whose doc count exceeds
    * [[MaxTruncGroup]], i.e. exactly where [[truncationPairs]] dropped
    * participants — the observability half of the cap (the
    * [[editDistanceBlockStats]] pattern). Group-key-sized relation:
    * only (pk, len, count) crosses the wire, never the token arrays. */
  def truncationGroupStats(
      docs: DataFrame, k: Int = 16,
      maxGroup: Int = MaxTruncGroup): DataFrame =
    truncationBase(docs, k, maxGroup)
      .groupBy(col("pk"), col("len").as("n_tokens"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("truncated", col("n_docs") > maxGroup)

  def truncationGroupStatsSql(
      k: Int = 16, maxGroup: Int = MaxTruncGroup): String =
    s"""WITH base AS (
       |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS len,
       |    md5(array_to_string(list_slice(tk, 1, $k), ' ')) AS pk
       |  FROM (SELECT doc_id,
       |      list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
       |    FROM documents) d
       |  WHERE len(tk) >= $k)
       |SELECT pk, len AS n_tokens, COUNT(*) AS n_docs,
       |  COUNT(*) > $maxGroup AS truncated
       |FROM base GROUP BY pk, len""".stripMargin

  def cdcChunkCensusSql(div: Long = 8L, minDocs: Long = 2L): String =
    s"""WITH d AS (SELECT doc_id,
       |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
       |  FROM documents),
       |m AS (SELECT doc_id,
       |    array_to_string(list_transform(tk, t ->
       |      CASE WHEN (${md5Base30Sql("t")} % $div) = 0
       |           THEN t || chr(1) ELSE t END), ' ') AS s
       |  FROM d),
       |c AS (SELECT doc_id,
       |    unnest(string_split(rtrim(s, chr(1)), chr(1) || ' ')) AS chunk
       |  FROM m),
       |h AS (SELECT doc_id, md5(chunk) AS chunk_md5,
       |    CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tokens
       |  FROM c)
       |SELECT chunk_md5, n_tokens,
       |  COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occs
       |FROM h GROUP BY 1, 2
       |HAVING COUNT(DISTINCT doc_id) >= $minDocs""".stripMargin
}
