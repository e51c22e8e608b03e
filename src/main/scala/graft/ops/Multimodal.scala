package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (builder brief): image/audio/video payloads
  * travel as opaque `binary` columns with a typed metadata struct; decode
  * / feature-extract / frame-sample run as per-partition batched
  * transforms.
  *
  * The actual codec step is STUBBED (no image/audio libraries in this
  * container) with a deterministic fake — `decodeStub` — but the
  * Spark-side plumbing is real and tested: schema (binary + struct
  * metadata), partition-batched execution shape (mapPartitions over an
  * iterator, the Scala analog of mapInPandas batch processing), and
  * column pruning (metadata queries never touch the payload bytes).
  *
  * 100 TB posture: payloads dominate row size, so every transform either
  * (a) projects metadata only — the parquet reader then never reads the
  * payload column — or (b) streams partition iterators without
  * collecting batches; nothing shuffles payload bytes except an explicit
  * repartition the caller opts into.
  */
object Multimodal {

  case class MediaMeta(kind: String, width: Int, height: Int, durationMs: Long)
  case class MediaItem(doc_id: Long, payload: Array[Byte], meta: MediaMeta)
  case class MediaFeatures(doc_id: Long, kind: String, n_bytes: Long, features: Array[Float])

  /** Build a media relation from `documents` — deterministic fake
    * payloads (UTF-8 bytes of the text) with metadata derived from
    * doc_id. Stands in for `spark.read.format("binaryFile")` ingestion. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        (col("doc_id") % 640 + 64).cast("int").as("width"),
        (col("doc_id") % 480 + 48).cast("int").as("height"),
        (col("doc_id") * 33 % 10000).as("durationMs")).as("meta"))

  /** Metadata-only projection — the payload column is pruned at the
    * scan (verify with .explain: ReadSchema excludes `payload`). */
  def mediaCatalog(media: DataFrame): DataFrame =
    media.select(col("doc_id"), col("meta.kind").as("kind"),
      col("meta.width").as("width"), col("meta.height").as("height"),
      col("meta.durationMs").as("duration_ms"))

  /** STUB decode: a real implementation would hand the byte buffer to a
    * codec (JPEG/PNG/PCM) and emit pixel/sample tensors. The fake is
    * deterministic in the payload: 8 byte-histogram moments, normalized.
    * Runs per-partition, batched by the iterator — swap the body for a
    * real codec without touching the plumbing. */
  def decodeStub(payload: Array[Byte]): Array[Float] = {
    val hist = new Array[Long](8)
    var i = 0
    while (i < payload.length) { hist((payload(i) & 0xff) >> 5) += 1; i += 1 }
    val n = math.max(payload.length, 1).toFloat
    hist.map(_ / n)
  }

  /** Feature extraction over the media relation: partition-batched
    * decode (mapPartitions — the iterator IS the batch stream; no
    * per-row function-call overhead, no driver collect). */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload"), col("meta.kind").as("kind"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { it =>
        it.map { case (id, bytes, kind) =>
          MediaFeatures(id, kind, bytes.length.toLong, decodeStub(bytes))
        }
      }
  }

  /** Frame sampling: cut the payload into fixed-size pseudo-frames and
    * keep every `stride`-th one — the plumbing for video frame-sample
    * (a real impl would seek keyframes; the slicing shape is the same). */
  def sampleFrames(media: DataFrame, frameBytes: Int = 64, stride: Int = 4): DataFrame =
    media.select(
        col("doc_id"),
        posexplode(transform(
          sequence(lit(0L),
            greatest((length(col("payload")).cast("long") / lit(frameBytes.toLong)).cast("long") - 1L,
              lit(0L))),
          i => substring(col("payload"), (i * frameBytes + 1).cast("int"), lit(frameBytes)))))
      .toDF("doc_id", "frame_idx", "frame")
      .filter(col("frame_idx") % stride === 0)
      .filter(length(col("frame")) > 0)

  /** DuckDB twin of `sampleFrames` over `mediaFromDocuments`, with the
    * frame bytes HEX-encoded (both engines emit uppercase hex; raw BLOB
    * result columns come back as unhashable bytearray on the oracle side
    * and crash the compare harness). DuckDB has no BLOB substring, but
    * the fixture text is pure ASCII at every SF (verified:
    * octet_length(encode(text)) == length(text) for all rows), so
    * char-slicing the text then encoding equals byte-slicing the
    * payload. */
  def sampleFramesSql(frameBytes: Int = 64, stride: Int = 4): String =
    s"""SELECT doc_id, CAST(i AS INT) AS frame_idx,
       |  hex(encode(substring(text, CAST(i*$frameBytes+1 AS INT), $frameBytes))) AS frame_hex
       |FROM (
       |  SELECT doc_id, text,
       |    unnest(range(0, GREATEST(CAST(octet_length(encode(text)) // $frameBytes AS BIGINT), 1))) AS i
       |  FROM documents) d
       |WHERE i % $stride = 0
       |  AND octet_length(encode(substring(text, CAST(i*$frameBytes+1 AS INT), $frameBytes))) > 0""".stripMargin

  /** [[extractFeatures]] flattened to one row per feature component —
    * the oracle surface for the float32 decode math (array-typed result
    * columns crash the compare harness). */
  def featuresFlat(media: DataFrame): DataFrame =
    extractFeatures(media).toDF()
      .select(col("doc_id"), col("kind"), col("n_bytes"),
        posexplode(col("features")))
      .toDF("doc_id", "kind", "n_bytes", "bucket", "f")

  /** DuckDB twin of [[featuresFlat]] over `mediaFromDocuments`. The
    * stub's float32 arithmetic IS DuckDB-expressible: both operands of
    * the per-bucket division are integers < 2^24 (exact in float32),
    * and DuckDB FLOAT/FLOAT division is true IEEE float32 (verified
    * bit-exact over a 144k-case sweep) — matching the JVM's
    * `Long.toFloat / Float`. Byte buckets come from `ascii(c) // 32`,
    * which equals `(byte & 0xff) >> 5` on the (verified ASCII-pure)
    * fixture text; absent buckets materialize as 0 via the
    * generate_series left join, mirroring the stub's dense 8-slot
    * histogram. */
  val featuresFlatSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
      |    text,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |  FROM documents),
      |chars AS (
      |  SELECT doc_id, ascii(c) // 32 AS bucket
      |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM m) t),
      |counts AS (
      |  SELECT doc_id, bucket, COUNT(*) AS cnt FROM chars GROUP BY 1, 2),
      |dense AS (
      |  SELECT m.doc_id, m.kind, m.n_bytes, b.bucket,
      |         COALESCE(c.cnt, 0) AS cnt
      |  FROM m CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS bucket) b
      |  LEFT JOIN counts c ON c.doc_id = m.doc_id AND c.bucket = b.bucket)
      |SELECT doc_id, kind, n_bytes, CAST(bucket AS INT) AS bucket,
      |       CAST(cnt AS FLOAT) / CAST(GREATEST(n_bytes, 1) AS FLOAT) AS f
      |FROM dense""".stripMargin

  /** STUB resize: box-downsample the payload byte stream to `target`
    * bins — the 1-D shape of an image/audio resample, with byte i
    * assigned to bin (i · target) / len (integer division, the mapping
    * the SQL twin replays exactly) and each bin averaging its bytes. A
    * real implementation would resample decoded pixels; the batched
    * per-partition plumbing, bin math, and float32 output are the
    * production shape. */
  def resizeStub(payload: Array[Byte], target: Int): Array[Float] = {
    val len = payload.length
    val sums = new Array[Long](target)
    val cnts = new Array[Long](target)
    var i = 0
    while (i < len) {
      val bin = (i.toLong * target / len).toInt
      sums(bin) += (payload(i) & 0xff)
      cnts(bin) += 1
      i += 1
    }
    Array.tabulate(target)(j =>
      if (cnts(j) > 0) sums(j).toFloat / cnts(j).toFloat else 0f)
  }

  /** Resize over the media relation, flattened to one row per bin (the
    * oracle surface — array columns crash the compare harness). Same
    * partition-batched kernel shape as [[extractFeatures]]. */
  def resizeFlat(media: DataFrame, target: Int = 4): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => (id, resizeStub(bytes, target)) })
      .toDF("doc_id", "resized")
      .select(col("doc_id"), posexplode(col("resized")))
      .toDF("doc_id", "bin", "v")
  }

  /** DuckDB twin of [[resizeFlat]]: ascii char values over the
    * (ASCII-pure) fixture text replay the payload bytes; the bin
    * mapping and the float32 sum/count division follow the
    * featuresFlatSql precedent (both operands exact in float32). */
  def resizeFlatSql(target: Int = 4): String =
    s"""WITH m AS (
       |  SELECT doc_id, text,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS len
       |  FROM documents),
       |bytes AS (
       |  SELECT doc_id, len,
       |    CAST((CAST(i - 1 AS BIGINT) * $target) // len AS BIGINT) AS bin,
       |    ascii(substring(text, CAST(i AS INT), 1)) AS b
       |  FROM (SELECT doc_id, len, text, unnest(range(1, CAST(len + 1 AS BIGINT))) AS i
       |        FROM m) t),
       |sums AS (
       |  SELECT doc_id, bin, CAST(SUM(b) AS BIGINT) AS s, COUNT(*) AS cnt
       |  FROM bytes GROUP BY doc_id, bin),
       |dense AS (
       |  SELECT m.doc_id, g.bin, COALESCE(s.s, 0) AS s, COALESCE(s.cnt, 0) AS cnt
       |  FROM m CROSS JOIN (SELECT unnest(generate_series(0, ${target - 1})) AS bin) g
       |  LEFT JOIN sums s ON s.doc_id = m.doc_id AND s.bin = g.bin)
       |SELECT doc_id, CAST(bin AS INT) AS bin,
       |  CASE WHEN cnt > 0 THEN CAST(s AS FLOAT) / CAST(cnt AS FLOAT)
       |       ELSE CAST(0 AS FLOAT) END AS v
       |FROM dense""".stripMargin

  /** Oracle-friendly summary over the fake decode: per kind, item count
    * and total payload bytes (expressible in DuckDB over documents). */
  def mediaSummary(media: DataFrame): DataFrame =
    mediaCatalog(media).join(media.select(col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes")), Seq("doc_id"))
      .groupBy("kind")
      .agg(count(lit(1)).as("n_items"), sum("n_bytes").as("total_bytes"))

  // CAST: DuckDB SUM(BIGINT) returns HUGEINT (int128) — dtype drift vs
  // Spark's bigint breaks the driver's hash compare
  val mediaSummarySql: String =
    """SELECT kind, COUNT(*) AS n_items, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes FROM (
      |  SELECT doc_id,
      |    ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |  FROM documents) m GROUP BY kind""".stripMargin

  // -------------------------------------------------------------------
  // REAL codec path (r11 item 4): javax.imageio PNG — a genuine
  // public pure-JVM codec, no extra dependencies. The trick that keeps
  // it ORACLE-GATED rather than rows-only: the image content is a
  // closed-form function of (doc_id, x, y), and PNG is lossless, so
  // encode→decode→channel-sums must reproduce the closed form exactly —
  // which DuckDB can compute without ever seeing a PNG byte. Any codec
  // bug (stride, channel order, color-model drift) breaks the hash.
  // The byte-histogram/resize stubs above stay as the deterministic
  // fake-codec twins.
  // -------------------------------------------------------------------

  /** Closed-form sRGB pixel for the synthetic image of `docId`. */
  def pixel(docId: Long, x: Int, y: Int): Int = {
    val r = ((x * 7 + y * 13 + docId) % 256).toInt
    val g = ((x * 3 + y * 11 + docId * 5) % 256).toInt
    val b = ((x * 17 + y * 5 + docId * 7) % 256).toInt
    (r << 16) | (g << 8) | b
  }

  // ImageIO.read/write would spool every encode AND decode through a
  // temp FILE on disk (FileCacheImageInput/OutputStream) — per image,
  // under 32 concurrent tasks. encodePng/decodePng build memory-cached
  // streams themselves, so the JVM-global ImageIO.setUseCache is never
  // touched; with per-thread reader/writer instances (the registry
  // scan inside ImageIO.read/write is a per-call cost) the codec itself
  // is the only work.
  private val tlPngWriter =
    ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
      javax.imageio.ImageIO.getImageWritersByFormatName("png").next())
  private val tlPngReader =
    ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
      javax.imageio.ImageIO.getImageReadersByFormatName("png").next())

  /** Render + PNG-encode the synthetic image (real codec, real bytes).
    * Pixels are written straight into the image's int raster buffer —
    * per-pixel setRGB routes every store through the color model. */
  def encodePng(docId: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val buf = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferInt].getData
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { buf(y * w + x) = pixel(docId, x, y); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    val wr = tlPngWriter.get()
    wr.setOutput(ios)
    wr.write(img)
    ios.close()
    bos.toByteArray
  }

  /** Decode a PNG payload with the real ImageIO PNG plugin (memory-
    * cached stream, metadata skipped — the pixel path is unchanged). */
  private def decodePng(png: Array[Byte]): java.awt.image.BufferedImage = {
    val rd = tlPngReader.get()
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(png))
    rd.setInput(iis, true, true)
    val img = rd.read(0)
    iis.close()
    img
  }

  /** Decode a PNG payload and reduce to (width, height, per-channel
    * pixel sums) — integer-exact, the oracle-comparable face of a
    * decoded tensor. Bulk getRGB: one color-model pass over the image
    * instead of a method call per pixel. */
  def decodeChannelSums(png: Array[Byte]): (Int, Int, Long, Long, Long) = {
    val img = decodePng(png)
    val w = img.getWidth; val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var rs = 0L; var gs = 0L; var bs = 0L
    var i = 0
    while (i < px.length) {
      val p = px(i)
      rs += (p >> 16) & 0xff; gs += (p >> 8) & 0xff; bs += p & 0xff
      i += 1
    }
    (w, h, rs, gs, bs)
  }

  /** Per-doc image dimensions — small (≤ 23×17) so the fixture encodes
    * thousands of real PNGs in milliseconds. */
  private def dims(docId: Long): (Int, Int) =
    ((docId % 16 + 8).toInt, (docId % 12 + 6).toInt)

  /** Real-codec round-trip over `documents`: render → PNG encode →
    * PNG decode → channel sums, all inside one partition-batched
    * mapPartitions (the same execution shape as [[extractFeatures]];
    * payload bytes never shuffle — encode and decode are fused in the
    * same task). Output is closed-form in doc_id, so the driver's
    * DuckDB oracle hash-checks the REAL codec end-to-end. */
  def pngRoundtripSums(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    codecParallel(docs.select(col("doc_id")).as[Long])
      .mapPartitions(_.map { id =>
        val (w, h) = dims(id)
        val (dw, dh, rs, gs, bs) = decodeChannelSums(encodePng(id, w, h))
        (id, dw, dh, rs, gs, bs)
      })
      .toDF("doc_id", "width", "height", "r_sum", "g_sum", "b_sum")
  }

  /** Spread a CPU-bound codec pass across the cluster regardless of
    * input file layout. Scan parallelism follows input SPLITS, and a
    * codec pass is the "tiny input, heavy compute" shape where that
    * fails: the 500k-doc scale fixture is one 12 MB row group → ONE
    * task → 1/32 of the machine doing PNG work (observed at sf10:
    * single-core for minutes). The repartition shuffles only the
    * 8-byte ids — payload bytes still never shuffle (they are
    * synthesized/decoded inside the task) — and decode cost dominates
    * the shuffle by orders of magnitude at any corpus size. */
  private def codecParallel(ids: Dataset[Long]): Dataset[Long] =
    ids.repartition(ids.sparkSession.sparkContext.defaultParallelism)

  /** DuckDB twin of [[pngRoundtripSums]]: the closed-form pixel sums,
    * no codec involved — lossless round-trip means the real-codec path
    * must reproduce these bits or the gate fails. */
  val pngRoundtripSumsSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(doc_id % 16 + 8 AS INT) AS width,
      |    CAST(doc_id % 12 + 6 AS INT) AS height
      |  FROM documents),
      |px AS (
      |  SELECT d.doc_id, d.width, d.height, gx.x, gy.y
      |  FROM d
      |  JOIN (SELECT unnest(generate_series(0, 23)) AS x) gx ON gx.x < d.width
      |  JOIN (SELECT unnest(generate_series(0, 17)) AS y) gy ON gy.y < d.height)
      |SELECT doc_id, width, height,
      |  CAST(SUM((x * 7  + y * 13 + doc_id)     % 256) AS BIGINT) AS r_sum,
      |  CAST(SUM((x * 3  + y * 11 + doc_id * 5) % 256) AS BIGINT) AS g_sum,
      |  CAST(SUM((x * 17 + y * 5  + doc_id * 7) % 256) AS BIGINT) AS b_sum
      |FROM px GROUP BY doc_id, width, height""".stripMargin

  /** Perceptual difference-hash (dHash) of the REAL decoded PNG: the
    * image is average-pooled onto a 9×8 grid (pixel → cell by integer
    * division, sums compared cross-multiplied so no float division
    * exists anywhere), and bit (r,c) records whether cell (r,c) is
    * brighter than its right neighbor — the standard near-duplicate
    * IMAGE fingerprint (two re-encodes of the same picture share the
    * hash; Hamming distance ranks visual similarity). Split into two
    * 32-bit halves so neither BIGINT can overflow. Runs decode+hash
    * fused in one partition-batched pass like [[pngRoundtripSums]];
    * payload bytes never shuffle. The DuckDB twin recomputes the hash
    * from the closed-form pixel function WITHOUT any codec — so a
    * hash match certifies the real decode path end-to-end. Empty grid
    * cells (w < 9 or h < 8) compare as 0 > 0 = false on the JVM and
    * are simply absent rows summing to 0 in SQL — identical bits. */
  def pngDHash(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    codecParallel(docs.select(col("doc_id")).as[Long])
      .mapPartitions(_.map { id =>
        val (w, h) = dims(id)
        val img = decodePng(encodePng(id, w, h))
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        val sg = Array.ofDim[Long](8, 9)
        val n = Array.ofDim[Long](8, 9)
        var y = 0
        while (y < h) {
          val r = y * 8 / h
          var x = 0
          while (x < w) {
            val c = x * 9 / w
            val p = px(y * w + x)
            sg(r)(c) += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
            n(r)(c) += 1
            x += 1
          }
          y += 1
        }
        var lo = 0L; var hi = 0L
        for (r <- 0 until 8; c <- 0 until 8) {
          if (sg(r)(c) * n(r)(c + 1) > sg(r)(c + 1) * n(r)(c)) {
            val k = r * 8 + c
            if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
          }
        }
        (id, hi, lo)
      })
      .toDF("doc_id", "phash_hi", "phash_lo")
  }

  /** DuckDB twin of [[pngDHash]]: the same grid/bit algebra over the
    * closed-form pixels — no codec. */
  val pngDHashSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(doc_id % 16 + 8 AS INT) AS width,
      |    CAST(doc_id % 12 + 6 AS INT) AS height
      |  FROM documents),
      |px AS (
      |  SELECT d.doc_id, d.width, d.height, gx.x, gy.y,
      |    ((gx.x * 7  + gy.y * 13 + d.doc_id)     % 256) +
      |    ((gx.x * 3  + gy.y * 11 + d.doc_id * 5) % 256) +
      |    ((gx.x * 17 + gy.y * 5  + d.doc_id * 7) % 256) AS gray
      |  FROM d
      |  JOIN (SELECT unnest(generate_series(0, 23)) AS x) gx ON gx.x < d.width
      |  JOIN (SELECT unnest(generate_series(0, 17)) AS y) gy ON gy.y < d.height),
      |cells AS (
      |  SELECT doc_id, (y * 8) // height AS r, (x * 9) // width AS c,
      |    SUM(gray) AS sg, COUNT(*) AS n
      |  FROM px GROUP BY 1, 2, 3),
      |bits AS (
      |  SELECT a.doc_id, CAST(a.r * 8 + a.c AS BIGINT) AS k
      |  FROM cells a JOIN cells b
      |    ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
      |  WHERE a.c < 8 AND a.sg * b.n > b.sg * a.n)
      |SELECT d.doc_id,
      |  CAST(COALESCE(SUM(CASE WHEN k >= 32
      |    THEN (CAST(1 AS BIGINT) << CAST(k - 32 AS INT)) END), 0) AS BIGINT)
      |    AS phash_hi,
      |  CAST(COALESCE(SUM(CASE WHEN k < 32
      |    THEN (CAST(1 AS BIGINT) << CAST(k AS INT)) END), 0) AS BIGINT)
      |    AS phash_lo
      |FROM d LEFT JOIN bits ON d.doc_id = bits.doc_id
      |GROUP BY d.doc_id""".stripMargin

  /** Near-duplicate IMAGE pairs by perceptual-hash Hamming distance:
    * pairs of docs whose [[pngDHash]] fingerprints differ in at most
    * `maxHamming` of 64 bits — the visual-similarity join (re-encoded /
    * slightly-altered copies of the same picture). Candidate generation
    * is the pigeonhole chunk trick shared with the text SimHash join:
    * the 64 bits split into 4×16-bit chunks, any pair within Hamming 3
    * agrees on ≥ 1 whole chunk, so the join runs on (chunk_idx,
    * chunk_value) — O(n·4) index entries, never n² — and the exact
    * popcount-xor distance verifies candidates. */
  def phashNearDups(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val ph = pngDHash(docs).localCheckpoint(true)
    val chunks = ph.select(col("doc_id"), col("phash_hi"), col("phash_lo"),
      posexplode(array(
        col("phash_lo").bitwiseAND(lit(0xffffL)),
        shiftright(col("phash_lo"), 16).bitwiseAND(lit(0xffffL)),
        col("phash_hi").bitwiseAND(lit(0xffffL)),
        shiftright(col("phash_hi"), 16).bitwiseAND(lit(0xffffL)))))
      .toDF("doc_id", "phash_hi", "phash_lo", "chunk", "cval")
    val a = chunks.select(col("doc_id").as("da"), col("phash_hi").as("ha"),
      col("phash_lo").as("la"), col("chunk"), col("cval"))
    val b = chunks.select(col("doc_id").as("db"), col("phash_hi").as("hb"),
      col("phash_lo").as("lb"), col("chunk"), col("cval"))
    a.join(b, Seq("chunk", "cval"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        (bit_count(col("ha").bitwiseXOR(col("hb")))
          + bit_count(col("la").bitwiseXOR(col("lb")))).cast("int")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  def phashNearDupsSql(maxHamming: Int = 3): String =
    s"""WITH ph AS MATERIALIZED ($pngDHashSql),
       |chunks AS (
       |  SELECT doc_id, phash_hi, phash_lo, ch.chunk,
       |    CASE ch.chunk
       |      WHEN 0 THEN phash_lo & 65535
       |      WHEN 1 THEN (phash_lo >> 16) & 65535
       |      WHEN 2 THEN phash_hi & 65535
       |      ELSE (phash_hi >> 16) & 65535 END AS cval
       |  FROM ph, (SELECT unnest([0, 1, 2, 3]) AS chunk) ch)
       |SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
       |  CAST(bit_count(xor(a.phash_hi, b.phash_hi)) +
       |       bit_count(xor(a.phash_lo, b.phash_lo)) AS INT) AS hamming
       |FROM chunks a JOIN chunks b
       |  ON a.chunk = b.chunk AND a.cval = b.cval AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.phash_hi, b.phash_hi)) +
       |      bit_count(xor(a.phash_lo, b.phash_lo)) <= $maxHamming""".stripMargin

  /** Exact binary-payload dedup — the dedup family extended to the
    * media modality: group on the 128-bit payload digest (the ONLY
    * thing that crosses the wire — 16 bytes/item, never the blob),
    * keep the lowest doc_id per digest, report the copy count. At
    * 100 TB this is the standard asset-dedup pass before any decode:
    * one fixed-width-key shuffle regardless of payload size. */
  def mediaDedup(media: DataFrame): DataFrame = {
    val d = media.select(col("doc_id"), col("meta.kind").as("kind"),
      length(col("payload")).cast("long").as("n_bytes"),
      md5(col("payload")).as("digest"))
    d.groupBy("digest").agg(
        min("doc_id").as("doc_id"),
        count(lit(1)).as("n_copies"))
      .join(d.select("doc_id", "kind", "n_bytes"), Seq("doc_id"))
      .select("doc_id", "kind", "n_bytes", "n_copies")
  }

  val mediaDedupSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |    md5(text) AS digest -- VARCHAR md5 = md5 over the UTF-8 bytes,
      |                        -- identical to Spark's md5(payload)
      |  FROM documents),
      |g AS (SELECT digest, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
      |      FROM m GROUP BY digest)
      |SELECT g.doc_id, m.kind, m.n_bytes, g.n_copies
      |FROM g JOIN m USING (doc_id)""".stripMargin
}
