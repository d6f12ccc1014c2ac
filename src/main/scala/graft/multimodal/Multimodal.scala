package graft.multimodal

import graft.Q
import graft.SessionCaches.cutLineage
import graft.sources.Tables
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns: media payloads as opaque `binary` columns with
  * typed metadata, plus the decode → feature-extract plumbing a
  * 100 TB media pipeline needs (builder brief).
  *
  * Two decode tiers:
  *  - [[imageDecode]] is a REAL fixed-format decoder: PPM P6 header
  *    parse + per-channel pixel statistics in pure codegen'd column
  *    expressions (oracle-checked byte-for-byte);
  *  - formats that need an external codec (JPEG/audio/video — the
  *    container has none) keep the *stubbed* decode behind the
  *    batched `mapPartitions` boundary (the Scala analog of
  *    `mapInPandas` — one codec init per partition, records stream
  *    through an iterator, never materializing a partition), with
  *    everything around it real and tested: the schema (binary +
  *    metadata struct), the batch shape, and the downstream feature
  *    queries.
  *
  * Payloads here are synthesized from `documents.text` bytes so the
  * pipeline runs against driver testdata; a real deployment swaps
  * the source for `spark.read.format("binaryFile")` and the stub for
  * a codec call with the identical record/batch shape.
  */
object Multimodal {

  /** Planted perturbed-twin ids are parent doc_id + this offset (one
    * byte perturbed — the near-dup certification device; compile-time
    * constant so oracle SQL interpolation is init-order-safe). */
  final val TwinOffset = 1000000L
  /** The media-forget takedown family: docs with
    * doc_id % [[TakedownMod]] == [[TakedownResidue]] are withdrawn by
    * the joint/trimodal/emission forget worlds and their oracles. */
  final val TakedownMod = 20L
  final val TakedownResidue = 8L
  // Load-bearing coupling, asserted at construction (not left to the
  // oracle diff): the forget worlds' edge/record prunes test the
  // takedown residue on BOTH endpoint ids, relying on a planted twin
  // (parent + TwinOffset) sharing its parent's residue class so a
  // forgotten parent's twin is withdrawn by the same predicate.
  // Changing either constant incompatibly must fail loudly HERE.
  require(TwinOffset % TakedownMod == 0,
    s"TwinOffset ($TwinOffset) must be ≡ 0 (mod TakedownMod=$TakedownMod): " +
      "a planted twin must share its parent's takedown residue or the " +
      "forget worlds' pruned-edges ≡ reduced-corpus equivalence breaks")
  // The twin-plant residue (doc_id % 10 == 0 docs get a twin) and the
  // takedown residue must not collide: TakedownResidue ∉ {0} (mod 10)
  // keeps "no takedown doc is a twin parent" true, so the twin set is
  // untouched by a takedown and forget certificates stay comparable
  // against untouched planted rows.
  require(TakedownResidue % 10 != 0,
    "takedown residue collides with the twin-parent plant (doc_id % 10 = 0)")

  final case class MediaRecord(
      doc_id: Long,
      payload: Array[Byte],
      format: String,
      width: Int,
      height: Int)

  final case class MediaFeatures(
      doc_id: Long,
      n_bytes: Int,
      width: Int,
      height: Int,
      n_frames: Int,
      mean_intensity: Double,
      checksum: Long)

  /** documents → media records: payload = utf-8 bytes; fake metadata
    * derived deterministically from doc stats. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        col("text").cast("binary").as("payload"),
        lit("fake/raw").as("format"),
        (col("n_chars") % 64 + 16).cast("int").as("width"),
        (col("n_chars") % 48 + 12).cast("int").as("height"))
      .as[MediaRecord]
  }

  /** The CONTRACT codec: a deterministic identity decode (each
    * payload byte IS one pixel intensity, 0–255). This is the
    * boundary a real codec plugs into — same signature (bytes →
    * intensities), same call site (one decoder init per partition in
    * [[extractFeatures]]) — and because it is deterministic and
    * byte-replayable, every downstream feature stays DuckDB
    * oracle-checkable, which a JPEG/PNG decode would forfeit. In this
    * container (no image libraries) the identity codec is the
    * shipped implementation, not a placeholder. */
  private def decodeStub(payload: Array[Byte]): Array[Double] =
    payload.map(b => (b & 0xFF).toDouble)

  /** Frame sampling stub: every `stride`-th byte-window as a "frame". */
  private def sampleFrames(pixels: Array[Double], stride: Int): Int =
    math.max(1, pixels.length / stride)

  /** Batched decode + feature extraction via mapPartitions: one
    * decoder init per partition (the expensive part with a real
    * codec), streaming record-at-a-time through the iterator. The
    * checksum is the same wrapping 31-polynomial byte fold as
    * [[graft.functions.RollingHash]], so the DuckDB oracle can replay
    * every output column (fully oracle-checked despite the stubbed
    * codec); the mean intensity is emitted RAW and rounded at the
    * query boundary like every other float output. */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // real pipeline: initialize codec/context once per partition here
      it.map { rec =>
        val pixels = decodeStub(rec.payload)
        var h = 0L
        var i = 0
        while (i < rec.payload.length) { h = h * 31 + (rec.payload(i) & 0xFF); i += 1 }
        MediaFeatures(
          doc_id = rec.doc_id,
          n_bytes = rec.payload.length,
          width = rec.width,
          height = rec.height,
          n_frames = sampleFrames(pixels, 32),
          mean_intensity = if (pixels.isEmpty) 0.0 else pixels.sum / pixels.length,
          checksum = h)
      }
    }
  }

  // ---------------------------------------------------------------- queries
  /** Metadata projection over the binary column — oracle-checkable
    * (byte length + md5 digest agree across engines). */
  val mediaMeta: Q = Q("mm_media_meta",
    """SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes,
      |  md5(text) AS digest, 'fake/raw' AS format
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    mediaTable(s, dir).toDF()
      .select(col("doc_id"), length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("digest"), col("format"))
      .orderBy(col("doc_id"))
  }

  /** Decode-stub feature extraction — FULLY oracle-checked: the
    * corpus is ASCII so DuckDB replays the byte decode per character
    * (`ord`), the polynomial checksum with a HUGEINT accumulator mod
    * 2⁶⁴ (same formula as `text_fingerprint64`'s oracle), the mean
    * intensity as a sequential list average, and the frame count as
    * integer division. Determinism + batch shape additionally
    * asserted in ScalaTest. */
  val mediaFeatures: Q = Q("mm_media_features",
    """WITH f AS (
      |  SELECT doc_id, n_chars,
      |    octet_length(CAST(text AS BLOB)) AS n_bytes,
      |    CASE WHEN length(text) = 0 THEN 0::HUGEINT ELSE list_reduce(
      |      list_transform(range(1, length(text) + 1),
      |                     i -> CAST(ord(substr(text, i, 1)) AS HUGEINT)),
      |      (acc, x) -> (acc * 31 + x) % 18446744073709551616::HUGEINT) END AS h,
      |    CASE WHEN length(text) = 0 THEN 0.0 ELSE
      |      list_avg(list_transform(range(1, length(text) + 1),
      |                              i -> CAST(ord(substr(text, i, 1)) AS DOUBLE)))
      |    END AS mi
      |  FROM documents)
      |SELECT doc_id, n_bytes,
      |  CAST(n_chars % 64 + 16 AS INTEGER) AS width,
      |  CAST(n_chars % 48 + 12 AS INTEGER) AS height,
      |  CAST(GREATEST(1, n_bytes // 32) AS INTEGER) AS n_frames,
      |  ROUND(mi, 6) AS mean_intensity,
      |  CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
      |            THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS checksum
      |FROM f ORDER BY doc_id""".stripMargin) { (s, dir) =>
    extractFeatures(mediaTable(s, dir)).toDF()
      .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
        col("width"), col("height"), col("n_frames"),
        round(col("mean_intensity"), 6).as("mean_intensity"),
        col("checksum"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic PPM (P6) payloads: real binary images synthesized
    * from the text bytes — `P6\n<w> <h>\n255\n` + `3·w·h` RGB bytes
    * (pixels = the text cycled to length). The encoder is the test
    * fixture; [[imageDecode]] below never looks at anything but the
    * payload column. */
  def ppmTable(spark: SparkSession, dir: String) =
    ppmFrames(Tables.documents(spark, dir))

  /** The PPM synthesis over any documents frame — shared by the
    * batch queries and the streaming image-dedup twin. */
  def ppmFrames(docs: org.apache.spark.sql.DataFrame) =
    docs.filter(col("n_chars") > 0)
      .withColumn("w", (col("n_chars") % 8 + 4).cast("int"))
      .withColumn("h", (col("n_chars") % 6 + 3).cast("int"))
      .withColumn("px_src",
        expr("substring(repeat(text, 3*w*h div n_chars + 1), 1, 3*w*h)"))
      .select(col("doc_id"),
        expr("CAST(concat('P6', chr(10), w, ' ', h, chr(10), '255', chr(10), px_src) AS BINARY)")
          .as("payload"))

  /** A REAL fixed-format image decoder, not a stub: parses the PPM P6
    * header (magic, dimensions, maxval, pixel offset) and computes
    * per-channel pixel statistics — entirely in codegen'd column
    * expressions over the `binary` payload (no UDF, no mapPartitions,
    * no driver loop), which is the right shape for a decodable format:
    * the whole decode stays inside WholeStageCodegen and scales as a
    * map stage. The `mapPartitions` boundary in [[extractFeatures]]
    * remains the documented plug for formats that genuinely need an
    * external codec (JPEG/audio/video); this query is the existence
    * proof that "multimodal column" means decode, not just checksums.
    * Oracle: DuckDB re-parses the same payload bytes with its own
    * string/blob arithmetic — header fields, byte accounting, channel
    * means, min/max all hash-compared. */
  val imageDecode: Q = Q("mm_image_decode",
    """WITH enc AS (
      |  SELECT doc_id,
      |    'P6' || chr(10) || CAST(n_chars % 8 + 4 AS VARCHAR) || ' '
      |      || CAST(n_chars % 6 + 3 AS VARCHAR) || chr(10) || '255' || chr(10)
      |      || substr(repeat(text, 3*(n_chars % 8 + 4)*(n_chars % 6 + 3) // n_chars + 1),
      |                1, 3*(n_chars % 8 + 4)*(n_chars % 6 + 3)) AS s
      |  FROM documents WHERE n_chars > 0
      |), dec AS (
      |  SELECT doc_id, s,
      |    split_part(s, chr(10), 1) AS p1,
      |    split_part(s, chr(10), 2) AS p2,
      |    split_part(s, chr(10), 3) AS p3,
      |    CAST(split_part(split_part(s, chr(10), 2), ' ', 1) AS INTEGER) AS w,
      |    CAST(split_part(split_part(s, chr(10), 2), ' ', 2) AS INTEGER) AS h
      |  FROM enc
      |), off AS (
      |  SELECT *, length(p1) + length(p2) + length(p3) + 3 AS hdr,
      |    substr(s, length(p1) + length(p2) + length(p3) + 3 + 1, 3*w*h) AS px
      |  FROM dec
      |)
      |SELECT doc_id,
      |  (p1 = 'P6') AS magic_ok,
      |  w, h,
      |  CAST(p3 AS INTEGER) AS maxval,
      |  (length(s) = hdr + 3*w*h) AS payload_complete,
      |  w*h AS n_pixels,
      |  ROUND(list_sum(list_transform(range(0, w*h), i -> ord(substr(px, 3*i + 1, 1))))
      |        / CAST(w*h AS DOUBLE), 6) AS mean_r,
      |  ROUND(list_sum(list_transform(range(0, w*h), i -> ord(substr(px, 3*i + 2, 1))))
      |        / CAST(w*h AS DOUBLE), 6) AS mean_g,
      |  ROUND(list_sum(list_transform(range(0, w*h), i -> ord(substr(px, 3*i + 3, 1))))
      |        / CAST(w*h AS DOUBLE), 6) AS mean_b,
      |  CAST(list_min(list_transform(range(0, 3*w*h), i -> ord(substr(px, i + 1, 1)))) AS INTEGER) AS min_px,
      |  CAST(list_max(list_transform(range(0, 3*w*h), i -> ord(substr(px, i + 1, 1)))) AS INTEGER) AS max_px
      |FROM off ORDER BY doc_id""".stripMargin) { (s, dir) =>
    decodePpm(ppmTable(s, dir)).orderBy(col("doc_id"))
  }

  /** Deterministic nearest-neighbor RESIZE to the fixed 4×3 patch
    * grid — the preprocessing step between decode and the
    * patch-token pack (a vision encoder consumes fixed-resolution
    * patches, so every variable-dimension source image resizes
    * first). Output pixel (x, y) reads source pixel
    * (⌊x·w/4⌋, ⌊y·h/3⌋) — pure index arithmetic over the parsed
    * pixel string, so the engine runs it as one codegen'd column
    * program (no UDF) and the oracle replays byte-for-byte: the
    * resized image ships as a content fingerprint plus its red-mean.
    * Stateless per-row map — embarrassingly parallel at 100 TB, and
    * the source dims (w ∈ [4,11], h ∈ [3,8]) always cover the
    * target, so this is strictly a downsample. */
  val imageResize: Q = Q("mm_image_resize",
    """WITH enc AS (
      |  SELECT doc_id,
      |    'P6' || chr(10) || CAST(n_chars % 8 + 4 AS VARCHAR) || ' '
      |      || CAST(n_chars % 6 + 3 AS VARCHAR) || chr(10) || '255' || chr(10)
      |      || substr(repeat(text, 3*(n_chars % 8 + 4)*(n_chars % 6 + 3) // n_chars + 1),
      |                1, 3*(n_chars % 8 + 4)*(n_chars % 6 + 3)) AS s
      |  FROM documents WHERE n_chars > 0
      |), dec AS (
      |  SELECT doc_id, s,
      |    split_part(s, chr(10), 1) AS p1,
      |    split_part(s, chr(10), 2) AS p2,
      |    split_part(s, chr(10), 3) AS p3,
      |    CAST(split_part(split_part(s, chr(10), 2), ' ', 1) AS INTEGER) AS w,
      |    CAST(split_part(split_part(s, chr(10), 2), ' ', 2) AS INTEGER) AS h
      |  FROM enc
      |), off AS (
      |  SELECT *, substr(s, length(p1) + length(p2) + length(p3) + 3 + 1, 3*w*h) AS px
      |  FROM dec
      |), rs AS (
      |  SELECT doc_id, w, h,
      |    array_to_string(list_transform(range(0, 12), k ->
      |      substr(px, 3*(((k // 4) * h // 3) * w + ((k % 4) * w // 4)) + 1, 3)), '') AS rpx
      |  FROM off
      |)
      |SELECT doc_id, w, h, 4 AS tw, 3 AS th,
      |  md5(rpx) AS resized_fp,
      |  ROUND(list_sum(list_transform(range(0, 12), m -> ord(substr(rpx, 3*m + 1, 1)))) / 12.0, 6)
      |    AS mean_r_resized
      |FROM rs ORDER BY doc_id""".stripMargin) { (s, dir) =>
    parsePpm(ppmTable(s, dir))
      .withColumn("rpx", expr(
        "concat_ws('', transform(sequence(0, 11), k -> " +
          "substring(px, 3*(((k DIV 4) * h DIV 3) * w + ((k % 4) * w DIV 4)) + 1, 3)))"))
      .select(col("doc_id"), col("w"), col("h"),
        lit(4).as("tw"), lit(3).as("th"),
        md5(col("rpx")).as("resized_fp"),
        round(expr("aggregate(transform(sequence(0, 11), m -> ascii(substring(rpx, 3*m + 1, 1))), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x) / CAST(12 AS DOUBLE)"), 6).as("mean_r_resized"))
      .orderBy(col("doc_id"))
  }

  /** Header parse shared by the decoder and the perceptual-hash
    * dedup: `(doc_id, payload)` → magic/dims/maxval fields, header
    * length, and the raw pixel string. Pure column program. */
  def parsePpm(media: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    media
      .withColumn("s", col("payload").cast("string"))
      .withColumn("p1", expr("split_part(s, chr(10), 1)"))
      .withColumn("p2", expr("split_part(s, chr(10), 2)"))
      .withColumn("p3", expr("split_part(s, chr(10), 3)"))
      .withColumn("w", expr("CAST(split_part(p2, ' ', 1) AS INT)"))
      .withColumn("h", expr("CAST(split_part(p2, ' ', 2) AS INT)"))
      .withColumn("hdr", expr("length(p1) + length(p2) + length(p3) + 3"))
      .withColumn("px", expr("substring(s, hdr + 1, 3*w*h)"))

  /** The decoder proper: `(doc_id, payload)` → header fields, byte
    * accounting, per-channel stats. Derives every output from the
    * payload column alone. */
  def decodePpm(media: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    parsePpm(media)
      .select(col("doc_id"),
        (col("p1") === "P6").as("magic_ok"),
        col("w"), col("h"),
        expr("CAST(p3 AS INT)").as("maxval"),
        (length(col("s")) === col("hdr") + expr("3*w*h")).as("payload_complete"),
        expr("w*h").as("n_pixels"),
        expr("""ROUND(aggregate(transform(sequence(0, w*h - 1), i -> ascii(substring(px, 3*i + 1, 1))),
                CAST(0 AS BIGINT), (a, x) -> a + x) / CAST(w*h AS DOUBLE), 6)""").as("mean_r"),
        expr("""ROUND(aggregate(transform(sequence(0, w*h - 1), i -> ascii(substring(px, 3*i + 2, 1))),
                CAST(0 AS BIGINT), (a, x) -> a + x) / CAST(w*h AS DOUBLE), 6)""").as("mean_g"),
        expr("""ROUND(aggregate(transform(sequence(0, w*h - 1), i -> ascii(substring(px, 3*i + 3, 1))),
                CAST(0 AS BIGINT), (a, x) -> a + x) / CAST(w*h AS DOUBLE), 6)""").as("mean_b"),
        expr("array_min(transform(sequence(0, 3*w*h - 1), i -> ascii(substring(px, i + 1, 1))))")
          .cast("int").as("min_px"),
        expr("array_max(transform(sequence(0, 3*w*h - 1), i -> ascii(substring(px, i + 1, 1))))")
          .cast("int").as("max_px"))

  // ------------------------------------------------------------- audio decode
  // Little-endian hex encoders for the WAV header fields — one
  // spelling per engine (div vs //), kept in lockstep.
  private def leHexSpark(e: String, n: Int): String =
    (0 until n).map { k =>
      val shift = if (k == 0) s"($e)" else s"(($e) div ${1L << (8 * k)})"
      s"lpad(hex($shift % 256), 2, '0')"
    }.mkString(", ")

  private def leHexDuck(e: String, n: Int): String =
    (0 until n).map { k =>
      val shift = if (k == 0) s"($e)" else s"(($e) // ${1L << (8 * k)})"
      s"lpad(hex($shift % 256), 2, '0')"
    }.mkString(" || ")

  /** Deterministic canonical WAV payloads: real RIFF/WAVE binaries —
    * the 44-byte PCM header (8-bit samples, 8 kHz, mono for even
    * doc_ids / stereo for odd) followed by `frames × channels`
    * interleaved sample bytes cycled from the text (the [[ppmTable]]
    * device for a SECOND self-describing modality). Built as a hex
    * program + `unhex` so multi-byte little-endian header fields
    * materialize exactly; the decoder below never looks at anything
    * but the payload column. */
  def wavTable(spark: SparkSession, dir: String) =
    wavFrames(Tables.documents(spark, dir))

  /** The WAV synthesis over any documents frame — shared by the
    * batch query and the stateless streaming twin. */
  def wavFrames(docs: org.apache.spark.sql.DataFrame) =
    docs.filter(col("n_chars") > 0)
      .withColumn("ch", (lit(1) + col("doc_id") % 2).cast("int"))
      .withColumn("frames", col("n_chars").cast("int"))
      .withColumn("hx", expr(s"""concat(
        |  '52494646', ${leHexSpark("36 + frames * ch", 4)},
        |  '57415645', '666D7420', ${leHexSpark("16", 4)},
        |  ${leHexSpark("1", 2)}, ${leHexSpark("ch", 2)},
        |  ${leHexSpark("8000", 4)}, ${leHexSpark("8000 * ch", 4)},
        |  ${leHexSpark("ch", 2)}, ${leHexSpark("8", 2)},
        |  '64617461', ${leHexSpark("frames * ch", 4)},
        |  hex(substring(repeat(text, (frames * ch) div n_chars + 1), 1, frames * ch)))"""
        .stripMargin))
      .select(col("doc_id"), expr("unhex(hx)").as("payload"))

  // byte p (1-based) of the payload, read from its hex image — the
  // only byte-level primitive both engines share for arbitrary
  // (non-UTF-8) binary, so the whole parse is hex-position arithmetic
  private def byteAtSpark(p: String): String =
    s"CAST(conv(substring(hx, 2*($p) - 1, 2), 16, 10) AS INT)"
  private def byteAtDuck(p: String): String =
    s"CAST(('0x' || substr(hx, 2*($p) - 1, 2)) AS INTEGER)"

  /** A REAL second-modality decoder: parses the RIFF/WAVE/fmt/data
    * chunks of a canonical PCM WAV (magic words, channel count,
    * sample rate, bit depth, data size — all little-endian byte
    * arithmetic over the payload's hex image) and computes
    * per-channel peak + RMS and the clip duration, entirely in
    * column expressions over the `binary` payload — the
    * [[imageDecode]] pattern for audio, making "multimodal columns"
    * mean more than one format. Scale shape: one codegen'd map pass,
    * no shuffle, no UDF; per-row cost linear in payload bytes. */
  /** The WAV synth + parse + per-channel stats CTE chain (`g` …
    * `stats`) of [[audioDecode]]'s oracle — shared with the media
    * drift monitor, which buckets the same decoded stats. */
  private def wavStatsOracleCtes: String =
    s"""g AS (
      |  SELECT doc_id, n_chars, CAST(1 + doc_id % 2 AS INTEGER) AS ch,
      |         n_chars AS frames, text
      |  FROM documents WHERE n_chars > 0
      |), e AS (
      |  SELECT doc_id,
      |    '52494646' || ${leHexDuck("36 + frames * ch", 4)} || '57415645'
      |    || '666D7420' || ${leHexDuck("16", 4)} || ${leHexDuck("1", 2)} || ${leHexDuck("ch", 2)}
      |    || ${leHexDuck("8000", 4)} || ${leHexDuck("8000 * ch", 4)}
      |    || ${leHexDuck("ch", 2)} || ${leHexDuck("8", 2)}
      |    || '64617461' || ${leHexDuck("frames * ch", 4)}
      |    || hex(encode(substr(repeat(text, (frames * ch) // n_chars + 1), 1, frames * ch))) AS hx
      |  FROM g
      |), blobbed AS (
      |  SELECT doc_id, hex(from_hex(hx)) AS hx FROM e
      |), parsed AS (
      |  SELECT doc_id, hx,
      |    (substr(hx, 1, 8) = '52494646') AS riff_ok,
      |    (substr(hx, 17, 8) = '57415645') AS wave_ok,
      |    (${byteAtDuck("21")} + 256 * ${byteAtDuck("22")}) AS audio_format,
      |    (${byteAtDuck("23")} + 256 * ${byteAtDuck("24")}) AS n_channels,
      |    (${byteAtDuck("25")} + 256 * ${byteAtDuck("26")} + 65536 * ${byteAtDuck("27")}
      |      + 16777216 * ${byteAtDuck("28")}) AS sample_rate,
      |    (${byteAtDuck("35")} + 256 * ${byteAtDuck("36")}) AS bits,
      |    (${byteAtDuck("41")} + 256 * ${byteAtDuck("42")} + 65536 * ${byteAtDuck("43")}
      |      + 16777216 * ${byteAtDuck("44")}) AS data_size
      |  FROM blobbed
      |), stats AS (
      |  SELECT doc_id, riff_ok, wave_ok, (audio_format = 1) AS fmt_pcm_ok,
      |    n_channels, sample_rate, bits,
      |    CAST(data_size AS BIGINT) AS data_size,
      |    CAST(data_size // n_channels AS BIGINT) AS n_frames,
      |    (length(hx) = 2 * (44 + data_size)) AS payload_complete,
      |    CAST(list_max(list_transform(range(0, data_size // n_channels),
      |      i -> ${byteAtDuck("45 + i * n_channels")})) AS INTEGER) AS peak_l,
      |    ROUND(sqrt(list_sum(list_transform(range(0, data_size // n_channels),
      |      i -> CAST(${byteAtDuck("45 + i * n_channels")} AS DOUBLE) ** 2))
      |      / (data_size // n_channels)), 6) AS rms_l,
      |    CASE WHEN n_channels = 2 THEN CAST(list_max(list_transform(range(0, data_size // 2),
      |      i -> ${byteAtDuck("46 + i * 2")})) AS INTEGER) END AS peak_r,
      |    CASE WHEN n_channels = 2 THEN ROUND(sqrt(list_sum(list_transform(range(0, data_size // 2),
      |      i -> CAST(${byteAtDuck("46 + i * 2")} AS DOUBLE) ** 2))
      |      / (data_size // 2)), 6) END AS rms_r
      |  FROM parsed
      |)""".stripMargin

  val audioDecode: Q = Q("mm_audio_decode",
    "WITH " + wavStatsOracleCtes + """
      |SELECT doc_id, riff_ok, wave_ok, fmt_pcm_ok, n_channels, sample_rate, bits,
      |  data_size, n_frames, payload_complete,
      |  ROUND(CAST(n_frames AS DOUBLE) * 1000 / sample_rate, 6) AS duration_ms,
      |  peak_l, rms_l, peak_r, rms_r
      |FROM stats ORDER BY doc_id""".stripMargin) { (s, dir) =>
    decodeWav(wavTable(s, dir)).orderBy(col("doc_id"))
  }

  /** MEDIA DRIFT MONITOR — `text_corpus_drift`'s device pointed at
    * the DECODED media stats: cut the ingest into the same four
    * structural slices and report the PSI of each later slice's
    * loudness distributions (per-channel-L RMS in width-16 bands
    * capped at band 15, and peak amplitude likewise) against slice
    * 0 — the "did this crawl's audio get quieter/clippier" audit a
    * multimodal pipeline runs between ingests. Bands are computed
    * from the ROUNDED stats both engines already hash-agree on
    * (`mm_audio_decode`), so the bucketing is engine-portable.
    *
    * Scale shape: the decode is the one codegen map pass the audio
    * family always pays; everything after is the bounded-alphabet
    * groupBy + ≤ a few dozen rows of PSI arithmetic
    * ([[graft.queries.Curation.psiReport]]). */
  /** The media drift-report CTE chain (through `psi`) — shared by
    * the batch monitor, its streaming twin, and the media quarantine
    * gate. */
  private[graft] def mediaDriftOracleCtes: String =
    "WITH " + wavStatsOracleCtes + """,
      |mm AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents),
      |d AS (SELECT doc_id, rms_l, peak_l,
      |        CAST(((doc_id - mn) * 4) // (mx - mn + 1) AS BIGINT) AS slice
      |      FROM stats, mm),
      |b AS (SELECT slice, 'rms' AS feature,
      |        -- explicit FLOOR: DuckDB's // does NOT floor DOUBLE operands
      |        -- (91.68 // 16 = 5.73, and the BIGINT cast then ROUNDS)
      |        CAST(LEAST(CAST(FLOOR(rms_l / 16) AS BIGINT), 15) AS VARCHAR) AS bucket FROM d
      |      UNION ALL SELECT slice, 'peak',
      |        -- FLOOR here too: peak_l is DOUBLE, and a // spelling is
      |        -- round-not-floor (masked so far only because the synthetic
      |        -- corpus's peak byte is a constant -> one bucket either way)
      |        CAST(LEAST(CAST(FLOOR(peak_l / 16) AS BIGINT), 15) AS VARCHAR) FROM d),
      |dom AS (SELECT DISTINCT feature, bucket FROM b),
      |ns AS (SELECT slice, COUNT(*) AS n FROM d GROUP BY 1),
      |bc AS (SELECT feature, COUNT(*) AS nb FROM dom GROUP BY 1),
      |c AS (SELECT slice, feature, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2, 3),
      |grid AS (SELECT s.slice, dom.feature, dom.bucket, ns.n, bc.nb,
      |           COALESCE(c.c, 0) AS c
      |         FROM (SELECT DISTINCT slice FROM d) s
      |         CROSS JOIN dom
      |         JOIN ns ON ns.slice = s.slice
      |         JOIN bc ON bc.feature = dom.feature
      |         LEFT JOIN c ON c.slice = s.slice AND c.feature = dom.feature
      |                    AND c.bucket = dom.bucket),
      |p AS (SELECT slice, feature, bucket,
      |        (CAST(c AS DOUBLE) + 1) / (n + nb) AS p FROM grid),
      |ref AS (SELECT feature, bucket, p AS q FROM p WHERE slice = 0),
      |psi AS (SELECT p.slice, p.feature,
      |          ROUND(SUM((p.p - ref.q) * ln(p.p / ref.q)), 6) AS psi
      |        FROM p JOIN ref ON ref.feature = p.feature AND ref.bucket = p.bucket
      |        WHERE p.slice > 0 GROUP BY 1, 2)""".stripMargin

  /** The media cross-release CTE chain (through `bpsi`/`bns`) — the
    * text [[graft.queries.Curation.baselineDriftOracleCtes]] device
    * over the DECODED loudness stats: baseline = clips of the last
    * release (doc_id < the exact integer midpoint (MIN+MAX)//2,
    * matching [[graft.queries.Curation.releaseMid]] — avg would hang
    * the cut on float summation order at scale), new crawl sliced by
    * its own anchors, union-domain Laplace smoothing, PSI vs the
    * baseline distribution. Explicit FLOOR on every double banding
    * (the `//`-rounds trap). */
  private[graft] def mediaBaselineOracleCtes: String =
    "WITH " + wavStatsOracleCtes + """,
      |bmid AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS mid FROM documents),
      |mbase AS (SELECT doc_id, rms_l, peak_l FROM stats, bmid WHERE doc_id < mid),
      |nmm AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx
      |        FROM documents, bmid WHERE doc_id >= mid),
      |mnd AS (SELECT s.doc_id, s.rms_l, s.peak_l,
      |          CAST(((s.doc_id - mn) * 4) // (mx - mn + 1) AS BIGINT) AS slice
      |        FROM stats s, bmid, nmm WHERE s.doc_id >= mid),
      |bfb AS (SELECT 'rms' AS feature,
      |          CAST(LEAST(CAST(FLOOR(rms_l / 16) AS BIGINT), 15) AS VARCHAR) AS bucket
      |        FROM mbase
      |        UNION ALL SELECT 'peak',
      |          CAST(LEAST(CAST(FLOOR(peak_l / 16) AS BIGINT), 15) AS VARCHAR) FROM mbase),
      |nfb AS (SELECT slice, 'rms' AS feature,
      |          CAST(LEAST(CAST(FLOOR(rms_l / 16) AS BIGINT), 15) AS VARCHAR) AS bucket
      |        FROM mnd
      |        UNION ALL SELECT slice, 'peak',
      |          CAST(LEAST(CAST(FLOOR(peak_l / 16) AS BIGINT), 15) AS VARCHAR) FROM mnd),
      |bdom AS (SELECT DISTINCT feature, bucket FROM
      |           (SELECT feature, bucket FROM bfb
      |            UNION ALL SELECT feature, bucket FROM nfb)),
      |bbc AS (SELECT feature, COUNT(*) AS nb FROM bdom GROUP BY 1),
      |bpop AS (SELECT COUNT(*) AS n FROM mbase),
      |bcnt AS (SELECT feature, bucket, COUNT(*) AS c FROM bfb GROUP BY 1, 2),
      |bq AS (SELECT bdom.feature, bdom.bucket,
      |         (CAST(COALESCE(bcnt.c, 0) AS DOUBLE) + 1) / (bpop.n + bbc.nb) AS q
      |       FROM bdom JOIN bbc ON bbc.feature = bdom.feature
      |       CROSS JOIN bpop
      |       LEFT JOIN bcnt ON bcnt.feature = bdom.feature
      |                     AND bcnt.bucket = bdom.bucket),
      |bns AS (SELECT slice, COUNT(*) AS n FROM mnd GROUP BY 1),
      |nbcnt AS (SELECT slice, feature, bucket, COUNT(*) AS c FROM nfb GROUP BY 1, 2, 3),
      |bnp AS (SELECT s.slice, bdom.feature, bdom.bucket,
      |          (CAST(COALESCE(nbcnt.c, 0) AS DOUBLE) + 1) / (bns.n + bbc.nb) AS p
      |        FROM (SELECT DISTINCT slice FROM mnd) s
      |        CROSS JOIN bdom
      |        JOIN bns ON bns.slice = s.slice
      |        JOIN bbc ON bbc.feature = bdom.feature
      |        LEFT JOIN nbcnt ON nbcnt.slice = s.slice AND nbcnt.feature = bdom.feature
      |                       AND nbcnt.bucket = bdom.bucket),
      |bpsi AS (SELECT bnp.slice, bnp.feature,
      |           ROUND(SUM((bnp.p - bq.q) * ln(bnp.p / bq.q)), 6) AS psi
      |         FROM bnp JOIN bq ON bq.feature = bnp.feature AND bq.bucket = bnp.bucket
      |         GROUP BY 1, 2)""".stripMargin

  val mediaDrift: Q = Q("mm_media_drift",
    mediaDriftOracleCtes + """
      |SELECT psi.slice, psi.feature, ns.n AS n_docs, psi.psi, psi.psi >= 0.2 AS drifted
      |FROM psi JOIN ns ON ns.slice = psi.slice ORDER BY psi.slice, psi.feature""".stripMargin) {
    (s, dir) =>
      val (mn, mx) = graft.queries.Curation.driftAnchors(s, dir)
      // session-shared decode; the bucketer is the same
      // mediaFeaturePairs spelling the streaming twin applies per batch
      graft.queries.Curation.psiReport(s,
        mediaFeaturePairs(
            mediaLoudnessStatsCached(s, dir).withColumn("slice",
              graft.queries.Curation.sliceCol(mn, mx)),
            Seq(col("slice")))
          .groupBy(col("slice"), col("feature"), col("bucket"))
          .agg(count(lit(1)).as("c")),
        nsFeature = "rms")
  }

  /** Longitudinal series world: owns the versioned baseline store
    * the report reads back (Reapable). */
  private final case class MediaSeriesWorld(store: graft.sources.FrameStore,
      report: org.apache.spark.sql.DataFrame) extends graft.Reapable {
    def reapRoots: Seq[String] = Seq(store.root)
  }

  private val mediaSeriesMemo = graft.SessionCaches.memo[MediaSeriesWorld]

  /** LONGITUDINAL DRIFT ACROSS THE MEDIA RELEASE SERIES —
    * `text_drift_series` mirrored onto the decoded-loudness face: a
    * media corpus drifts in loudness/clipping exactly like text
    * drifts in length, and a per-release step can stay under the
    * 0.2 gate while v3-vs-v1 crosses it, so the monitor needs the
    * full |versions|² triangle, not just the last pair. Three
    * accreting releases (exact integer thirds of the doc_id span —
    * the structural-cut convention) register + promote their
    * loudness bucket counts as `drift_baseline` v1/v2/v3, and the
    * report is the PSI of every (newer, older) version pair per
    * feature over the same union-domain Laplace smoothing the
    * cross-release gate uses, read back from the PERSISTED versioned
    * artifacts (the longitudinal chart is a fact of the store).
    *
    * Scale shape: ONE decode pass for the whole series (the three
    * releases are doc_id-prefix cuts of the same corpus, so the
    * per-clip stats persist once and each release's counts are a
    * filter + bounded groupBy over them); everything downstream is
    * arithmetic over ≤ |versions|² × bucket-domain rows. */
  val mediaDriftSeries: Q = Q("mm_drift_series",
    "WITH " + wavStatsOracleCtes + """,
      |mm0 AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents),
      |rel AS (SELECT CAST(r.range + 1 AS BIGINT) AS version,
      |          mn + ((mx - mn + 1) * (r.range + 1)) // 3 AS cut
      |        FROM range(3) r, mm0),
      |fb AS (SELECT doc_id, 'rms' AS feature,
      |         CAST(LEAST(CAST(FLOOR(rms_l / 16) AS BIGINT), 15) AS VARCHAR) AS bucket
      |       FROM stats
      |       UNION ALL SELECT doc_id, 'peak',
      |         CAST(LEAST(CAST(FLOOR(peak_l / 16) AS BIGINT), 15) AS VARCHAR) FROM stats),
      |vc AS (SELECT rel.version, fb.feature, fb.bucket, COUNT(*) AS c
      |       FROM rel JOIN fb ON fb.doc_id < rel.cut
      |       GROUP BY 1, 2, 3),
      |pr AS (SELECT a.version AS v_new, b.version AS v_base
      |       FROM (SELECT DISTINCT version FROM vc) a
      |       JOIN (SELECT DISTINCT version FROM vc) b ON a.version > b.version),
      |dm AS (SELECT DISTINCT pr.v_new, pr.v_base, vc.feature, vc.bucket
      |       FROM pr JOIN vc ON vc.version = pr.v_new OR vc.version = pr.v_base),
      |nbp AS (SELECT v_new, v_base, feature, COUNT(*) AS nb
      |        FROM dm GROUP BY 1, 2, 3),
      |ns AS (SELECT version, SUM(c) AS n FROM vc WHERE feature = 'rms' GROUP BY 1),
      |grid AS (SELECT dm.v_new, dm.v_base, dm.feature, dm.bucket, nbp.nb,
      |           COALESCE(cn.c, 0) AS cn, COALESCE(cb.c, 0) AS cb,
      |           nn.n AS n_new, nbs.n AS n_base
      |         FROM dm
      |         JOIN nbp ON nbp.v_new = dm.v_new AND nbp.v_base = dm.v_base
      |                 AND nbp.feature = dm.feature
      |         LEFT JOIN vc cn ON cn.version = dm.v_new AND cn.feature = dm.feature
      |                        AND cn.bucket = dm.bucket
      |         LEFT JOIN vc cb ON cb.version = dm.v_base AND cb.feature = dm.feature
      |                        AND cb.bucket = dm.bucket
      |         JOIN ns nn ON nn.version = dm.v_new
      |         JOIN ns nbs ON nbs.version = dm.v_base)
      |SELECT v_new, v_base, feature,
      |  CAST(n_new AS BIGINT) AS n_new, CAST(n_base AS BIGINT) AS n_base,
      |  ROUND(SUM(((CAST(cn AS DOUBLE) + 1) / (n_new + nb)
      |             - (CAST(cb AS DOUBLE) + 1) / (n_base + nb))
      |        * ln(((CAST(cn AS DOUBLE) + 1) / (n_new + nb))
      |             / ((CAST(cb AS DOUBLE) + 1) / (n_base + nb)))), 6) AS psi,
      |  ROUND(SUM(((CAST(cn AS DOUBLE) + 1) / (n_new + nb)
      |             - (CAST(cb AS DOUBLE) + 1) / (n_base + nb))
      |        * ln(((CAST(cn AS DOUBLE) + 1) / (n_new + nb))
      |             / ((CAST(cb AS DOUBLE) + 1) / (n_base + nb)))), 6) >= 0.2 AS drifted
      |FROM grid GROUP BY 1, 2, 3, n_new, n_base
      |ORDER BY v_new, v_base, feature""".stripMargin) { (s, dir) =>
    mediaSeriesMemo(s, dir) {
      val docs = Tables.documents(s, dir)
      val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (mn, mx) = (r.getLong(0), r.getLong(1))
      val store = new graft.sources.FrameStore(
        graft.sources.Scratch.dir("graft-mmdriftseries-").toString + "/store")
      // rides the session-shared decode (no extra corpus pass)
      val stats = mediaLoudnessStatsCached(s, dir)
      val versions = (1 to 3).map { v =>
        val cut = mn + (mx - mn + 1) * v / 3
        store.publish(s, graft.queries.Curation.DriftBaselineName,
          mediaFeaturePairs(stats.filter(col("doc_id") < cut), Seq.empty)
            .groupBy(col("feature"), col("bucket")).agg(count(lit(1)).as("c")))
      }
      val counts = versions.map { v =>
        store.load(s, graft.queries.Curation.DriftBaselineName, v)
          .withColumn("version", lit(v.toLong))
      }.reduce(_ unionByName _)
      MediaSeriesWorld(store,
        cutLineage(graft.queries.Curation.psiSeries(counts, nsFeature = "rms")))
    }.report.orderBy(col("v_new"), col("v_base"), col("feature"))
  }

  /** The decoded per-clip loudness stats `(doc_id, rms_l, peak_l)` —
    * one decode pass, repartitioned first (single-split sf parquet
    * would serialize the heavy per-payload RMS map into one task). */
  private[graft] def mediaLoudnessStats(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    decodeWav(wavFrames(docs
        .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)))
      .select(col("doc_id"), col("rms_l"), col("peak_l"))

  /** The FULL-CORPUS loudness stats, memoized + persisted per
    * (application, sf dir): the within-scan monitor, the release
    * series, and the cross-release baseline registration all consume
    * per-clip loudness — without the memo each pays its own corpus
    * decode (the "new worlds ride existing passes" rule). Three
    * columns per clip, the persist footprint class of tokenCounts. */
  private val loudnessMemo = graft.SessionCaches.memo[org.apache.spark.sql.DataFrame]

  private[graft] def mediaLoudnessStatsCached(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    loudnessMemo(s, dir) {
      val df = mediaLoudnessStats(Tables.documents(s, dir)).persist()
      df.count()
      df
    }

  /** Per-clip `(…carry…, feature, bucket)` loudness rows — THE one
    * spelling of the media drift bucketer (16-wide bands capped at
    * 15), shared by the within-scan monitor and the cross-release
    * baseline face. Both features ride ONE decode via a 2-entry map
    * explode, never a union that re-decodes per branch. */
  private[graft] def mediaFeaturePairs(stats: org.apache.spark.sql.DataFrame,
      carry: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.DataFrame =
    stats.select(carry :+ explode(map(
        lit("rms"), least(floor(col("rms_l") / 16).cast("long"), lit(15L)).cast("string"),
        lit("peak"), least(floor(col("peak_l") / 16).cast("long"), lit(15L)).cast("string"))): _*)
      .withColumnRenamed("key", "feature").withColumnRenamed("value", "bucket")

  /** Per-feature loudness bucket counts of a baseline clip population
    * (no slice — one reference distribution), the frame the media
    * cross-release monitor REGISTERS as its `drift_baseline`. */
  private[graft] def mediaBaselineCounts(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    mediaBaselineCountsOfStats(mediaLoudnessStats(docs))

  /** [[mediaBaselineCounts]] over an already-decoded stats frame —
    * so callers holding the session-shared decode don't re-pay it. */
  private[graft] def mediaBaselineCountsOfStats(stats: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    mediaFeaturePairs(stats, Seq.empty)
      .groupBy(col("feature"), col("bucket")).agg(count(lit(1)).as("c"))

  /** The WAV decoder proper: `(doc_id, payload)` → chunk magics,
    * header fields, byte accounting, per-channel peak/RMS, duration.
    * Derives everything from the payload column alone (via its hex
    * image — see [[byteAtSpark]]). */
  def decodeWav(media: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    media
      .withColumn("hx", hex(col("payload")))
      .withColumn("riff_ok", expr("substring(hx, 1, 8) = '52494646'"))
      .withColumn("wave_ok", expr("substring(hx, 17, 8) = '57415645'"))
      .withColumn("audio_format", expr(s"${byteAtSpark("21")} + 256 * ${byteAtSpark("22")}"))
      .withColumn("n_channels", expr(s"${byteAtSpark("23")} + 256 * ${byteAtSpark("24")}"))
      .withColumn("sample_rate", expr(
        s"${byteAtSpark("25")} + 256 * ${byteAtSpark("26")} + 65536 * ${byteAtSpark("27")}" +
          s" + 16777216 * ${byteAtSpark("28")}"))
      .withColumn("bits", expr(s"${byteAtSpark("35")} + 256 * ${byteAtSpark("36")}"))
      .withColumn("data_size", expr(
        s"${byteAtSpark("41")} + 256 * ${byteAtSpark("42")} + 65536 * ${byteAtSpark("43")}" +
          s" + 16777216 * ${byteAtSpark("44")}").cast("long"))
      .withColumn("n_frames", (col("data_size") / col("n_channels")).cast("long"))
      .select(col("doc_id"), col("riff_ok"), col("wave_ok"),
        (col("audio_format") === 1).as("fmt_pcm_ok"),
        col("n_channels"), col("sample_rate"), col("bits"),
        col("data_size"), col("n_frames"),
        (length(col("hx")) === lit(2) * (lit(44) + col("data_size"))).as("payload_complete"),
        round(col("n_frames").cast("double") * 1000 / col("sample_rate"), 6)
          .as("duration_ms"),
        expr(s"""array_max(transform(sequence(0, CAST(n_frames AS INT) - 1),
          |  i -> ${byteAtSpark("45 + i * n_channels")}))""".stripMargin)
          .cast("int").as("peak_l"),
        expr(s"""ROUND(sqrt(aggregate(sequence(0, CAST(n_frames AS INT) - 1),
          |  CAST(0 AS DOUBLE),
          |  (a, i) -> a + CAST(${byteAtSpark("45 + i * n_channels")} AS DOUBLE)
          |    * CAST(${byteAtSpark("45 + i * n_channels")} AS DOUBLE)) / n_frames), 6)"""
          .stripMargin).as("rms_l"),
        when(col("n_channels") === 2, expr(
          s"""array_max(transform(sequence(0, CAST(data_size div 2 AS INT) - 1),
             |  i -> ${byteAtSpark("46 + i * 2")}))""".stripMargin).cast("int"))
          .as("peak_r"),
        when(col("n_channels") === 2, expr(
          s"""ROUND(sqrt(aggregate(sequence(0, CAST(data_size div 2 AS INT) - 1),
             |  CAST(0 AS DOUBLE),
             |  (a, i) -> a + CAST(${byteAtSpark("46 + i * 2")} AS DOUBLE)
             |    * CAST(${byteAtSpark("46 + i * 2")} AS DOUBLE)) / (data_size div 2)), 6)"""
            .stripMargin)).as("rms_r"))


  // ------------------------------------------------------------- image dedup
  /** Per-pixel luminance (r+g+b — integer-exact, no float weights)
    * of sampled grid pixel `p` over the pixel string `px`. */
  private def lumSql(p: String): String =
    s"(ascii(substring(px, 3*($p) + 1, 1)) + ascii(substring(px, 3*($p) + 2, 1))" +
      s" + ascii(substring(px, 3*($p) + 3, 1)))"

  // dHash grid sampling for bit b (0..47): row y = b/6 of 8, the
  // comparison's left column x = b%6 of 7 — nearest-neighbor indices
  // into the w×h pixel grid, integer-exact on any image size
  private val gridP0 = "(((b div 6) * h) div 8) * w + (((b % 6) * w) div 7)"
  private val gridP1 = "(((b div 6) * h) div 8) * w + ((((b % 6) + 1) * w) div 7)"

  // the same grid/luminance program in DuckDB spelling, kept in
  // lockstep with lumSql/gridP0/gridP1 above
  private def duckLum(p: String): String =
    s"(ord(substr(px, 3*($p) + 1, 1)) + ord(substr(px, 3*($p) + 2, 1))" +
      s" + ord(substr(px, 3*($p) + 3, 1)))"
  private val duckP0 = "(((b // 6) * h) // 8) * w + (((b % 6) * w) // 7)"
  private val duckP1 = "(((b // 6) * h) // 8) * w + ((((b % 6) + 1) * w) // 7)"


  /** The banded-candidate CTE chain of the image-dedup oracle (no
    * WITH prefix — the clusters oracle reuses it under RECURSIVE;
    * the forget certificate re-instantiates it with a reduced-corpus
    * `where` — a takedown's "never ingested" rebuild). */
  private def imageOracleCtes: String = imageOracleCtes("1 = 1")
  private def imageOracleCtes(where: String): String =
    s"""geom AS (
      |  SELECT doc_id, n_chars, n_chars % 8 + 4 AS w, n_chars % 6 + 3 AS h, text
      |  FROM documents WHERE n_chars > 0 AND ($where)
      |), px0 AS (
      |  SELECT doc_id, w, h,
      |    substr(repeat(text, (3*w*h) // n_chars + 1), 1, 3*w*h) AS px
      |  FROM geom
      |), imgs AS (
      |  SELECT doc_id, w, h, px FROM px0
      |  UNION ALL
      |  SELECT doc_id + 1000000, w, h,
      |    chr((ord(substr(px, 1, 1)) + 7) % 128) || substr(px, 2) AS px
      |  FROM px0 WHERE doc_id % 10 = 0
      |), hs AS (
      |  SELECT doc_id,
      |    list_sum(list_transform(range(0, 48), b ->
      |      CASE WHEN ${duckLum(duckP1)} > ${duckLum(duckP0)}
      |           THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS dh
      |  FROM imgs
      |), bands AS (
      |  SELECT doc_id, dh, i AS band, (dh >> (12*i)) & 4095 AS bv
      |  FROM hs, range(0, 4) r(i)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.dh AS dh1, b.dh AS dh2
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
      |)""".stripMargin

  /** Scalar-subquery forms of the image pipeline counts for the
    * forget certificate: `(WITH … SELECT c)` derived tables the
    * oracle instantiates twice (full and reduced corpus) without CTE
    * name collisions (the mm_data_card WITH-inside-derived-table
    * device). */
  private[graft] def imagePostingsCountSql(where: String): String =
    "(WITH " + imageOracleCtes(where) + "\nSELECT COUNT(*) AS c FROM bands)"
  private[graft] def imagePairsCountSql(where: String): String =
    "(WITH " + imageOracleCtes(where) +
      "\nSELECT COUNT(*) AS c FROM cand WHERE bit_count(xor(dh1, dh2)) <= 3)"

  /** Perceptual image DEDUPLICATION — the first operation every
    * multimodal corpus pipeline (LAION-style) runs: a difference
    * hash over the DECODED pixels, then banded Hamming candidate
    * generation, then the exact Hamming recheck — the image analog
    * of `text_dedup_simhash`.
    *
    * The hash is a 48-bit dHash: luminance (r+g+b, integer-exact) is
    * sampled on a fixed 7×8 nearest-neighbor grid and each bit
    * records whether the right neighbor outshines the left — robust
    * to scale/brightness shifts, and 48 bits keep the value in a
    * non-negative BIGINT on both engines (no sign-wrap gymnastics).
    * Candidates: 4 bands × 12 bits — by pigeonhole two hashes within
    * Hamming ≤ 3 agree on ≥ 1 full band, so candidate generation is
    * an EQUI-JOIN on (band, value), never |corpus|² (the
    * `text_dedup_simhash` banding argument verbatim); the exact
    * `bit_count(xor)` recheck runs only on collisions. Near-identical
    * images are PLANTED (the PII/fuzzy-pairs device): every 10th doc
    * gets a twin with one perturbed pixel byte, and the oracle
    * replays plant, decode, hash, banding, and recheck end-to-end.
    *
    * Scale shape: decode + hash are one codegen map pass over the
    * payload column; the band join shuffles 4 fixed-width rows per
    * image on an 8-byte-ish key (uniform under md5-like pixel
    * diversity — a degenerate corpus of near-constant images skews a
    * band bucket, the standard LSH caveat, and the recheck keeps the
    * output exact regardless); the recheck is candidate-bounded. */
  val imageDedup: Q = Q("mm_image_dedup",
    "WITH " + imageOracleCtes + s"""
      |SELECT d1, d2, CAST(bit_count(xor(dh1, dh2)) AS INTEGER) AS hamming
      |FROM cand WHERE bit_count(xor(dh1, dh2)) <= 3
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    imagePairs(s, dir).orderBy(col("d1"), col("d2"))
  }

  /** dHash-48 per image (incl. the planted perturbed twins) over any
    * documents frame — shared by the batch dedup and the streaming
    * twin. Cut: the hash must compute ONCE per image —
    * the 48-sample HOF expression would otherwise be inlined through
    * the band explode and the self-join and re-evaluated per
    * CANDIDATE row (measured 111 s at sf0.1; 8-byte rows checkpoint
    * instead). */
  def imageHashes(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val parsed = parsePpm(ppmFrames(docs))
      .select(col("doc_id"), col("w"), col("h"), col("px"))
    // planted near-identical twin: one pixel byte perturbed (stays
    // ASCII so string `ascii` arithmetic agrees across engines)
    val twins = parsed.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + TwinOffset).as("doc_id"), col("w"), col("h"),
        expr("concat(chr((ascii(substring(px, 1, 1)) + 7) % 128), substring(px, 2))")
          .as("px"))
    cutLineage(parsed.unionByName(twins)
      .select(col("doc_id"), expr(dhashSparkExpr).as("dh")))
  }

  /** The 4×12-bit band explode over `(doc_id, dh)`. */
  def imageBands(hashed: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    hashed.select(col("doc_id"), col("dh"),
      posexplode(expr(
        "transform(sequence(0, 3), i -> shiftright(dh, 12*i) & CAST(4095 AS BIGINT))"))
        .as(Seq("band", "bv")))

  /** Banded candidate pairs over `(doc_id, dh, band, bv)` rows: the
    * equi-join on (band, value) with the d1 < d2 tie-break, deduped —
    * shared by the image dedup, the cluster build, and the audio
    * dedup so the candidate rule has exactly one definition. */
  def bandCandidates(bands: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.dh").as("dh1"), col("b.dh").as("dh2"))
      .distinct()

  /** Corpus near-dup pair lists (image dHash / audio fingerprint),
    * memoized + persisted per (application, sf dir) — the dedup
    * query, the cluster build, and any downstream keeper filter all
    * consume the same pair list, so the fingerprint pass and the
    * band join run once per session (the nearDupPairs05 discipline). */
  private val pairMemo = graft.SessionCaches.memo[org.apache.spark.sql.DataFrame]

  private def memoPairs(s: SparkSession, dir: String, kind: String,
                        bands: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    pairMemo(s, dir, kind) {
      val df = hammingPairs(bandCandidates(bands)).persist()
      df.count()
      df
    }

  /** Corpus fingerprint frames, memoized per (application, sf dir,
    * modality): the hash pass (decode + staged HOF evaluation) is
    * each modality's most expensive column op — the pair build and
    * the data card share ONE pass. The hash functions already cut
    * their lineage, so the memo hands out the materialized rows. */
  private val hashMemo = graft.SessionCaches.memo[org.apache.spark.sql.DataFrame]

  private def memoHashes(s: SparkSession, dir: String, kind: String,
                         mk: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    hashMemo(s, dir, kind)(mk)

  def imageHashesOf(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    memoHashes(s, dir, "image", imageHashes(Tables.documents(s, dir)))

  def audioHashesOf(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    memoHashes(s, dir, "audio", audioHashes(Tables.documents(s, dir)))

  def videoHashesOf(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    memoHashes(s, dir, "video", videoHashes(Tables.documents(s, dir)))

  /** Build all three modality pair lists CONCURRENTLY (guide §2.6):
    * the decode+hash+band-join builds are independent (own memo keys,
    * own decode paths), each a chain of wide jobs with driver-side
    * gaps the others back-fill. Phases record each face's own wall —
    * overlapped, so their sum exceeds the entry wall by design. */
  private[graft] def warmMediaPairs(s: SparkSession, dir: String): Unit =
    graft.streaming.StreamPools.runAll(Seq(
      () => { graft.WarmPhases.phase("image") { imagePairs(s, dir) }; () },
      () => { graft.WarmPhases.phase("audio") { audioPairs(s, dir) }; () },
      () => { graft.WarmPhases.phase("video") { videoPairs(s, dir) }; () }))

  def imagePairs(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    memoPairs(s, dir, "image", imageBands(imageHashesOf(s, dir)))

  def audioPairs(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    memoPairs(s, dir, "audio", audioBands(audioHashesOf(s, dir)))

  /** Exact Hamming recheck over candidate pairs `(d1, d2, dh1, dh2)`. */
  def hammingPairs(cand: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    cand.withColumn("hamming",
        bit_count(col("dh1").bitwiseXOR(col("dh2"))).cast("int"))
      .filter(col("hamming") <= 3)
      .select(col("d1"), col("d2"), col("hamming"))

  /** Image dedup DECIDED: connected components over the near-dup
    * pair graph, one min-id keeper per cluster — the retain/drop
    * verdict a LAION-style pipeline derives from the pair list
    * (detect → decide, completing the image family the way
    * `text_dedup_clusters` completes text near-dup). Components come
    * from the shared HASH-TO-MIN
    * [[graft.queries.DedupGraph.connectedComponents]] (star handoff,
    * label-frame-only, O(log d) rounds — plain propagation was
    * O(diameter) on exactly this frontier-shaped graph, 25 vs 9
    * rounds measured); the oracle closes
    * the reachability transitively with a recursive CTE over the
    * replayed pair list. */
  val imageClusters: Q = Q("mm_image_clusters",
    "WITH RECURSIVE " + imageOracleCtes + s"""
      |, pairs AS (SELECT d1, d2 FROM cand WHERE bit_count(xor(dh1, dh2)) <= 3),
      |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
      |reach AS (
      |  SELECT src AS v, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst AS v, r.lbl FROM reach r JOIN edges e ON e.src = r.v),
      |comp AS (SELECT v AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY 1)
      |SELECT c.doc_id, c.cluster_id, n.sz AS cluster_size,
      |       (c.doc_id = c.cluster_id) AS is_keeper
      |FROM comp c JOIN (SELECT cluster_id, COUNT(*) AS sz FROM comp GROUP BY 1) n USING (cluster_id)
      |ORDER BY c.doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val cc = graft.queries.DedupGraph.connectedComponents(
      imagePairs(s, dir).select(col("d1"), col("d2")))
    val sz = Window.partitionBy(col("cluster_id"))
    cc.select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(sz))
      .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- audio dedup
  // frame-k energy in the DuckDB oracle: sum of sample bytes in
  // [k*n/49, (k+1)*n/49) over the decoded data string (empty frames
  // sum to 0); the Spark side computes the same sums over a staged
  // sample-value array (see audioHashes)
  private def frameEDuck(k: String): String =
    s"COALESCE(list_sum(list_transform(range((($k)*n)//49, ((($k)+1)*n)//49), " +
      s"i -> ord(substr(ds, i + 1, 1)))), 0)"

  /** The banded-candidate CTE chain of the audio-dedup oracle (no
    * WITH prefix); `where` restricts the document set (the joint
    * forget certificate's reduced-corpus rebuild). */
  private def audioOracleCtes: String = audioOracleCtes("1 = 1")
  private def audioOracleCtes(where: String): String =
    s"""g AS (
      |  SELECT doc_id, n_chars, CAST(1 + doc_id % 2 AS INTEGER) AS ch,
      |         n_chars AS frames, text
      |  FROM documents WHERE n_chars > 0 AND ($where)
      |), e AS (
      |  SELECT doc_id,
      |    '52494646' || ${leHexDuck("36 + frames * ch", 4)} || '57415645'
      |    || '666D7420' || ${leHexDuck("16", 4)} || ${leHexDuck("1", 2)} || ${leHexDuck("ch", 2)}
      |    || ${leHexDuck("8000", 4)} || ${leHexDuck("8000 * ch", 4)}
      |    || ${leHexDuck("ch", 2)} || ${leHexDuck("8", 2)}
      |    || '64617461' || ${leHexDuck("frames * ch", 4)}
      |    || hex(encode(substr(repeat(text, (frames * ch) // n_chars + 1), 1, frames * ch))) AS hx
      |  FROM g
      |), dsed AS (
      |  SELECT doc_id,
      |    ${byteAtDuck("41")} + 256 * ${byteAtDuck("42")} + 65536 * ${byteAtDuck("43")}
      |      + 16777216 * ${byteAtDuck("44")} AS n,
      |    decode(from_hex(substr(hx, 89, 2 * (length(hx) // 2 - 44)))) AS ds
      |  FROM e
      |), clips AS (
      |  SELECT doc_id, n, ds FROM dsed
      |  UNION ALL
      |  SELECT doc_id + 1000000, n,
      |    chr((ord(substr(ds, 1, 1)) + 7) % 128) || substr(ds, 2) AS ds
      |  FROM dsed WHERE doc_id % 10 = 0
      |), hs AS (
      |  SELECT doc_id,
      |    list_sum(list_transform(range(0, 48), k ->
      |      CASE WHEN ${frameEDuck("k + 1")} > ${frameEDuck("k")}
      |           THEN (1::BIGINT << k) ELSE 0::BIGINT END)) AS ah
      |  FROM clips
      |), bands AS (
      |  SELECT doc_id, ah, i AS band, (ah >> (12*i)) & 4095 AS bv
      |  FROM hs, range(0, 4) r(i)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.ah AS ah1, b.ah AS ah2
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
      |)""".stripMargin

  /** Acoustic-fingerprint hash per clip (incl. the planted perturbed
    * twins) over any documents frame: the DECODED sample stream is
    * split into 49 equal frames, and bit k records whether frame
    * k+1's energy exceeds frame k's — the sign-of-derivative
    * signature the published audio fingerprints (Haitsma-Kalker
    * style) reduce to, in integer-exact arithmetic. Cut for the same
    * reason as [[imageHashes]]. */
  def audioHashes(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = wavFrames(docs)
      .withColumn("hx", hex(col("payload")))
      .withColumn("n", expr(
        s"${byteAtSpark("41")} + 256 * ${byteAtSpark("42")} + 65536 * ${byteAtSpark("43")}" +
          s" + 16777216 * ${byteAtSpark("44")}"))
      .withColumn("ds", expr("CAST(unhex(substring(hx, 89, 2 * n)) AS STRING)"))
      .select(col("doc_id"), col("n"), col("ds"))
    val twins = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + TwinOffset).as("doc_id"), col("n"),
        expr("concat(chr((ascii(substring(ds, 1, 1)) + 7) % 128), substring(ds, 2))")
          .as("ds"))
    // STAGED evaluation, one lineage cut per stage: HOFs are
    // interpreted (no codegen CSE), so an expression referenced k
    // times is EVALUATED k times — and positional substring over a
    // string is O(position), so the naive per-bit frame sums were
    // O(n²) per clip (measured 8.8 s at sf0.1). Staging makes each
    // stage read the previous stage's ATTRIBUTE (free): bytes once
    // (split, O(n)), the 49 frame energies once (slices over the
    // value array), then the 48 comparison bits over the energy
    // array. 1.6 s at sf0.1.
    val vals = cutLineage(base.unionByName(twins)
      .withColumn("vals", expr("transform(split(ds, ''), c -> CAST(ascii(c) AS BIGINT))"))
      .select(col("doc_id"), col("n"), col("vals")))
    val es = cutLineage(vals.select(col("doc_id"), expr(
      s"""transform(sequence(0, 48), k ->
         |  IF(((k * n) div 49) >= (((k + 1) * n) div 49), CAST(0 AS BIGINT),
         |    aggregate(slice(vals, ((k * n) div 49) + 1,
         |        (((k + 1) * n) div 49) - ((k * n) div 49)),
         |      CAST(0 AS BIGINT), (a, x) -> a + x)))""".stripMargin).as("es")))
    cutLineage(es.select(col("doc_id"), expr(
      """aggregate(sequence(0, 47), CAST(0 AS BIGINT),
        |  (acc, k) -> acc + IF(element_at(es, k + 2) > element_at(es, k + 1),
        |    shiftleft(CAST(1 AS BIGINT), k), CAST(0 AS BIGINT)))""".stripMargin)
      .as("ah")))
  }

  /** Acoustic near-duplicate detection — the audio face of
    * [[imageDedup]]: band the 48-bit fingerprint 4×12 (pigeonhole
    * for Hamming ≤ 3), equi-join candidates, exact recheck. Same
    * scale shape and planted-twin certification as the image family;
    * together with [[audioDecode]] this makes the second modality
    * detect AND decide, not just parse. */
  val audioDedup: Q = Q("mm_audio_dedup",
    "WITH " + audioOracleCtes + s"""
      |SELECT d1, d2, CAST(bit_count(xor(ah1, ah2)) AS INTEGER) AS hamming
      |FROM cand WHERE bit_count(xor(ah1, ah2)) <= 3
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    audioPairs(s, dir).orderBy(col("d1"), col("d2"))
  }

  /** The 4×12-bit band explode over `(doc_id, ah)` — [[imageBands]]
    * renamed through the shared column contract. */
  def audioBands(hashed: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    imageBands(hashed.select(col("doc_id"), col("ah").as("dh")))

  /** Audio dedup DECIDED — [[imageClusters]] for the acoustic
    * fingerprint family: connected components over the banded pair
    * graph, one min-id keeper per cluster, recursive-CTE oracle.
    * With [[audioDecode]] / [[audioDedup]] this makes the second
    * modality parse, detect, AND decide, symmetrically with the
    * image family. */
  val audioClusters: Q = Q("mm_audio_clusters",
    "WITH RECURSIVE " + audioOracleCtes + s"""
      |, pairs AS (SELECT d1, d2 FROM cand WHERE bit_count(xor(ah1, ah2)) <= 3),
      |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
      |reach AS (
      |  SELECT src AS v, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst AS v, r.lbl FROM reach r JOIN edges e ON e.src = r.v),
      |comp AS (SELECT v AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY 1)
      |SELECT c.doc_id, c.cluster_id, n.sz AS cluster_size,
      |       (c.doc_id = c.cluster_id) AS is_keeper
      |FROM comp c JOIN (SELECT cluster_id, COUNT(*) AS sz FROM comp GROUP BY 1) n USING (cluster_id)
      |ORDER BY c.doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val cc = graft.queries.DedupGraph.connectedComponents(
      audioPairs(s, dir).select(col("d1"), col("d2")))
    val sz = Window.partitionBy(col("cluster_id"))
    cc.select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(sz))
      .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  // ----------------------------------------------------- cross-modal dedup
  /** CROSS-MODAL joint deduplication — the decision a LAION-style
    * pipeline actually makes: a record is a duplicate if ANY of its
    * modalities matches (image dHash, audio fingerprint, video
    * temporal signature, or caption text at J ≥ 0.5 — exact text dups
    * included at J = 1), so the cluster graph is the UNION of the
    * four per-modality pair lists, components by the shared
    * hash-to-min CC, one min-id keeper per joint cluster. Catches
    * exactly the records single-modality dedup misses: same image
    * re-captioned, same caption re-rendered.
    *
    * Scale shape: all four pair lists are the memoized banded/
    * prefix-filtered artifacts (no new corpus pass, no all-pairs
    * anywhere); the CC runs on the union edge list in O(log d)
    * rounds and THROWS at its bound. The oracle replays all four
    * pipelines as colliding-name-proof derived tables (the
    * mm_data_card device) and closes reachability transitively. */
  val jointDedup: Q = Q("mm_joint_dedup",
    "WITH RECURSIVE pairs AS (\n" +
      "SELECT d1, d2 FROM (WITH " + imageOracleCtes +
        "\nSELECT d1, d2 FROM cand WHERE bit_count(xor(dh1, dh2)) <= 3) ti\n" +
      "UNION\nSELECT d1, d2 FROM (WITH " + audioOracleCtes +
        "\nSELECT d1, d2 FROM cand WHERE bit_count(xor(ah1, ah2)) <= 3) ta\n" +
      "UNION\nSELECT d1, d2 FROM (WITH " + videoOracleCtes +
        "\nSELECT d1, d2 FROM cand WHERE bit_count(xor(dh1, dh2)) <= 3) tv\n" +
      "UNION\nSELECT d1, d2 FROM (WITH " + graft.queries.TextOps.nearPairOracleCtes +
        "\nSELECT d1, d2 FROM np) tt\n" +
      ")," + """
      |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
      |reach AS (
      |  SELECT src AS v, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst AS v, r.lbl FROM reach r JOIN edges e ON e.src = r.v),
      |comp AS (SELECT v AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY 1)
      |SELECT c.doc_id, c.cluster_id, n.sz AS cluster_size,
      |       (c.doc_id = c.cluster_id) AS is_keeper
      |FROM comp c JOIN (SELECT cluster_id, COUNT(*) AS sz FROM comp GROUP BY 1) n USING (cluster_id)
      |ORDER BY c.doc_id""".stripMargin) { (s, dir) =>
    jointClustersOf(jointPairsUnion(s, dir)).orderBy(col("doc_id"))
  }

  /** The ANY-modality duplicate edge list: union of the four memoized
    * pair lists — shared by [[jointDedup]] and the joint forget
    * world. */
  private def jointPairsUnion(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    imagePairs(s, dir).select(col("d1"), col("d2"))
      .unionByName(audioPairs(s, dir).select(col("d1"), col("d2")))
      .unionByName(videoPairs(s, dir).select(col("d1"), col("d2")))
      .unionByName(graft.queries.TextOps.nearDupPairs05(s, dir)
        .select(col("d1"), col("d2")))
      .distinct()

  /** Hash-to-min CC over an edge list → the joint cluster decision
    * frame `(doc_id, cluster_id, cluster_size, is_keeper)`. */
  private def jointClustersOf(pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cc = graft.queries.DedupGraph.connectedComponents(pairs)
    val sz = Window.partitionBy(col("cluster_id"))
    cc.select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(sz))
      .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
  }

  /** One joint-dedup forget world per (application, sf dir): the
    * promoted joint cluster artifact, a withdrawal (docs with
    * doc_id % 20 = 8 — the media-forget takedown family; none are
    * planted-twin parents, so the twin set is untouched), and the
    * post-forget recompute through the store lifecycle. Unlike the
    * pack/emission forgets there is NO shard locality to preserve:
    * cluster labels are global min-ids and a withdrawal can split any
    * cluster the doc BRIDGED or promote a new keeper wherever it led
    * one — the local step is the EDGE prune (pair predicates are
    * pairwise, so pruning the forgotten doc's edges from the memoized
    * lists IS the reduced-corpus edge list), and the honest global
    * step is the CC recompute over pruned edges: O(|edges| log d),
    * edges ≪ corpus at 100 TB. */
  private final case class JointForgetWorld(store: graft.sources.FrameStore,
      after: org.apache.spark.sql.DataFrame) extends graft.Reapable {
    def reapRoots: Seq[String] = Seq(store.root)
  }

  private val jointForgetMemo = graft.SessionCaches.memo[JointForgetWorld]

  private def jointForgetWorld(s: SparkSession, dir: String): JointForgetWorld =
    jointForgetMemo(s, dir) {
      val pairs = jointPairsUnion(s, dir)
      val store = new graft.sources.FrameStore(
        graft.sources.Scratch.dir("graft-forget-joint-").toString)
      // twin ids are parent+TwinOffset with TwinOffset ≡ 0 (mod
      // TakedownMod) — asserted at object construction beside the
      // constants — so the residue filter also withdraws a forgotten
      // parent's twin: vacuously here (no takedown doc is a twin
      // parent, also asserted), structurally in general
      val pruned = pairs.filter(
        col("d1") % TakedownMod =!= TakedownResidue &&
          col("d2") % TakedownMod =!= TakedownResidue)
      // the full and reduced CC recomputes are INDEPENDENT iterative
      // loops over different edge lists — overlap them (guide §2.6):
      // each loop's jobs back-fill the other's driver-side gaps; the
      // store lifecycle below keeps its exact sequential order
      val slots = new java.util.concurrent.atomic.AtomicReferenceArray[
        org.apache.spark.sql.DataFrame](2)
      graft.streaming.StreamPools.runAll(Seq(
        () => slots.set(0, cutLineage(jointClustersOf(pairs))),
        () => slots.set(1, cutLineage(jointClustersOf(pruned)))))
      val full = slots.get(0)
      val after = slots.get(1)
      store.publish(s, "joint_clusters", full)
      store.rewrite(s, "joint_clusters")(_ => after)
      store.gc("joint_clusters", keep = 0)
      JointForgetWorld(store, after)
    }

  /** Bench warm hook: build the joint forget world once, attributed. */
  private[graft] def warmJointForget(s: SparkSession, dir: String): Unit = {
    jointForgetWorld(s, dir); ()
  }

  /** FORGET THROUGH THE JOINT DECISION — the takedown contract on
    * [[jointDedup]]'s output: withdrawing a doc must re-derive the
    * ANY-modality cluster decision as if the doc was never ingested —
    * a forgotten KEEPER's cluster promotes a new min-id keeper (never
    * resurrects the dup), a forgotten BRIDGE splits its cluster, and
    * the forgotten doc appears in no cluster. The promoted post-forget
    * artifact is hash-compared row-by-row against the ORACLE's
    * rebuild-from-scratch on the reduced corpus (DuckDB replays all
    * four fingerprint pipelines + transitive reachability over
    * `documents WHERE doc_id % 20 <> 8`) — an independent engine's
    * never-ingested gold standard, not a Spark-side replay. Probed
    * non-vacuous at every SF: 2 / 2 / 9 forgotten keepers promote a
    * surviving min-id. */
  val jointDedupForget: Q = Q("mm_joint_dedup_forget",
    "WITH RECURSIVE pairs AS (\n" +
      "SELECT d1, d2 FROM (WITH " + imageOracleCtes("doc_id % 20 <> 8") +
        "\nSELECT d1, d2 FROM cand WHERE bit_count(xor(dh1, dh2)) <= 3) ti\n" +
      "UNION\nSELECT d1, d2 FROM (WITH " + audioOracleCtes("doc_id % 20 <> 8") +
        "\nSELECT d1, d2 FROM cand WHERE bit_count(xor(ah1, ah2)) <= 3) ta\n" +
      "UNION\nSELECT d1, d2 FROM (WITH " + videoOracleCtes("doc_id % 20 <> 8") +
        "\nSELECT d1, d2 FROM cand WHERE bit_count(xor(dh1, dh2)) <= 3) tv\n" +
      "UNION\nSELECT d1, d2 FROM (WITH " +
        graft.queries.TextOps.nearPairOracleCtes("doc_id % 20 <> 8") +
        "\nSELECT d1, d2 FROM np) tt\n" +
      ")," + """
      |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
      |reach AS (
      |  SELECT src AS v, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst AS v, r.lbl FROM reach r JOIN edges e ON e.src = r.v),
      |comp AS (SELECT v AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY 1)
      |SELECT c.doc_id, c.cluster_id, n.sz AS cluster_size,
      |       (c.doc_id = c.cluster_id) AS is_keeper
      |FROM comp c JOIN (SELECT cluster_id, COUNT(*) AS sz FROM comp GROUP BY 1) n USING (cluster_id)
      |ORDER BY c.doc_id""".stripMargin) { (s, dir) =>
    jointForgetWorld(s, dir).store.production(s, "joint_clusters")
      .orderBy(col("doc_id"))
  }

  /** CROSS-MODAL train/val LEAKAGE AUDIT — `text_split_leakage`
    * generalized to ANY-modality duplication: under the standard
    * md5-bucket content split (val = top 10%), report every VAL
    * record whose image dHash, audio fingerprint, video temporal
    * signature, OR caption text (J ≥ 0.5) has a train-side duplicate
    * — with its distinct train-partner count, smallest partner, and
    * the per-modality breakdown. A val record whose IMAGE already
    * sits in train is memorization bait even when its caption is
    * fresh; the text-only audit misses exactly these (measured: 121
    * image-leaked vs 34 text-leaked val docs at sf0.1). Planted
    * perturbed twins (+1e6 ids) are synthetic certification devices,
    * not corpus records — both split joins are inner on real doc_ids,
    * so twin pairs drop structurally.
    *
    * Scale shape: rides the four MEMOIZED pair lists (no new corpus
    * or fingerprint pass) + two id-keyed equi-joins against the
    * split frame (corpus-scaled — no broadcast hint) + one group on
    * the val id. The oracle replays all four pipelines as
    * colliding-name-proof derived tables (the [[jointDedup]] device)
    * plus the split and the report. */
  val mmSplitLeakage: Q = Q("mm_split_leakage",
    "WITH p AS (\n" +
      "SELECT 'image' AS m, d1, d2 FROM (WITH " + imageOracleCtes +
        "\nSELECT d1, d2 FROM cand WHERE bit_count(xor(dh1, dh2)) <= 3) ti\n" +
      "UNION ALL SELECT 'audio' AS m, d1, d2 FROM (WITH " + audioOracleCtes +
        "\nSELECT d1, d2 FROM cand WHERE bit_count(xor(ah1, ah2)) <= 3) ta\n" +
      "UNION ALL SELECT 'video' AS m, d1, d2 FROM (WITH " + videoOracleCtes +
        "\nSELECT d1, d2 FROM cand WHERE bit_count(xor(dh1, dh2)) <= 3) tv\n" +
      "UNION ALL SELECT 'text' AS m, d1, d2 FROM (WITH " +
        graft.queries.TextOps.nearPairOracleCtes +
        "\nSELECT d1, d2 FROM np) tt\n" +
      ")," + """
      |pr AS (SELECT m, d1, d2 FROM p WHERE d1 < 1000000 AND d2 < 1000000),
      |b AS (SELECT doc_id,
      |        CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
      |          AS bucket
      |      FROM documents),
      |e AS (SELECT m, d1 AS v, d2 AS t FROM pr UNION ALL SELECT m, d2 AS v, d1 AS t FROM pr),
      |l AS (SELECT e.m, e.v, e.t
      |      FROM e JOIN b bv ON bv.doc_id = e.v JOIN b bt ON bt.doc_id = e.t
      |      WHERE bv.bucket >= 90 AND bt.bucket < 90)
      |SELECT v AS doc_id, COUNT(DISTINCT t) AS n_train_dups, MIN(t) AS min_train_partner,
      |  COUNT(DISTINCT t) FILTER (WHERE m = 'image') AS n_image,
      |  COUNT(DISTINCT t) FILTER (WHERE m = 'audio') AS n_audio,
      |  COUNT(DISTINCT t) FILTER (WHERE m = 'video') AS n_video,
      |  COUNT(DISTINCT t) FILTER (WHERE m = 'text') AS n_text
      |FROM l GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    splitLeakageOf(s, dir, _ => lit(true))
  }

  /** The [[mmSplitLeakage]] program over an optionally REDUCED corpus:
    * `keepDoc` filters the doc set AND both pair endpoints — pair
    * predicates are pairwise, so filtering the memoized lists IS the
    * reduced-corpus pair set (the [[forgetMedia]] argument). Shared
    * by the query (keep-all) and the release bundle's post-forget
    * leakage rebuild. */
  private[graft] def splitLeakageOf(s: SparkSession, dir: String,
      keepDoc: org.apache.spark.sql.Column => org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    def tag(df: org.apache.spark.sql.DataFrame, m: String) =
      df.select(lit(m).as("m"), col("d1"), col("d2"))
    val pr = tag(imagePairs(s, dir), "image")
      .unionByName(tag(audioPairs(s, dir), "audio"))
      .unionByName(tag(videoPairs(s, dir), "video"))
      .unionByName(tag(graft.queries.TextOps.nearDupPairs05(s, dir), "text"))
      .filter(col("d1") < TwinOffset && col("d2") < TwinOffset)
      .filter(keepDoc(col("d1")) && keepDoc(col("d2")))
    val bucket = expr(
      "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) % 100")
    val b = Tables.documents(s, dir).filter(keepDoc(col("doc_id")))
      .select(col("doc_id"), bucket.as("bucket"))
    val e = pr.select(col("m"), col("d1").as("v"), col("d2").as("t"))
      .unionByName(pr.select(col("m"), col("d2").as("v"), col("d1").as("t")))
    e.join(b.filter(col("bucket") >= 90).select(col("doc_id").as("v")), Seq("v"))
      .join(b.filter(col("bucket") < 90).select(col("doc_id").as("t")), Seq("t"))
      .groupBy(col("v"))
      .agg(countDistinct(col("t")).as("n_train_dups"), min(col("t")).as("min_train_partner"),
        countDistinct(when(col("m") === "image", col("t"))).as("n_image"),
        countDistinct(when(col("m") === "audio", col("t"))).as("n_audio"),
        countDistinct(when(col("m") === "video", col("t"))).as("n_video"),
        countDistinct(when(col("m") === "text", col("t"))).as("n_text"))
      .select(col("v").as("doc_id"), col("n_train_dups"), col("min_train_partner"),
        col("n_image"), col("n_audio"), col("n_video"), col("n_text"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------- cross-modal align
  /** Cross-modal ALIGNMENT scoring — the LAION-style filter between
    * dedup and packing: every media document pairs with its caption,
    * both sides carry PRECOMPUTED encoder embeddings (the
    * `embeddings` table keyed by reference id — exactly how
    * img2dataset-era pipelines ship CLIP embeddings as columns next
    * to the payloads), the pair scores CLIP-style cosine, and the
    * corpus keeps pairs above the alignment threshold.
    *
    * Planted-misalignment device: the caption reference is the
    * image's own embedding row for 9 of 10 docs (the caption encoder
    * adds a deterministic one-coordinate perturbation, so aligned
    * pairs score ≈ 0.999, not a degenerate exact 1.0) and a SWAPPED
    * row for every doc_id % 10 = 7 (independent 64-dim vectors:
    * |cos| ≤ ~0.31 measured across all SFs). The 0.9 threshold
    * clears both classes with wide margin; the oracle replays
    * pairing, perturbation, cosine, and the keep decision exactly.
    *
    * Scale shape: both embedding lookups are plain EQUI-joins on the
    * reference id (the embedding store outgrows any broadcast at
    * 100 TB — no hint; AQE may still broadcast at test SF); the only
    * non-equi join is the broadcast 1-row corpus-count anchor; the
    * cosine is the codegen [[graft.functions.CosineSim]] kernel in
    * double element order, so the raw-threshold decision is
    * bit-identical across engines. */
  val captionAlign: Q = Q("mm_caption_align",
    """WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
      |p AS (SELECT doc_id, doc_id % n.n AS img_ref,
      |        CASE WHEN doc_id % 10 = 7 THEN
      |          CASE WHEN (doc_id * 31 + 7) % n.n = doc_id % n.n
      |               THEN ((doc_id * 31 + 7) % n.n + 1) % n.n
      |               ELSE (doc_id * 31 + 7) % n.n END
      |             ELSE doc_id % n.n END AS cap_ref
      |      FROM documents, n),
      |z AS (SELECT p.doc_id, p.img_ref, p.cap_ref,
      |        p.doc_id % len(ce.embedding) AS pj,
      |        unnest(ie.embedding) AS a, unnest(ce.embedding) AS b,
      |        generate_subscripts(ie.embedding, 1) AS i
      |      FROM p JOIN embeddings ie ON ie.vec_id = p.img_ref
      |             JOIN embeddings ce ON ce.vec_id = p.cap_ref),
      |z2 AS (SELECT doc_id, img_ref, cap_ref, CAST(a AS DOUBLE) AS av,
      |        CASE WHEN i - 1 = pj THEN CAST(b AS DOUBLE) * 1.1
      |             ELSE CAST(b AS DOUBLE) END AS bv
      |       FROM z),
      |d AS (SELECT doc_id, img_ref, cap_ref,
      |        SUM(av*bv) AS dot, SUM(av*av) AS na, SUM(bv*bv) AS nb
      |      FROM z2 GROUP BY 1, 2, 3)
      |SELECT doc_id, img_ref, cap_ref,
      |  ROUND(dot/(sqrt(na)*sqrt(nb)), 6) AS cosine,
      |  (dot/(sqrt(na)*sqrt(nb)) >= 0.9) AS keep
      |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
    alignScores(Tables.documents(s, dir), Tables.embeddings(s, dir))
      .orderBy(col("doc_id"))
  }

  /** The alignment scoring as a frame transform over `(docs, emb)` —
    * shared by the batch query and the stateless streaming twin
    * (each micro-batch scores its arrivals against the static
    * embedding store: stream-static equi-joins). */
  def alignScores(docs: org.apache.spark.sql.DataFrame,
                  emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val nRow = broadcast(emb.agg(count(lit(1)).as("n")))
    // planted misalignment for doc_id % 10 = 7 — GUARDED: when the
    // swapped ref lands back on img_ref (30·doc_id + 7 ≡ 0 mod n, a
    // congruence that hits at some corpus sizes and would score the
    // "misaligned" plant ~0.999), step one vector over so every
    // plant genuinely differs from its image embedding
    val swapped = (col("doc_id") * 31 + 7) % col("n")
    val pairs = docs.select(col("doc_id"))
      .crossJoin(nRow)
      .select(col("doc_id"), (col("doc_id") % col("n")).as("img_ref"),
        when(col("doc_id") % 10 === 7,
          when(swapped === col("doc_id") % col("n"), (swapped + 1) % col("n"))
            .otherwise(swapped))
          .otherwise(col("doc_id") % col("n")).as("cap_ref"))
    val img = emb.select(col("vec_id").as("img_ref"), col("embedding").as("img_e"))
    val cap = emb.select(col("vec_id").as("cap_ref"), col("embedding").as("cap_e"))
    pairs.join(img, Seq("img_ref")).join(cap, Seq("cap_ref"))
      .withColumn("cap_p", expr(
        """zip_with(cap_e, sequence(0, size(cap_e) - 1),
          |  (x, j) -> IF(j = doc_id % size(cap_e),
          |    CAST(x AS DOUBLE) * 1.1D, CAST(x AS DOUBLE)))""".stripMargin))
      .withColumn("cos_raw", expr("graft_cosine(img_e, cap_p)"))
      .select(col("doc_id"), col("img_ref"), col("cap_ref"),
        round(col("cos_raw"), 6).as("cosine"),
        (col("cos_raw") >= 0.9).as("keep"))
  }

  // ------------------------------------------------------- video-caption align
  /** VIDEO-caption alignment — [[captionAlign]]'s gate for the third
    * modality: a clip's embedding is FRAME-POOLED (the element-wise
    * sum of its 3 frames' reference embeddings — cosine is
    * scale-invariant, so the sum IS the mean, with no division to
    * round), the caption encoder pools the same refs with the
    * one-coordinate perturbation, and the pair keeps above the same
    * 0.9 threshold. Planted misalignment (doc_id % 10 = 7): the
    * caption pools a SWAPPED ref window, guarded to stay fully
    * DISJOINT from the clip's 3-ref window (an overlap of 2 of 3
    * frames would score ~2/3 and crowd the threshold — the
    * [[alignScores]] congruence guard, widened to a window).
    *
    * Scale shape: six plain EQUI-joins on the reference id (no hint —
    * the embedding store outgrows broadcast), frame pooling is
    * fixed-order `zip_with` array arithmetic (left-assoc double adds,
    * bit-identical across engines — no per-dim aggregate whose sum
    * order could wiggle a 6-dec rounding), cosine is the codegen
    * [[graft.functions.CosineSim]] kernel. */
  val videoAlign: Q = Q("mm_video_align",
    """WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
      |p0 AS (SELECT doc_id, n.n AS n, doc_id % n.n AS vb,
      |         (doc_id * 31 + 7) % n.n AS raw
      |       FROM documents, n),
      |p AS (SELECT doc_id, n, vb,
      |        CASE WHEN doc_id % 10 = 7 THEN
      |          CASE WHEN ((raw - vb + n) % n) < 3 OR ((raw - vb + n) % n) > n - 3
      |               THEN (vb + 3) % n ELSE raw END
      |             ELSE vb END AS cb
      |      FROM p0),
      |j AS (SELECT p.doc_id, p.vb, p.cb,
      |        e0.embedding AS v0, e1.embedding AS v1, e2.embedding AS v2,
      |        f0.embedding AS c0, f1.embedding AS c1, f2.embedding AS c2
      |      FROM p JOIN embeddings e0 ON e0.vec_id = p.vb
      |             JOIN embeddings e1 ON e1.vec_id = (p.vb + 1) % p.n
      |             JOIN embeddings e2 ON e2.vec_id = (p.vb + 2) % p.n
      |             JOIN embeddings f0 ON f0.vec_id = p.cb
      |             JOIN embeddings f1 ON f1.vec_id = (p.cb + 1) % p.n
      |             JOIN embeddings f2 ON f2.vec_id = (p.cb + 2) % p.n),
      |z AS (SELECT doc_id, vb, cb, doc_id % len(v0) AS pj,
      |        unnest(list_transform(range(1, len(v0) + 1), i ->
      |          (CAST(v0[i] AS DOUBLE) + CAST(v1[i] AS DOUBLE)) + CAST(v2[i] AS DOUBLE))) AS a,
      |        unnest(list_transform(range(1, len(c0) + 1), i ->
      |          (CAST(c0[i] AS DOUBLE) + CAST(c1[i] AS DOUBLE)) + CAST(c2[i] AS DOUBLE))) AS b,
      |        generate_subscripts(v0, 1) AS i
      |      FROM j),
      |z2 AS (SELECT doc_id, vb, cb, a AS av,
      |        CASE WHEN i - 1 = pj THEN b * 1.1 ELSE b END AS bv
      |       FROM z),
      |d AS (SELECT doc_id, vb, cb,
      |        SUM(av*bv) AS dot, SUM(av*av) AS na, SUM(bv*bv) AS nb
      |      FROM z2 GROUP BY 1, 2, 3)
      |SELECT doc_id, vb AS vid_ref, cb AS cap_ref,
      |  ROUND(dot/(sqrt(na)*sqrt(nb)), 6) AS cosine,
      |  (dot/(sqrt(na)*sqrt(nb)) >= 0.9) AS keep
      |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
    videoAlignScores(Tables.documents(s, dir), Tables.embeddings(s, dir))
      .orderBy(col("doc_id"))
  }

  /** The video-alignment scoring as a frame transform — shared by
    * the batch query and the gated video pack below. */
  def videoAlignScores(docs: org.apache.spark.sql.DataFrame,
                       emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val nRow = broadcast(emb.agg(count(lit(1)).as("n")))
    val vb = col("doc_id") % col("n")
    val raw = (col("doc_id") * 31 + 7) % col("n")
    val dist = (raw - vb + col("n")) % col("n")
    // the corpus parquet is one input split at test SFs, and the six
    // broadcast lookups + pooling + cosine would whole-stage into
    // that ONE task (measured 1.8 s single-task at sf0.1) — spread
    // the id stream across the session width first; at cluster scale
    // the scan has many splits and the exchange coalesces away
    val pairs = docs.select(col("doc_id"))
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .crossJoin(nRow)
      .select(col("doc_id"), col("n"), vb.as("vb"),
        when(col("doc_id") % 10 === 7,
          when(dist < 3 || dist > col("n") - 3, (vb + 3) % col("n")).otherwise(raw))
          .otherwise(vb).as("cb"))
    def ref(alias: String, key: org.apache.spark.sql.Column) =
      emb.select(col("vec_id").as(alias + "_id"), col("embedding").as(alias)) -> key
    val joined = Seq(
      ref("v0", col("vb")), ref("v1", (col("vb") + 1) % col("n")),
      ref("v2", (col("vb") + 2) % col("n")),
      ref("c0", col("cb")), ref("c1", (col("cb") + 1) % col("n")),
      ref("c2", (col("cb") + 2) % col("n")))
      .foldLeft(pairs) { case (acc, (e, key)) =>
        val alias = e.columns.head.stripSuffix("_id")
        acc.join(e, e(alias + "_id") === key).drop(alias + "_id")
      }
    joined
      .withColumn("vp", expr(
        """zip_with(zip_with(v0, v1,
          |  (x, y) -> CAST(x AS DOUBLE) + CAST(y AS DOUBLE)), v2,
          |  (x, y) -> x + CAST(y AS DOUBLE))""".stripMargin))
      .withColumn("cp0", expr(
        """zip_with(zip_with(c0, c1,
          |  (x, y) -> CAST(x AS DOUBLE) + CAST(y AS DOUBLE)), c2,
          |  (x, y) -> x + CAST(y AS DOUBLE))""".stripMargin))
      .withColumn("cp", expr(
        """zip_with(cp0, sequence(0, size(cp0) - 1),
          |  (x, j) -> IF(j = doc_id % size(cp0), x * 1.1D, x))""".stripMargin))
      .withColumn("cos_raw", expr("graft_cosine(vp, cp)"))
      .select(col("doc_id"), col("vb").as("vid_ref"), col("cb").as("cap_ref"),
        round(col("cos_raw"), 6).as("cosine"),
        (col("cos_raw") >= 0.9).as("keep"))
  }

  /** The video-alignment gate COMPOSED into the media pack — the
    * aligned video records flowing into the [[alignedPack]] assembly:
    * kept clips cost a FIXED 3 frames × 16 = 48 patch tokens (the
    * container is 3 frames by construction) and pack greedily into
    * the same per-(doc_id % 4 shard) 2048-token sequences. */
  val videoAlignedPack: Q = Q("mm_video_aligned_pack",
    """WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
      |p0 AS (SELECT doc_id, n.n AS n, doc_id % n.n AS vb,
      |         (doc_id * 31 + 7) % n.n AS raw
      |       FROM documents, n),
      |p AS (SELECT doc_id, n, vb,
      |        CASE WHEN doc_id % 10 = 7 THEN
      |          CASE WHEN ((raw - vb + n) % n) < 3 OR ((raw - vb + n) % n) > n - 3
      |               THEN (vb + 3) % n ELSE raw END
      |             ELSE vb END AS cb
      |      FROM p0),
      |j AS (SELECT p.doc_id,
      |        e0.embedding AS v0, e1.embedding AS v1, e2.embedding AS v2,
      |        f0.embedding AS c0, f1.embedding AS c1, f2.embedding AS c2
      |      FROM p JOIN embeddings e0 ON e0.vec_id = p.vb
      |             JOIN embeddings e1 ON e1.vec_id = (p.vb + 1) % p.n
      |             JOIN embeddings e2 ON e2.vec_id = (p.vb + 2) % p.n
      |             JOIN embeddings f0 ON f0.vec_id = p.cb
      |             JOIN embeddings f1 ON f1.vec_id = (p.cb + 1) % p.n
      |             JOIN embeddings f2 ON f2.vec_id = (p.cb + 2) % p.n),
      |z AS (SELECT doc_id, doc_id % len(v0) AS pj,
      |        unnest(list_transform(range(1, len(v0) + 1), i ->
      |          (CAST(v0[i] AS DOUBLE) + CAST(v1[i] AS DOUBLE)) + CAST(v2[i] AS DOUBLE))) AS a,
      |        unnest(list_transform(range(1, len(c0) + 1), i ->
      |          (CAST(c0[i] AS DOUBLE) + CAST(c1[i] AS DOUBLE)) + CAST(c2[i] AS DOUBLE))) AS b,
      |        generate_subscripts(v0, 1) AS i
      |      FROM j),
      |z2 AS (SELECT doc_id, a AS av,
      |        CASE WHEN i - 1 = pj THEN b * 1.1 ELSE b END AS bv
      |       FROM z),
      |d AS (SELECT doc_id, SUM(av*bv) AS dot, SUM(av*av) AS na, SUM(bv*bv) AS nb
      |      FROM z2 GROUP BY 1),
      |keepset AS (SELECT doc_id FROM d WHERE dot/(sqrt(na)*sqrt(nb)) >= 0.9),
      |t AS (SELECT doc_id, doc_id % 4 AS shard, 48 AS media_tokens
      |      FROM documents WHERE doc_id IN (SELECT doc_id FROM keepset)),
      |o AS (SELECT doc_id, shard, media_tokens,
      |        COALESCE(SUM(media_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |      FROM t)
      |SELECT shard, CAST(off // 2048 AS BIGINT) AS seq_id,
      |  COUNT(*) AS n_items, CAST(SUM(media_tokens) AS BIGINT) AS seq_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM o GROUP BY 1, 2 ORDER BY shard, seq_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val kept = videoAlignScores(Tables.documents(s, dir), Tables.embeddings(s, dir))
      .filter(col("keep")).select(col("doc_id"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .join(kept, Seq("doc_id"))
      .select(col("doc_id"), (col("doc_id") % 4).as("shard"),
        lit(48L).as("media_tokens"))
      .withColumn("off", coalesce(sum(col("media_tokens")).over(w), lit(0L)))
      .groupBy(col("shard"), floor(col("off") / 2048).as("seq_id"))
      .agg(count(lit(1)).as("n_items"), sum(col("media_tokens")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard"), col("seq_id"))
  }

  // ------------------------------------------------------ audio-caption align
  /** AUDIO-transcript alignment — the gate that completes the
    * three-modality training mix: a clip's embedding is pooled from
    * its 2 SAMPLE-WINDOW reference embeddings (the [[videoAlign]]
    * frame-pooling device, window = 2 — speech encoders pool
    * per-window acoustic embeddings the same way video encoders pool
    * frames), the transcript encoder pools the same refs with the
    * one-coordinate perturbation, and the pair keeps above the same
    * 0.9 threshold. Planted misalignment at doc_id % 10 = 3 — a
    * DIFFERENT residue from the image/video plants (% 10 = 7) so the
    * three modality keep sets genuinely differ: a cross-gate mixup
    * (audio records gated by the image decision, …) flips the
    * trimodal manifest below and fails its hash. The swapped ref
    * window (37·doc_id + 11) is guarded to stay fully DISJOINT from
    * the clip's 2-ref window (the [[videoAlignScores]] congruence
    * guard at window 2).
    *
    * Scale shape: four plain EQUI-joins on the reference id (no
    * hint — the embedding store outgrows broadcast), window pooling
    * is a single `zip_with` double add (bit-identical across
    * engines), cosine is the codegen [[graft.functions.CosineSim]]
    * kernel. */
  val audioAlign: Q = Q("mm_audio_align",
    """WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
      |p0 AS (SELECT doc_id, n.n AS n, doc_id % n.n AS ab,
      |         (doc_id * 37 + 11) % n.n AS raw
      |       FROM documents, n),
      |p AS (SELECT doc_id, n, ab,
      |        CASE WHEN doc_id % 10 = 3 THEN
      |          CASE WHEN ((raw - ab + n) % n) < 2 OR ((raw - ab + n) % n) > n - 2
      |               THEN (ab + 2) % n ELSE raw END
      |             ELSE ab END AS cb
      |      FROM p0),
      |j AS (SELECT p.doc_id, p.ab, p.cb,
      |        e0.embedding AS a0, e1.embedding AS a1,
      |        f0.embedding AS c0, f1.embedding AS c1
      |      FROM p JOIN embeddings e0 ON e0.vec_id = p.ab
      |             JOIN embeddings e1 ON e1.vec_id = (p.ab + 1) % p.n
      |             JOIN embeddings f0 ON f0.vec_id = p.cb
      |             JOIN embeddings f1 ON f1.vec_id = (p.cb + 1) % p.n),
      |z AS (SELECT doc_id, ab, cb, doc_id % len(a0) AS pj,
      |        unnest(list_transform(range(1, len(a0) + 1), i ->
      |          CAST(a0[i] AS DOUBLE) + CAST(a1[i] AS DOUBLE))) AS a,
      |        unnest(list_transform(range(1, len(c0) + 1), i ->
      |          CAST(c0[i] AS DOUBLE) + CAST(c1[i] AS DOUBLE))) AS b,
      |        generate_subscripts(a0, 1) AS i
      |      FROM j),
      |z2 AS (SELECT doc_id, ab, cb, a AS av,
      |        CASE WHEN i - 1 = pj THEN b * 1.1 ELSE b END AS bv
      |       FROM z),
      |d AS (SELECT doc_id, ab, cb,
      |        SUM(av*bv) AS dot, SUM(av*av) AS na, SUM(bv*bv) AS nb
      |      FROM z2 GROUP BY 1, 2, 3)
      |SELECT doc_id, ab AS aud_ref, cb AS cap_ref,
      |  ROUND(dot/(sqrt(na)*sqrt(nb)), 6) AS cosine,
      |  (dot/(sqrt(na)*sqrt(nb)) >= 0.9) AS keep
      |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
    audioAlignScores(Tables.documents(s, dir), Tables.embeddings(s, dir))
      .orderBy(col("doc_id"))
  }

  /** The audio-alignment scoring as a frame transform — shared by
    * the batch query, the stateless streaming twin, and the trimodal
    * pack/emission below. */
  def audioAlignScores(docs: org.apache.spark.sql.DataFrame,
                       emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val nRow = broadcast(emb.agg(count(lit(1)).as("n")))
    val ab = col("doc_id") % col("n")
    val raw = (col("doc_id") * 37 + 11) % col("n")
    val dist = (raw - ab + col("n")) % col("n")
    // the corpus parquet is one input split at test SFs — spread the
    // id stream across the session width before the four lookups +
    // pooling whole-stage into one task (the videoAlignScores fix;
    // at cluster scale AQE coalesces the exchange away)
    val pairs = docs.select(col("doc_id"))
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .crossJoin(nRow)
      .select(col("doc_id"), col("n"), ab.as("ab"),
        when(col("doc_id") % 10 === 3,
          when(dist < 2 || dist > col("n") - 2, (ab + 2) % col("n")).otherwise(raw))
          .otherwise(ab).as("cb"))
    def ref(alias: String, key: org.apache.spark.sql.Column) =
      emb.select(col("vec_id").as(alias + "_id"), col("embedding").as(alias)) -> key
    val joined = Seq(
      ref("a0", col("ab")), ref("a1", (col("ab") + 1) % col("n")),
      ref("c0", col("cb")), ref("c1", (col("cb") + 1) % col("n")))
      .foldLeft(pairs) { case (acc, (e, key)) =>
        val alias = e.columns.head.stripSuffix("_id")
        acc.join(e, e(alias + "_id") === key).drop(alias + "_id")
      }
    joined
      .withColumn("ap", expr(
        "zip_with(a0, a1, (x, y) -> CAST(x AS DOUBLE) + CAST(y AS DOUBLE))"))
      .withColumn("cp0", expr(
        "zip_with(c0, c1, (x, y) -> CAST(x AS DOUBLE) + CAST(y AS DOUBLE))"))
      .withColumn("cp", expr(
        """zip_with(cp0, sequence(0, size(cp0) - 1),
          |  (x, j) -> IF(j = doc_id % size(cp0), x * 1.1D, x))""".stripMargin))
      .withColumn("cos_raw", expr("graft_cosine(ap, cp)"))
      .select(col("doc_id"), col("ab").as("aud_ref"), col("cb").as("cap_ref"),
        round(col("cos_raw"), 6).as("cosine"),
        (col("cos_raw") >= 0.9).as("keep"))
  }

  // ------------------------------------------------------------ trimodal pack
  /** The VIDEO keep set as a spliceable oracle CTE chain (no `WITH`
    * prefix; assumes `n` is defined) — [[videoAlign]]'s gate with
    * `v`-prefixed names so it composes with [[alignKeepCtes]] and
    * [[audioKeepCtes]] in one oracle. */
  private def videoKeepCtes: String = videoKeepCtes("1 = 1")
  private def videoKeepCtes(where: String): String =
    s"""vp0 AS (SELECT doc_id, n.n AS n, doc_id % n.n AS vb,
      |          (doc_id * 31 + 7) % n.n AS raw
      |        FROM documents, n WHERE ($where)),
      |vp AS (SELECT doc_id, n, vb,
      |         CASE WHEN doc_id % 10 = 7 THEN
      |           CASE WHEN ((raw - vb + n) % n) < 3 OR ((raw - vb + n) % n) > n - 3
      |                THEN (vb + 3) % n ELSE raw END
      |              ELSE vb END AS cb
      |       FROM vp0),
      |vj AS (SELECT vp.doc_id,
      |         e0.embedding AS v0, e1.embedding AS v1, e2.embedding AS v2,
      |         f0.embedding AS c0, f1.embedding AS c1, f2.embedding AS c2
      |       FROM vp JOIN embeddings e0 ON e0.vec_id = vp.vb
      |               JOIN embeddings e1 ON e1.vec_id = (vp.vb + 1) % vp.n
      |               JOIN embeddings e2 ON e2.vec_id = (vp.vb + 2) % vp.n
      |               JOIN embeddings f0 ON f0.vec_id = vp.cb
      |               JOIN embeddings f1 ON f1.vec_id = (vp.cb + 1) % vp.n
      |               JOIN embeddings f2 ON f2.vec_id = (vp.cb + 2) % vp.n),
      |vz AS (SELECT doc_id, doc_id % len(v0) AS pj,
      |         unnest(list_transform(range(1, len(v0) + 1), i ->
      |           (CAST(v0[i] AS DOUBLE) + CAST(v1[i] AS DOUBLE)) + CAST(v2[i] AS DOUBLE))) AS a,
      |         unnest(list_transform(range(1, len(c0) + 1), i ->
      |           (CAST(c0[i] AS DOUBLE) + CAST(c1[i] AS DOUBLE)) + CAST(c2[i] AS DOUBLE))) AS b,
      |         generate_subscripts(v0, 1) AS i
      |       FROM vj),
      |vz2 AS (SELECT doc_id, a AS av,
      |          CASE WHEN i - 1 = pj THEN b * 1.1 ELSE b END AS bv
      |        FROM vz),
      |vd AS (SELECT doc_id, SUM(av*bv) AS dot, SUM(av*av) AS na, SUM(bv*bv) AS nb
      |       FROM vz2 GROUP BY 1),
      |vkeep AS (SELECT doc_id FROM vd WHERE dot/(sqrt(na)*sqrt(nb)) >= 0.9)""".stripMargin

  /** The AUDIO keep set as a spliceable oracle CTE chain (no `WITH`
    * prefix; assumes `n`) — [[audioAlign]]'s gate, `a`-prefixed. */
  private def audioKeepCtes: String = audioKeepCtes("1 = 1")
  private def audioKeepCtes(where: String): String =
    s"""ap0 AS (SELECT doc_id, n.n AS n, doc_id % n.n AS ab,
      |          (doc_id * 37 + 11) % n.n AS raw
      |        FROM documents, n WHERE ($where)),
      |ap AS (SELECT doc_id, n, ab,
      |         CASE WHEN doc_id % 10 = 3 THEN
      |           CASE WHEN ((raw - ab + n) % n) < 2 OR ((raw - ab + n) % n) > n - 2
      |                THEN (ab + 2) % n ELSE raw END
      |              ELSE ab END AS cb
      |       FROM ap0),
      |aj AS (SELECT ap.doc_id,
      |         e0.embedding AS a0, e1.embedding AS a1,
      |         f0.embedding AS c0, f1.embedding AS c1
      |       FROM ap JOIN embeddings e0 ON e0.vec_id = ap.ab
      |               JOIN embeddings e1 ON e1.vec_id = (ap.ab + 1) % ap.n
      |               JOIN embeddings f0 ON f0.vec_id = ap.cb
      |               JOIN embeddings f1 ON f1.vec_id = (ap.cb + 1) % ap.n),
      |az AS (SELECT doc_id, doc_id % len(a0) AS pj,
      |         unnest(list_transform(range(1, len(a0) + 1), i ->
      |           CAST(a0[i] AS DOUBLE) + CAST(a1[i] AS DOUBLE))) AS a,
      |         unnest(list_transform(range(1, len(c0) + 1), i ->
      |           CAST(c0[i] AS DOUBLE) + CAST(c1[i] AS DOUBLE))) AS b,
      |         generate_subscripts(a0, 1) AS i
      |       FROM aj),
      |az2 AS (SELECT doc_id, a AS av,
      |          CASE WHEN i - 1 = pj THEN b * 1.1 ELSE b END AS bv
      |        FROM az),
      |ad AS (SELECT doc_id, SUM(av*bv) AS dot, SUM(av*av) AS na, SUM(bv*bv) AS nb
      |       FROM az2 GROUP BY 1),
      |akeep AS (SELECT doc_id FROM ad WHERE dot/(sqrt(na)*sqrt(nb)) >= 0.9)""".stripMargin

  /** THE THREE-MODALITY TRAINING MIX — image, audio and video records
    * each pass their OWN alignment gate ([[captionAlign]],
    * [[audioAlign]], [[videoAlign]]) and the union packs greedily into
    * the per-(doc_id % 4 shard) 2048-token sequences at per-modality
    * patch costs (image: bytes/32 × 16 frames; audio: 2 windows × 16;
    * video: 3 frames × 16), records ordered (doc_id, modality rank)
    * within a shard. The three plant residues differ (image/video
    * % 10 = 7, audio % 10 = 3), so every modality contributes a
    * DIFFERENT kept subset — routing any record family through the
    * wrong gate changes item counts and shifts every later sequence
    * boundary in its shard, failing the hash.
    *
    * Scale shape: three alignment gates are pure equi-join programs
    * (4–6 embedding lookups each, no broadcast hint), the union is
    * width-bounded (one row per kept record, no payloads), and the
    * packing prefix sum is the two-level
    * [[graft.queries.TextOps.sourcePrefixSum]] — no bare 4-partition
    * shard window at 100 TB. */
  val trimodalPack: Q = Q("mm_trimodal_pack",
    "WITH " + alignKeepCtes + ",\n" + videoKeepCtes + ",\n" + audioKeepCtes + """,
      |ti AS (SELECT doc_id, doc_id % 4 AS shard, 0 AS mrank, 'image' AS modality,
      |         greatest(1, octet_length(CAST(text AS BLOB)) // 32) * 16 AS mt
      |       FROM documents WHERE doc_id IN (SELECT doc_id FROM keepset)),
      |ta AS (SELECT doc_id, doc_id % 4 AS shard, 1 AS mrank, 'audio' AS modality, 32 AS mt
      |       FROM documents WHERE doc_id IN (SELECT doc_id FROM akeep)),
      |tv AS (SELECT doc_id, doc_id % 4 AS shard, 2 AS mrank, 'video' AS modality, 48 AS mt
      |       FROM documents WHERE doc_id IN (SELECT doc_id FROM vkeep)),
      |u AS (SELECT * FROM ti UNION ALL SELECT * FROM ta UNION ALL SELECT * FROM tv),
      |uo AS (SELECT doc_id, shard, modality, mt,
      |         COALESCE(SUM(mt) OVER (PARTITION BY shard ORDER BY doc_id, mrank
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |       FROM u)
      |SELECT shard, CAST(off // 2048 AS BIGINT) AS seq_id,
      |  COUNT(*) AS n_items,
      |  COUNT(*) FILTER (WHERE modality = 'image') AS n_image,
      |  COUNT(*) FILTER (WHERE modality = 'audio') AS n_audio,
      |  COUNT(*) FILTER (WHERE modality = 'video') AS n_video,
      |  CAST(SUM(mt) AS BIGINT) AS seq_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM uo GROUP BY 1, 2 ORDER BY shard, seq_id""".stripMargin) { (s, dir) =>
    trimodalRecords(s, dir)
      .groupBy(col("shard"), floor(col("start_off") / 2048).cast("long").as("seq_id"))
      .agg(count(lit(1)).as("n_items"),
        count(when(col("modality") === "image", 1)).as("n_image"),
        count(when(col("modality") === "audio", 1)).as("n_audio"),
        count(when(col("modality") === "video", 1)).as("n_video"),
        sum(col("mt")).cast("long").as("seq_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard"), col("seq_id"))
  }

  /** The GATED trimodal record union `(doc_id, shard, mrank,
    * modality, mt, text)` — each record family filtered by its own
    * alignment gate — memoized + persisted per (application, sf dir):
    * the three alignment programs are paid once and shared by the
    * pack manifest and the trimodal emission (which prefix-sum
    * DIFFERENT costs over the same record stream: patch-only vs
    * patch + transcript ids). */
  private val trimodalGatedMemo = graft.SessionCaches.memo[org.apache.spark.sql.DataFrame]

  private[graft] def trimodalGated(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    trimodalGatedMemo(s, dir)(
      // cut: the emission family embeds this deep three-program tree
      // repeatedly
      cutLineage(trimodalGatedOf(Tables.documents(s, dir), Tables.embeddings(s, dir))))

  /** [[trimodalGated]] over any documents frame — shared with the
    * streaming twin's per-micro-batch gates (stream-static equi-joins
    * against the fixed embedding store). */
  private[graft] def trimodalGatedOf(docs: org.apache.spark.sql.DataFrame,
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def recs(keep: org.apache.spark.sql.DataFrame, mrank: Int, modality: String,
             cost: org.apache.spark.sql.Column) =
      docs.join(keep, Seq("doc_id"))
        .select(col("doc_id"), (col("doc_id") % 4).as("shard"),
          lit(mrank).as("mrank"), lit(modality).as("modality"),
          cost.cast("long").as("mt"), col("text"))
    recs(alignScores(docs, emb).filter(col("keep")).select(col("doc_id")),
        0, "image",
        greatest(lit(1L), floor(length(col("text").cast("binary")) / 32)) * 16)
      .unionByName(recs(
        audioAlignScores(docs, emb).filter(col("keep")).select(col("doc_id")),
        1, "audio", lit(32L)))
      .unionByName(recs(
        videoAlignScores(docs, emb).filter(col("keep")).select(col("doc_id")),
        2, "video", lit(48L)))
  }

  /** TRIMODAL RELEASE CARD — the decision-record rollup published
    * beside the three-modality mix: per modality, how many records
    * its alignment gate kept, how many docs it dropped, and the patch
    * mass flowing into the pack — the per-modality health row a
    * multimodal release ships (a gate whose drop rate jumps is a
    * regression alarm). Rides the memoized gated union (no new gate
    * pass); the oracle replays all three gates and the rollup. */
  val trimodalCard: Q = Q("mm_trimodal_card",
    "WITH " + alignKeepCtes + ",\n" + videoKeepCtes + ",\n" + audioKeepCtes + """,
      |ti AS (SELECT doc_id, 'image' AS modality,
      |         greatest(1, octet_length(CAST(text AS BLOB)) // 32) * 16 AS mt
      |       FROM documents WHERE doc_id IN (SELECT doc_id FROM keepset)),
      |ta AS (SELECT doc_id, 'audio' AS modality, 32 AS mt
      |       FROM documents WHERE doc_id IN (SELECT doc_id FROM akeep)),
      |tv AS (SELECT doc_id, 'video' AS modality, 48 AS mt
      |       FROM documents WHERE doc_id IN (SELECT doc_id FROM vkeep)),
      |u AS (SELECT * FROM ti UNION ALL SELECT * FROM ta UNION ALL SELECT * FROM tv),
      |tot AS (SELECT COUNT(*) AS n FROM documents)
      |SELECT modality, COUNT(*) AS n_records,
      |  CAST(tot.n - COUNT(*) AS BIGINT) AS n_dropped,
      |  CAST(SUM(mt) AS BIGINT) AS patch_mass
      |FROM u, tot GROUP BY 1, tot.n ORDER BY 1""".stripMargin) { (s, dir) =>
    trimodalCardOf(s, dir, trimodalGated(s, dir))
  }

  /** The [[trimodalCard]] rollup over any gated trimodal record frame
    * — shared by the batch query and the consolidated-stream twin
    * (which reads the drained continuous entries, so the card a
    * continuously-publishing release monitors is the same oracle-
    * checked fact). */
  private[graft] def trimodalCardOf(s: SparkSession, dir: String,
      records: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    trimodalCardOfDocs(records,
      Tables.documents(s, dir).agg(count(lit(1)).as("n")))

  /** [[trimodalCardOf]] against an explicit corpus-total frame — the
    * release bundle's post-forget card rolls up against the REDUCED
    * doc count (a withdrawn doc is not "dropped by a gate", it was
    * never ingested). */
  private[graft] def trimodalCardOfDocs(records: org.apache.spark.sql.DataFrame,
      totalDf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val total = broadcast(totalDf)
    records
      .groupBy(col("modality"))
      .agg(count(lit(1)).as("n_records"), sum(col("mt")).cast("long").as("patch_mass"))
      .crossJoin(total)
      .select(col("modality"), col("n_records"),
        (col("n") - col("n_records")).cast("long").as("n_dropped"), col("patch_mass"))
      .orderBy(col("modality"))
  }

  /** The pack-positioned trimodal record stream `(shard, doc_id,
    * mrank, modality, mt, start_off)` — patch costs only. */
  private[graft] def trimodalRecords(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    graft.queries.TextOps.sourcePrefixSum(
      trimodalGated(s, dir).select(col("shard").as("source"), col("doc_id"),
        col("mrank"), col("modality"), col("mt")),
      col("mt"), order = Seq(col("doc_id"), col("mrank")))
      .withColumnRenamed("source", "shard")
      .select(col("shard"), col("doc_id"), col("mrank"), col("modality"),
        col("mt"), col("start_off"))

  // -------------------------------------------------------- trimodal emission
  /** The THREE-MODALITY INTERLEAVED EMISSION — the speech-text mix
    * [[mmEmitIds]] couldn't assemble: every gated record (image,
    * audio, video — each through its OWN alignment gate) contributes
    * its patch block (`mt` opaque patch tokens) immediately followed
    * by its caption/transcript's BPE token-IDs, records land in
    * (doc_id, modality-rank) order on one token stream per shard, and
    * 2048-token windows cut at fixed boundaries, identified by the
    * hash of their ordered token sequence. A doc kept by two gates
    * emits its transcript twice — once per modality record — exactly
    * the repeated-caption layout interleaved training mixes ship.
    *
    * Scale shape: [[mmEmitWindows]]'s — the patch explode is
    * arithmetic, transcript ids join the bounded symbol table under
    * the broadcast gate, the in-record id rank is a per-RECORD window
    * (≤ caption length rows), offsets are the two-level prefix sum;
    * the gate union is paid once via [[trimodalGated]].
    *
    * The oracle replays the ENTIRE program: three alignment gates →
    * per-modality keep sets → patch costs → the 16-round BPE train →
    * transcript segmentation + sorted symbol ids → per-shard
    * record offsets → every window's interleaved token hash. */
  /** The trimodal-emission oracle chain through the positioned `o`
    * frame (three alignment gates → per-modality keep sets → patch
    * costs → the 16-round BPE train → transcript segmentation +
    * sorted ids → per-shard record offsets) — shared by the window
    * emission and the forget certificate (which re-instantiates it
    * with a reduced-corpus `where`). The BPE train and symbol table
    * read the FULL corpus regardless of `where` — the release
    * tokenizer is a fixed artifact, so a takedown never shifts the id
    * space (the gate-independent-symbol-table rule). Takes the full
    * `WITH` prefix. */
  private[graft] def trimodalEmitOracleCtes(where: String): String =
    "WITH " + alignKeepCtes(where) + ",\n" + videoKeepCtes(where) + ",\n" +
      audioKeepCtes(where) + ",\n" +
      graft.queries.TextOps.bpeOracleBody(graft.queries.TextOps.BpeRounds) + s""",
      |tti AS (SELECT doc_id, doc_id % 4 AS shard, 0 AS mrank,
      |          greatest(1, octet_length(CAST(text AS BLOB)) // 32) * 16 AS m, text
      |        FROM documents WHERE doc_id IN (SELECT doc_id FROM keepset)),
      |tta AS (SELECT doc_id, doc_id % 4 AS shard, 1 AS mrank, 32 AS m, text
      |        FROM documents WHERE doc_id IN (SELECT doc_id FROM akeep)),
      |ttv AS (SELECT doc_id, doc_id % 4 AS shard, 2 AS mrank, 48 AS m, text
      |        FROM documents WHERE doc_id IN (SELECT doc_id FROM vkeep)),
      |tu AS (SELECT * FROM tti UNION ALL SELECT * FROM tta UNION ALL SELECT * FROM ttv),
      |cw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
      |              generate_subscripts(string_split(text, ' '), 1) AS i
      |       FROM (SELECT DISTINCT doc_id, text FROM tu)),
      |dw AS (SELECT DISTINCT word FROM
      |         (SELECT unnest(string_split(text, ' ')) AS word FROM documents)),
      |d0 AS (SELECT word, '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS st FROM dw),
      |${(1 to graft.queries.TextOps.BpeRounds).map(r =>
          s"d$r AS (SELECT word, replace(st, ' ' || m.l || '  ' || m.r || ' '," +
            s" ' ' || m.l || m.r || ' ') AS st FROM d${r - 1}, m$r m)").mkString(",\n")},
      |dsym AS (SELECT word, unnest(string_split(trim(st), '  ')) AS sym,
      |         generate_subscripts(string_split(trim(st), '  '), 1) - 1 AS j
      |         FROM d${graft.queries.TextOps.BpeRounds}),
      |symtab AS (SELECT sym, CAST(ROW_NUMBER() OVER (ORDER BY sym) - 1 AS BIGINT) AS id
      |           FROM (SELECT DISTINCT sym FROM dsym)),
      |wid AS (SELECT word, j, id FROM dsym JOIN symtab USING (sym)),
      |cid AS (SELECT c.doc_id, c.i, w.j, w.id FROM cw c JOIN wid w USING (word)),
      |clen AS (SELECT doc_id, COUNT(*) AS c FROM cid GROUP BY 1),
      |cost AS (SELECT t.doc_id, t.shard, t.mrank, t.m, t.m + l.c AS tot
      |         FROM tu t JOIN clen l USING (doc_id)),
      |o AS (SELECT doc_id, shard, mrank, m, tot,
      |        COALESCE(SUM(tot) OVER (PARTITION BY shard ORDER BY doc_id, mrank
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |      FROM cost)""".stripMargin

  /** The interleaved token-row CTEs over [[trimodalEmitOracleCtes]]'s
    * `o`/`cid` (no final SELECT) — shared by the window emission and
    * the shuffle order. */
  private def trimodalEmitRowCtes: String =
    """,
      |prow AS (SELECT shard, off + k - 1 AS pos, 'P' AS tok
      |         FROM (SELECT shard, off, unnest(generate_series(1, m)) AS k FROM o)),
      |crow AS (SELECT o.shard,
      |           o.off + o.m + ROW_NUMBER() OVER (PARTITION BY c.doc_id, o.mrank
      |             ORDER BY c.i, c.j) - 1 AS pos,
      |           CAST(c.id AS VARCHAR) AS tok
      |         FROM cid c JOIN o ON o.doc_id = c.doc_id),
      |ar AS (SELECT * FROM prow UNION ALL SELECT * FROM crow)""".stripMargin

  /** The window-face tail over [[trimodalEmitOracleCtes]]'s `o`/`cid`. */
  private[graft] def trimodalEmitWindowTail: String =
    trimodalEmitRowCtes + """
      |SELECT shard, CAST(pos // 2048 AS BIGINT) AS seq_id,
      |  COUNT(*) AS n_tokens,
      |  CAST(COUNT(*) FILTER (WHERE tok = 'P') AS BIGINT) AS n_patch,
      |  md5(string_agg(tok, ',' ORDER BY pos)) AS window_fp
      |FROM ar GROUP BY 1, 2 ORDER BY shard, seq_id""".stripMargin

  val trimodalEmitIds: Q = Q("mm_trimodal_emit_ids",
    trimodalEmitOracleCtes("1 = 1") + trimodalEmitWindowTail) { (s, dir) =>
    trimodalEmitWindows(s, dir).orderBy(col("shard"), col("seq_id"))
  }

  /** Deterministic training-order shuffle over the TRIMODAL release —
    * [[graft.queries.TextOps.curationShuffle]]'s md5
    * shard/rank/offset machinery keyed on each trimodal window's
    * content fingerprint: the artifact an interleaved multimodal run
    * reads in order is the one that HAS an order. Same scale shape:
    * content-derived rank shards bound the rank windows, the 16-row
    * shard-offset frame broadcasts back; ties (duplicate window
    * content) break on (data_shard, seq_id) so the order is total on
    * any engine. The emission's own shard key is renamed
    * `data_shard` — `shard` is the rank shard, as in the text
    * family. */
  val trimodalShuffle: Q = Q("mm_trimodal_shuffle",
    trimodalEmitOracleCtes("1 = 1") + trimodalEmitRowCtes + """,
      |ew AS (SELECT shard AS data_shard, CAST(pos // 2048 AS BIGINT) AS seq_id,
      |         COUNT(*) AS n_tokens,
      |         CAST(COUNT(*) FILTER (WHERE tok = 'P') AS BIGINT) AS n_patch,
      |         md5(string_agg(tok, ',' ORDER BY pos)) AS window_fp
      |       FROM ar GROUP BY 1, 2),
      |k AS (SELECT *, md5('shuffle:' || window_fp) AS sort_key FROM ew),
      |k2 AS (SELECT *, CAST(('0x' || substr(sort_key, 1, 1)) AS BIGINT) AS shard FROM k)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY sort_key, data_shard, seq_id) AS BIGINT) AS ord,
      |  shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY sort_key, data_shard, seq_id) AS BIGINT) AS pos,
      |  sort_key, data_shard, seq_id, n_tokens, n_patch, window_fp
      |FROM k2 ORDER BY ord""".stripMargin) { (s, dir) =>
    graft.queries.TextOps.shuffleRankTrimodal(trimodalEmitWindows(s, dir))
  }

  /** MULTI-EPOCH training orders over the trimodal release — the
    * dataloader contract for a run that consumes the release E > 1
    * times: each epoch reorders the IDENTICAL window set under an
    * epoch-salted content key ([[graft.queries.TextOps.epochOrdersTrimodal]]),
    * so epochs genuinely differ (no batch-composition reinforcement)
    * while every epoch stays bit-reproducible on any engine, any
    * partitioning, any rerun. Two epochs here exercise the contract;
    * E is a config constant, so the cost is E rank programs over the
    * memoized window artifact. */
  val trimodalEpochs: Q = Q("mm_trimodal_epochs",
    "WITH w AS (SELECT * FROM (" + trimodalEmitIds.oracle.get + ") t),\n" +
      "e AS (SELECT CAST(0 AS BIGINT) AS epoch, * FROM w\n" +
      "      UNION ALL SELECT CAST(1 AS BIGINT), * FROM w),\n" +
      "k AS (SELECT epoch, shard AS data_shard, seq_id, n_tokens, n_patch, window_fp,\n" +
      "        md5('shuffle:e' || epoch || ':' || window_fp) AS sort_key FROM e),\n" +
      "k2 AS (SELECT *, CAST(('0x' || substr(sort_key, 1, 1)) AS BIGINT) AS shard FROM k)\n" +
      "SELECT epoch,\n" +
      "  CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY sort_key, data_shard, seq_id) AS BIGINT) AS ord,\n" +
      "  shard,\n" +
      "  CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY sort_key, data_shard, seq_id) AS BIGINT) AS pos,\n" +
      "  sort_key, data_shard, seq_id, n_tokens, n_patch, window_fp\n" +
      "FROM k2 ORDER BY epoch, ord") { (s, dir) =>
    graft.queries.TextOps.epochOrdersTrimodal(trimodalEmitWindows(s, dir), 2)
  }

  /** MODALITY-MIX CURRICULUM over the trimodal release —
    * `text_curriculum_order`'s schedule machinery pointed at the
    * flagship window artifact: windows are ranked by PATCH SHARE
    * (`n_patch / n_tokens`, the fraction of the window that is
    * opaque media tokens), cut into quartiles, and the main pass
    * ramps text-heavy → media-heavy (multimodal runs warm up on
    * language before paying attention to dense patch blocks); the
    * phase-4 ANNEAL then replays the MOST media-dense quartile under
    * a fresh salt — finish on the hardest interleaved data. Scores
    * are exact window arithmetic (rounded ratio of two BIGINTs), so
    * the whole schedule — quartile cut, per-phase md5 shuffle, step
    * numbering — replays bit-identically in the oracle over the full
    * emission chain.
    *
    * Scale shape: [[graft.queries.Curation.difficultyQuartiles]]'s —
    * coarse buckets `floor(share·8)` (alphabet ≤ 9) each cut into
    * score-range sub-bands so the within-bucket ranks hash-partition
    * on (bucket, band) and no bucket ever sorts in one task, bounded
    * two-level prefix-sum offsets, and the width-2 `shuffleRankCore`
    * step numbering; rides the memoized lineage-cut window artifact
    * the shuffle/epochs/resume rows already share. */
  val trimodalCurriculum: Q = Q("mm_trimodal_curriculum",
    "WITH w AS (SELECT * FROM (" + trimodalEmitIds.oracle.get + ") t),\n" +
      "sc AS (SELECT shard AS data_shard, seq_id, n_tokens, n_patch,\n" +
      "         ROUND(CAST(n_patch AS DOUBLE) / n_tokens, 6) AS patch_share FROM w),\n" +
      "n AS (SELECT COUNT(*) AS qn FROM sc),\n" +
      "r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY patch_share, data_shard, seq_id) AS rnk FROM sc),\n" +
      "q AS (SELECT data_shard, seq_id, n_tokens, n_patch, patch_share,\n" +
      "        CAST(((rnk - 1) * 4) // qn AS BIGINT) AS quartile FROM r, n),\n" +
      "u AS (SELECT *, quartile AS phase,\n" +
      "        CAST(quartile AS VARCHAR) || md5('tcur:' || CAST(data_shard AS VARCHAR)" +
      " || ':' || CAST(seq_id AS VARCHAR)) AS sort_key FROM q\n" +
      "      UNION ALL\n" +
      "      SELECT *, 4 AS phase,\n" +
      "        '4' || md5('tanneal:' || CAST(data_shard AS VARCHAR)" +
      " || ':' || CAST(seq_id AS VARCHAR)) AS sort_key FROM q WHERE quartile = 3)\n" +
      "SELECT CAST(ROW_NUMBER() OVER (ORDER BY sort_key, data_shard, seq_id) AS BIGINT) AS ord,\n" +
      "  CAST(('0x' || substr(sort_key, 1, 2)) AS BIGINT) AS shard,\n" +
      "  CAST(ROW_NUMBER() OVER (PARTITION BY substr(sort_key, 1, 2)" +
      " ORDER BY sort_key, data_shard, seq_id) AS BIGINT) AS pos,\n" +
      "  sort_key, CAST(phase AS BIGINT) AS phase, data_shard, seq_id," +
      " quartile, patch_share, n_tokens, n_patch\n" +
      "FROM u ORDER BY ord") { (s, dir) =>
    curriculumOverWindows(trimodalEmitWindows(s, dir))
  }

  /** QUALITY-WEIGHTED trimodal curriculum — the text
    * `text_curriculum_composite` device mirrored onto the modality
    * mix: window difficulty (patch_share) tempered by the PRODUCTION
    * media-quality model's per-clip score, aggregated to the window
    * through the same positioned-record join the gate already does
    * (each record carries its doc's closed-form proba; a window's
    * quality is the mean over the records starting in it). The
    * composite `cscore = ROUND(patch_share - 0.25·win_quality, 6)`
    * ranks ascending through the shared two-level
    * [[graft.queries.Curation.difficultyQuartiles]] — low-patch,
    * high-quality windows first, the anneal phase re-visits the
    * hardest quartile under a fresh salt.
    *
    * The LR proba is Spark-learned (not DuckDB-replayable), so the
    * row is the CERTIFICATE shape of the learned-gate family: the
    * oracle replays the gate-invariant window count and the exact
    * quartile-size arithmetic closed-form, and pins the engine-side
    * structural booleans — dense ord, exact quartile populations,
    * rank monotone in cscore across quartile boundaries, and the
    * non-vacuity leg: the quality signal must MOVE at least one
    * window's quartile vs the patch-share-only schedule (quality
    * deciding, not riding).
    *
    * Scale shape: the score join is the gate's broadcast-coefficient
    * sigmoid over the positioned frame; window quality is one
    * groupBy on the (shard, seq_id) window key; both schedules ride
    * the two-level rank (no single-task sort); every certificate leg
    * is a ≤ 5-row aggregate crossJoin. */
  private val triCompositeMemo = graft.SessionCaches.memo[
    (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame)]

  val trimodalCurriculumComposite: Q = Q("mm_trimodal_curriculum_composite",
    "WITH w AS (SELECT * FROM (" + trimodalEmitIds.oracle.get + ") t),\n" +
      "n AS (SELECT COUNT(*) AS qn FROM w)\n" +
      "SELECT CAST(qn AS BIGINT) AS n_windows,\n" +
      "  CAST(2 * qn - (3 * qn + 3) // 4 AS BIGINT) AS n_sched_rows,\n" +
      "  TRUE AS ord_dense, TRUE AS quartiles_exact,\n" +
      "  TRUE AS quality_moves_membership, TRUE AS rank_monotone\n" +
      "FROM n") { (s, dir) =>
    // the scored window frame and both ranked schedules are a few
    // hundred rows but their LINEAGE carries the model-scoring join —
    // cut once per (application, dir) so the certificate's
    // six aggregate legs (× bench reps) don't re-pay the scoring DAG
    val (w, ranked, rankedPatch) = triCompositeMemo(s, dir) {
        val store = graft.ml.QualityModel.productionStore(s, dir)
        val model = store.production(s, graft.ml.MediaQualityModel.ModelName)
        val scores = graft.ml.MediaQualityModel.scoreClosedForm(
          graft.ml.MediaQualityModel.mediaStats(s, dir), model)
        val winQ = trimodalPositioned(s, dir)
          .join(scores, Seq("doc_id"))
          .groupBy(col("shard").as("data_shard"),
            floor(col("start_off") / 2048).cast("long").as("seq_id"))
          .agg(avg(col("proba")).as("win_quality"))
        val wf = cutLineage(trimodalEmitWindows(s, dir).withColumnRenamed("shard", "data_shard")
          .withColumn("patch_share",
            round(col("n_patch").cast("double") / col("n_tokens"), 6))
          .join(winQ, Seq("data_shard", "seq_id"), "left_outer")
          // a window no record starts in (possible only when one
          // record spans it whole) reads the neutral score
          .withColumn("win_quality",
            coalesce(round(col("win_quality"), 6), lit(0.5)))
          .withColumn("cscore",
            round(col("patch_share") - lit(0.25) * col("win_quality"), 6)))
        // the non-vacuity leg needs only the patch-share quartile
        // MEMBERSHIP — derived via the closed-form boundary device,
        // not a second full two-level rank (r19 verdict item #1;
        // equivalence to compositeTrimodalRank's quartile column is
        // spec-pinned in MultimodalSpec)
        (wf,
          cutLineage(compositeTrimodalRank(wf, col("cscore"))),
          cutLineage(graft.queries.Curation.quartileMembershipAsc(wf,
            scaled = (col("patch_share") + 1) * 8,
            tieKey = trimodalTieKey)))
      }
    def key(salt: String) = md5(concat(lit(salt), col("data_shard").cast("string"),
      lit(":"), col("seq_id").cast("string")))
    val main = ranked.withColumn("phase", col("quartile"))
      .withColumn("sort_key", concat(col("quartile").cast("string"), key("tcomp:")))
    val anneal = ranked.filter(col("quartile") === 3)
      .withColumn("phase", lit(4L))
      .withColumn("sort_key", concat(lit("4"), key("tcanneal:")))
    val sched = graft.queries.TextOps.shuffleRankCore(main.unionByName(anneal),
      out = Seq(col("phase"), col("data_shard"), col("seq_id"), col("quartile"),
        col("cscore"), col("patch_share"), col("win_quality")),
      tie = Seq(col("data_shard"), col("seq_id")), shardWidth = 2)
    val nWin = w.agg(count(lit(1)).as("n_windows"))
    val schedAgg = sched.agg(count(lit(1)).as("n_sched_rows"),
      max(col("ord")).as("max_ord"), countDistinct(col("ord")).as("n_ord"))
    // exact quartile populations: size_k = ceil((k+1)·N/4) − ceil(k·N/4)
    val qBad = ranked.groupBy(col("quartile")).agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(nWin))
      .select(sum(when(col("c") =!= expr(
        "((quartile + 1) * n_windows + 3) div 4 - (quartile * n_windows + 3) div 4"),
        1L).otherwise(0L)).as("n_qbad"),
        count(lit(1)).as("n_quartiles"))
    // the quality signal must move membership vs patch-share alone
    val moved = ranked.select(col("data_shard"), col("seq_id"),
        col("quartile").as("qc"))
      .join(rankedPatch.select(col("data_shard"), col("seq_id"),
        col("quartile").as("qp")), Seq("data_shard", "seq_id"))
      .agg(count(when(col("qc") =!= col("qp"), 1)).as("n_moved"))
    // cscore never decreases across an ascending quartile boundary
    val mono = ranked.groupBy(col("quartile"))
      .agg(min(col("cscore")).as("lo"), max(col("cscore")).as("hi"))
      .select(max(col("hi")).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("quartile")).rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
        .as("prev_hi"), col("lo"))
      .agg(count(when(col("prev_hi") > col("lo"), 1)).as("n_mono_bad"))
    nWin.crossJoin(broadcast(schedAgg))
      .crossJoin(broadcast(qBad))
      .crossJoin(broadcast(moved))
      .crossJoin(broadcast(mono))
      .select(col("n_windows"),
        col("n_sched_rows"),
        (col("max_ord") === col("n_sched_rows") &&
          col("n_ord") === col("n_sched_rows")).as("ord_dense"),
        (col("n_qbad") === 0 && col("n_quartiles") === 4).as("quartiles_exact"),
        (col("n_moved") > 0).as("quality_moves_membership"),
        (col("n_mono_bad") === 0).as("rank_monotone"))
  }

  /** Monotone integer encoding of the trimodal curricula's
    * (data_shard, seq_id) structural tiebreak — the rank device's
    * atom-splitting key. 2⁴⁰ headroom: ~10¹² windows per shard
    * before seq_id could wrap into the shard bits. */
  private[graft] def trimodalTieKey: org.apache.spark.sql.Column =
    col("data_shard") * (1L << 40) + col("seq_id")

  /** The composite curriculum's two-level rank over any window frame
    * carrying (data_shard, seq_id) — the certificate's composite
    * leg and the membership-movement spec (which plants windows
    * whose quality must flip quartiles); the patch-only leg reads
    * just the quartile MEMBERSHIP via
    * [[graft.queries.Curation.quartileMembershipAsc]]'s boundary
    * device instead of paying this rank a second time. */
  private[graft] def compositeTrimodalRank(w: org.apache.spark.sql.DataFrame,
      score: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
    graft.queries.Curation.difficultyQuartiles(w,
      scaled = (score + 1) * 8,
      inBucketOrder = Seq(score, col("data_shard"), col("seq_id")),
      bucketAscending = true, tieKey = trimodalTieKey)

  /** The modality-mix curriculum transform over any trimodal window
    * frame — shared verbatim by the batch query and the streaming
    * twin (the schedule is a content-determined fact of the
    * windows). */
  private[graft] def curriculumOverWindows(windows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = windows.withColumnRenamed("shard", "data_shard")
      .withColumn("patch_share",
        round(col("n_patch").cast("double") / col("n_tokens"), 6))
    val ranked = graft.queries.Curation.difficultyQuartiles(w,
      scaled = col("patch_share") * 8,
      inBucketOrder = Seq(col("patch_share"), col("data_shard"), col("seq_id")),
      bucketAscending = true, tieKey = trimodalTieKey)
    def key(salt: String) = md5(concat(lit(salt), col("data_shard").cast("string"),
      lit(":"), col("seq_id").cast("string")))
    val main = ranked.withColumn("phase", col("quartile"))
      .withColumn("sort_key", concat(col("quartile").cast("string"), key("tcur:")))
    val anneal = ranked.filter(col("quartile") === 3)
      .withColumn("phase", lit(4L))
      .withColumn("sort_key", concat(lit("4"), key("tanneal:")))
    graft.queries.TextOps.shuffleRankCore(main.unionByName(anneal),
      out = Seq(col("phase"), col("data_shard"), col("seq_id"), col("quartile"),
        col("patch_share"), col("n_tokens"), col("n_patch")),
      tie = Seq(col("data_shard"), col("seq_id")), shardWidth = 2)
  }

  /** RESUME THE TRIMODAL TRAINING RUN MID-EPOCH — the
    * checkpoint-restart contract of the flagship release's
    * dataloader: [[graft.queries.TextOps.resumeManifest]] over
    * [[trimodalShuffle]]'s order at the 60% global watermark. Per
    * rank shard: windows the checkpoint covers, windows remaining,
    * the in-shard seek position, and the fingerprint the resumed
    * rank must find there — a recut release or re-rolled order
    * fails the fp probe instead of double-feeding interleaved data.
    * Rides the memoized lineage-cut window artifact; the manifest
    * adds one 1-row watermark broadcast + a 16-shard group. */
  val trimodalResume: Q = Q("mm_trimodal_resume",
    graft.queries.TextOps.resumeOracleSql(trimodalShuffle.oracle.get, 0.6)) { (s, dir) =>
    graft.queries.TextOps.resumeManifest(
      graft.queries.TextOps.shuffleRankTrimodal(trimodalEmitWindows(s, dir)), 0.6)
  }

  /** Position + window-cut the trimodal record stream: tot = patch
    * block + transcript id count, offsets via the two-level prefix
    * sum over (doc_id, mrank); then the [[mmEmitWindows]] cut with a
    * per-RECORD (doc_id, mrank) id rank. */
  /** The emission-positioned trimodal record stream, memoized +
    * persisted: the prefix-sum upstream carries the vocab-keyed
    * transcript-length join, which [[graft.queries.TextOps.sourcePrefixSum]]'s
    * three branches would otherwise re-pay per bench rep (the
    * [[mmEmitPositioned]] rationale). */
  private val trimodalPosMemo = graft.SessionCaches.memo[org.apache.spark.sql.DataFrame]

  private[graft] def trimodalPositioned(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    trimodalPosMemo(s, dir)(
      // cut: the positioned frame feeds the pack/emit/freq family
      cutLineage(trimodalPositionOf(s, dir, trimodalGated(s, dir))))

  /** Position any gated trimodal record frame on the interleaved
    * stream (tot = patch block + transcript id count) — shared by the
    * batch memo and the streaming twin's per-batch placement. */
  private[graft] def trimodalPositionOf(s: SparkSession, dir: String,
      gated: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    trimodalPositionWithLens(gated, trimodalCapLensOf(s, dir, gated))

  /** One transcript length per DOC (records of a doc share the
    * caption) — LEFT join + loud raise, the emission family contract.
    * Split out so a two-face streaming batch pays the vocab join
    * once. */
  private[graft] def trimodalCapLensOf(s: SparkSession, dir: String,
      gated: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val (nsymPerWord, nWords) = mmVocabLensStats(s, dir)
    capIdLensSized(gated.select(col("doc_id"), col("text")).distinct(),
      nsymPerWord, nWords * 16L, "transcript")
  }

  /** Position a gated trimodal record frame against a precomputed
    * lens frame (`(doc_id, n_cap_ids)` covering at least its ids). */
  private[graft] def trimodalPositionWithLens(gated: org.apache.spark.sql.DataFrame,
      lens: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.queries.TextOps.sourcePrefixSum(
      gated.join(lens, Seq("doc_id"))
        .select(col("shard").as("source"), col("doc_id"), col("mrank"),
          col("modality"), col("mt"), col("text"),
          (col("mt") + col("n_cap_ids")).as("tot")),
      col("tot"), order = Seq(col("doc_id"), col("mrank")))
      .withColumnRenamed("source", "shard")

  /** Bench warm hook: pay the three alignment gates, the positioned
    * emission frame, and the lineage-cut window artifact once,
    * attributed. */
  private[graft] def warmTrimodal(s: SparkSession, dir: String): Unit = {
    trimodalEmitWindows(s, dir); ()
  }

  /** The batch trimodal window artifact, memoized + LINEAGE-CUT: the
    * emission query, the shuffle order, and the stream certificates'
    * batch sides all consume it — without the cut each rep re-pays
    * the patch explode + transcript-id cut (measured 8.6 s on the
    * shuffle at sf0.1; the rank program itself is ~0.5 s). */
  private val trimodalWinMemo = graft.SessionCaches.memo[org.apache.spark.sql.DataFrame]

  private[graft] def trimodalEmitWindows(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    trimodalWinMemo(s, dir) {
      val pos = graft.WarmPhases.phase("position") { trimodalPositioned(s, dir) }
      graft.WarmPhases.phase("windows") {
        cutLineage(trimodalEmitWindowsOf(s, dir, pos))
      }
    }

  /** The trimodal window cut over any positioned record frame —
    * shared by the batch query and the streaming twin's drain. */
  private[graft] def trimodalEmitWindowsOf(s: SparkSession, dir: String,
      positioned: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // patch blocks as run slices — one row per (record, window
    // overlap) instead of one per patch token ([[patchRunSlices]]);
    // transcript ids as word-run slices — one row per token instead
    // of one per symbol ([[captionRunSlices]])
    val patches = patchRunSlices(positioned, col("mt"), 2048)
    val capIds = captionRunSlices(mmCaptionWordEncStats(s, dir),
      positioned.select(col("shard"), col("doc_id"), col("mrank"),
        (col("start_off") + col("mt")).as("cap_off"),
        posexplode(split(col("text"), " ")).as(Seq("i", "word"))),
      Seq("doc_id", "mrank"), 2048, "transcript")
    windowAggOfSlices(patches.unionByName(capIds), 2048)
  }

  /** Per-window RECORD-BOUNDARY manifest for the TRIMODAL release —
    * the attention/modality-mask contract over the three-family
    * record stream ([[mmEmitBounds]] one modality up): every window
    * ships the window-local offsets where a new (doc, modality)
    * RECORD starts plus the modality-rank sequence at those starts,
    * so a trimodal dataloader can mask cross-record attention and
    * locate each patch block's family WITHOUT decoding tokens.
    * Derives from the positioned record frame alone — one row per
    * kept record, never a token explode (the [[trimodalEmitIds]]
    * oracle's `o` frame without its token tail). */
  val trimodalBounds: Q = Q("mm_trimodal_doc_bounds",
    trimodalEmitOracleCtes("1 = 1") + """
      |SELECT shard, CAST(off // 2048 AS BIGINT) AS seq_id,
      |  COUNT(*) AS n_records_started,
      |  md5(string_agg(CAST(off % 2048 AS VARCHAR), ',' ORDER BY off)) AS bounds_fp,
      |  md5(string_agg(CAST(mrank AS VARCHAR), ',' ORDER BY off)) AS mrank_fp
      |FROM o GROUP BY 1, 2 ORDER BY shard, seq_id""".stripMargin) { (s, dir) =>
    trimodalBoundsOf(trimodalPositioned(s, dir))
  }

  /** The [[trimodalBounds]] rollup over any positioned record frame —
    * shared by the batch query and the streaming twin's drained
    * entries. */
  private[graft] def trimodalBoundsOf(positioned: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    positioned
      .groupBy(col("shard"), floor(col("start_off") / 2048).cast("long").as("seq_id"))
      .agg(count(lit(1)).as("n_records_started"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("start_off"),
            (col("start_off") % 2048).cast("string").as("local")))),
          x => x.getField("local")), ",")).as("bounds_fp"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("start_off"),
            col("mrank").cast("string").as("mr")))),
          x => x.getField("mr")), ",")).as("mrank_fp"))
      .orderBy(col("shard"), col("seq_id"))

  /** PACKING-EFFICIENCY REPORT of the trimodal release — the number a
    * dataloader owner reads before changing the window size: per
    * shard, the padding-loss tokens (the unfilled tail of the last
    * 2048-window — per-shard packing is contiguous, so exactly one
    * window per shard can be partial), the SPLIT-record rate (records
    * whose [off, off+tot) span crosses a window boundary and so feed
    * two+ training windows), and the mean windows spanned per record.
    * The engine derives everything from the positioned record frame's
    * (start_off, tot) arithmetic; the oracle re-derives the same
    * facts from the `o` prefix-sum chain — agreement certifies the
    * offsets, not just the rollup.
    *
    * Scale shape: two per-record integer columns + one groupBy on the
    * 4-value shard alphabet with map-side partials; rides the
    * memoized positioned artifact the bounds/id-freq rows share. */
  val packEfficiency: Q = Q("mm_pack_efficiency",
    trimodalEmitOracleCtes("1 = 1") + """
      |SELECT shard,
      |  COUNT(*) AS n_records,
      |  CAST(SUM(tot) AS BIGINT) AS n_tokens,
      |  CAST((SUM(tot) + 2047) // 2048 AS BIGINT) AS n_windows,
      |  CAST(((SUM(tot) + 2047) // 2048) * 2048 - SUM(tot) AS BIGINT) AS pad_tokens,
      |  CAST(COUNT(*) FILTER (WHERE off // 2048 != (off + GREATEST(tot, 1) - 1) // 2048) AS BIGINT)
      |    AS n_split_records,
      |  ROUND(COUNT(*) FILTER (WHERE off // 2048 != (off + GREATEST(tot, 1) - 1) // 2048)
      |        / CAST(COUNT(*) AS DOUBLE), 6) AS split_rate,
      |  ROUND(SUM((off + GREATEST(tot, 1) - 1) // 2048 - off // 2048 + 1)
      |        / CAST(COUNT(*) AS DOUBLE), 6) AS windows_per_record
      |FROM o GROUP BY 1 ORDER BY shard""".stripMargin) { (s, dir) =>
    packEfficiencyOf(trimodalPositioned(s, dir))
  }

  /** WHOLE-RECORD packing of the trimodal release —
    * [[graft.queries.TextOps.packWholeDocs]]' boundary-preserving
    * lever one modality up: a record that would cross the open
    * 2048-window's edge pads the tail and starts fresh, so no
    * sub-window record is ever split across training windows;
    * over-window records split alone with padded tails. Records pack
    * in (doc_id, modality-rank) order, encoded as the monotone
    * integer doc_id·4 + mrank so the ENTIRE text device — the
    * bounded-block greedy kernel, the two-level block-window prefix,
    * and the recursive run-group oracle — is reused verbatim at
    * budget 2048 (encoded-key blocks of 4096 = 1024 docs).
    * Output: per record, the padded-stream window id, in-window
    * offset, and the is_split mark. */
  val packWholeRecords: Q = Q("mm_pack_whole_records",
    "WITH RECURSIVE " + trimodalEmitOracleCtes("1 = 1").stripPrefix("WITH ") + ",\n" +
      graft.queries.TextOps.wholePackOracleCtes(
        s"""
      |  SELECT shard AS source, doc_id * 4 + mrank AS doc_id,
      |    CAST(tot AS BIGINT) AS n,
      |    (doc_id * 4 + mrank) // 4096 AS blk
      |  FROM o""".stripMargin, budget = 2048) + """
      |SELECT source AS shard, doc_id // 4 AS doc_id, doc_id % 4 AS mrank,
      |  n_tokens AS tot, seq_id, offset_in_seq, is_split
      |FROM wppd ORDER BY shard, doc_id, mrank""".stripMargin) { (s, dir) =>
    val enc = trimodalPositioned(s, dir)
      .select(col("shard").as("source"),
        (col("doc_id") * 4 + col("mrank")).as("doc_id"),
        col("tot").as("n_tokens"))
    graft.queries.TextOps.packWholeDocs(enc, budget = 2048)
      .select(col("source").as("shard"),
        expr("doc_id div 4").as("doc_id"), (col("doc_id") % 4).as("mrank"),
        col("n_tokens").as("tot"),
        col("seq_id"), col("offset_in_seq"), col("is_split"))
      .orderBy(col("shard"), col("doc_id"), col("mrank"))
  }

  /** The [[packEfficiency]] rollup over any positioned record frame —
    * a content-determined fact of the offsets, shared verbatim by the
    * batch query and the streaming twin's drained entries. */
  private[graft] def packEfficiencyOf(positioned: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val rec = positioned
      .withColumn("w0", expr("start_off div 2048"))
      // greatest(tot, 1): a zero-token record must not step w1 below
      // w0 (Spark div truncates toward zero, DuckDB // floors — the
      // two disagree at -1); unreachable today, pinned explicitly
      .withColumn("w1", expr("(start_off + greatest(tot, 1) - 1) div 2048"))
    rec.groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_records"),
        sum(col("tot")).as("n_tokens"),
        expr("(sum(tot) + 2047) div 2048").as("n_windows"),
        expr("((sum(tot) + 2047) div 2048) * 2048 - sum(tot)").as("pad_tokens"),
        sum(when(col("w0") =!= col("w1"), 1L).otherwise(0L)).as("n_split_records"),
        round(sum(when(col("w0") =!= col("w1"), 1L).otherwise(0L))
          / count(lit(1)).cast("double"), 6).as("split_rate"),
        round(sum(col("w1") - col("w0") + 1L)
          / count(lit(1)).cast("double"), 6).as("windows_per_record"))
      .orderBy(col("shard"))
  }

  /** Token-ID FREQUENCY table of the TRIMODAL release — the unigram
    * distribution shipped beside the three-modality shards, with the
    * patch-token row at id −1 carrying the combined image/audio/video
    * patch mass. A doc kept by k gates ships its transcript k times
    * (once per record), and the frequency table weighs it k times —
    * the repeated-transcript layout the windows actually cut.
    * Frequency-weighted like [[mmEmitIdFreq]]: per-record word count
    * with map-side combine on a vocab-bounded key, mass rides the
    * bounded symbol table — no per-token explode at any corpus
    * size. */
  val trimodalIdFreq: Q = Q("mm_trimodal_id_freq",
    trimodalEmitOracleCtes("1 = 1") + """,
      |nrec AS (SELECT doc_id, COUNT(*) AS nr FROM o GROUP BY 1),
      |wc AS (SELECT word, SUM(nr) AS wc FROM cw JOIN nrec USING (doc_id) GROUP BY 1),
      |idm AS (SELECT st.id, d.sym, CAST(SUM(c.wc) AS BIGINT) AS n_occurrences
      |        FROM dsym d JOIN symtab st USING (sym) JOIN wc c USING (word)
      |        GROUP BY 1, 2)
      |SELECT * FROM (
      |  SELECT CAST(-1 AS BIGINT) AS id, 'P' AS sym,
      |         CAST((SELECT SUM(m) FROM o) AS BIGINT) AS n_occurrences
      |  UNION ALL
      |  SELECT id, sym, n_occurrences FROM idm)
      |ORDER BY id""".stripMargin) { (s, dir) =>
    trimodalIdFreqOf(s, dir, trimodalPositioned(s, dir))
  }

  /** The [[trimodalIdFreq]] rollup over any positioned record frame —
    * shared by the batch query and the streaming twin's drained
    * entries. */
  private[graft] def trimodalIdFreqOf(s: SparkSession, dir: String,
      positioned: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    idFreqOverRecords(s, dir, positioned, col("mt"), "transcript")

  // --------------------------------------------------------- trimodal forget
  /** One trimodal-emission forget world per (application, sf dir):
    * promotes the full three-modality window artifact, then
    * propagates a withdrawal (docs with doc_id % 20 = 8 — the media
    * takedown family; all such ids are ≡ 0 mod 4, so exactly ONE of
    * the four shards is affected and the other three are preserved
    * AS-IS, the partition-pruned CowMerge shape: at 100 TB forgetting
    * one doc recuts one shard, not the release). The memo value owns
    * its store (Reapable); `before`/`rebuilt` are lineage-cut
    * certificate artifacts. The symbol table stays the FULL-corpus
    * release artifact, so the recut rows stay comparable to untouched
    * rows (the gate-independent-symbol-table rule). */
  private final case class TrimodalForgetWorld(store: graft.sources.FrameStore,
      before: org.apache.spark.sql.DataFrame, rebuilt: org.apache.spark.sql.DataFrame)
      extends graft.Reapable {
    def reapRoots: Seq[String] = Seq(store.root)
  }

  private val trimodalForgetMemo = graft.SessionCaches.memo[TrimodalForgetWorld]

  private def forgottenTrimodalWorld(s: SparkSession, dir: String): TrimodalForgetWorld =
    trimodalForgetMemo(s, dir) {
      val gated = trimodalGated(s, dir)
      val store = new graft.sources.FrameStore(
        graft.sources.Scratch.dir("graft-forget-trimodal-").toString)
      val before = cutLineage(trimodalEmitWindows(s, dir))
      store.publish(s, "trimodal_windows", before)
      // the gates are per-doc facts, so filtering the gated record
      // union IS re-gating the reduced corpus (keep sets are pairwise
      // in no one else's docs); removal shifts every later record's
      // offset in its shard, so affected shards recut wholesale
      val affected = gated.filter(col("doc_id") % 20 === 8)
        .select(col("shard")).distinct()
      val rebuilt = cutLineage(trimodalEmitWindowsOf(s, dir, trimodalPositionOf(s, dir,
        gated.filter(col("doc_id") % 20 =!= 8))))
      store.rewrite(s, "trimodal_windows") { df =>
        df.join(broadcast(affected), Seq("shard"), "left_anti")
          .unionByName(rebuilt.join(broadcast(affected), Seq("shard")))
      }
      store.gc("trimodal_windows", keep = 0)
      TrimodalForgetWorld(store, before = before, rebuilt = rebuilt)
    }

  /** Bench warm hook: build the forget world once, attributed. */
  private[graft] def warmTrimodalForget(s: SparkSession, dir: String): Unit = {
    forgottenTrimodalWorld(s, dir); ()
  }

  /** The batch forget world's recut-from-reduced-corpus window
    * artifact — the gold standard the LIVE-stream takedown's drained
    * union must equal ([[graft.streaming.StreamingMmEmit]]'s
    * `stream_trimodal_forget`). */
  private[graft] def trimodalForgetRebuilt(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    forgottenTrimodalWorld(s, dir).rebuilt

  /** FORGET THROUGH THE THREE-MODALITY RELEASE — the
    * right-to-be-forgotten contract on the artifact a multimodal
    * training run actually reads: withdrawing a doc's content must
    * invalidate every trimodal window built from ANY of its modality
    * records AND every later window in its shard (record offsets
    * shift), not just delete rows. After the shard-pruned rewrite +
    * gc, the promoted window set must be ROW-IDENTICAL to windows
    * recut from scratch on the reduced record set. The oracle
    * recomputes the before/after window counts through the FULL
    * three-gate + BPE emission replay at both corpus states; the
    * equality boolean is TRUE in the oracle. */
  val trimodalForget: Q = Q("mm_trimodal_forget",
    "SELECT\n" +
      "  (SELECT CAST(SUM((t + 2047) // 2048) AS BIGINT) FROM (SELECT shard, SUM(tot) AS t FROM (" +
      trimodalEmitOracleCtes("1 = 1") + "\nSELECT shard, tot FROM o) bo GROUP BY 1) bt)" +
      " AS n_windows_before,\n" +
      "  (SELECT CAST(SUM((t + 2047) // 2048) AS BIGINT) FROM (SELECT shard, SUM(tot) AS t FROM (" +
      trimodalEmitOracleCtes("doc_id % 20 <> 8") + "\nSELECT shard, tot FROM o) ao GROUP BY 1) at2)" +
      " AS n_windows_after,\n" +
      "  (SELECT COUNT(*) FROM documents WHERE doc_id % 20 = 8) AS n_docs_forgotten,\n" +
      "  (SELECT COUNT(DISTINCT doc_id % 4) FROM documents WHERE doc_id % 20 = 8) AS n_shards_affected,\n" +
      "  TRUE AS forget_equals_rebuild") { (s, dir) =>
    val world = forgottenTrimodalWorld(s, dir)
    val after = world.store.production(s, "trimodal_windows")
    val rebuilt = world.rebuilt
    val cols = Seq("n_tokens", "n_patch", "window_fp")
    val diff = after.as("a").join(rebuilt.as("r"), Seq("shard", "seq_id"), "full_outer")
      .filter(!cols.map(c => col(s"a.$c") <=> col(s"r.$c")).reduce(_ && _))
      .agg(count(lit(1)).as("n_diff"))
    world.before.agg(count(lit(1)).as("n_windows_before"))
      .crossJoin(broadcast(rebuilt.agg(count(lit(1)).as("n_windows_after"))))
      .crossJoin(broadcast(Tables.documents(s, dir).filter(col("doc_id") % 20 === 8)
        .agg(count(lit(1)).as("n_docs_forgotten"),
          countDistinct(col("doc_id") % 4).as("n_shards_affected"))))
      .crossJoin(broadcast(diff))
      .select(col("n_windows_before"), col("n_windows_after"),
        col("n_docs_forgotten"), col("n_shards_affected"),
        (col("n_diff") === 0).as("forget_equals_rebuild"))
  }

  // ------------------------------------------------------------- video dedup
  // 48-bit rotate-left by r (0 ≤ r < 48), Spark and DuckDB spellings
  // kept in lockstep: the temporal signature XORs each frame's dHash
  // rotated by 5·frame_idx, so the SAME frames in a DIFFERENT order
  // produce a different signature (order is part of the identity),
  // while a small per-frame perceptual change stays a small signature
  // change (rotation is a bit permutation; XOR of one changed frame
  // preserves its Hamming distance)
  private def rotSpark(e: String, r: Int): String =
    if (r == 0) s"($e)"
    else s"((shiftleft($e, $r) | shiftright($e, ${48 - r})) & 281474976710655)"
  private def rotDuck(e: String, r: Int): String =
    if (r == 0) s"($e)"
    else s"((($e << $r) | ($e >> ${48 - r})) & 281474976710655)"

  /** The 48-sample dHash program over `(px, w, h)` columns — shared
    * verbatim by the single-image hash and the per-frame video hash. */
  private val dhashSparkExpr: String =
    s"""aggregate(sequence(0, 47), CAST(0 AS BIGINT),
       |  (acc, b) -> acc + IF(${lumSql(gridP1)} > ${lumSql(gridP0)},
       |    shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT)))""".stripMargin

  /** The banded-candidate CTE chain of the video-dedup oracle (no
    * WITH prefix — the clusters oracle reuses it under RECURSIVE):
    * replays frame synthesis (3 temporally-shifted PPM frames per
    * doc), the planted frame-1 twin, per-frame dHash, the rotate-XOR
    * temporal signature, and the 4×12 banding. */
  private def videoOracleCtes: String = videoOracleCtes("1 = 1")
  private def videoOracleCtes(where: String): String =
    s"""geom AS (
      |  SELECT doc_id, n_chars, n_chars % 8 + 4 AS w, n_chars % 6 + 3 AS h, text
      |  FROM documents WHERE n_chars > 0 AND ($where)
      |), fr AS (
      |  SELECT doc_id, w, h, f,
      |    substr(repeat(text, (3*w*h) // n_chars + 2), f + 1, 3*w*h) AS px
      |  FROM geom, range(0, 3) r(f)
      |), fr2 AS (
      |  SELECT doc_id, w, h, f, px FROM fr
      |  UNION ALL
      |  SELECT doc_id + 1000000, w, h, f,
      |    CASE WHEN f = 1 THEN chr((ord(substr(px, 1, 1)) + 7) % 128) || substr(px, 2)
      |         ELSE px END AS px
      |  FROM fr WHERE doc_id % 10 = 0
      |), fdh AS (
      |  SELECT doc_id, f,
      |    list_sum(list_transform(range(0, 48), b ->
      |      CASE WHEN ${duckLum(duckP1)} > ${duckLum(duckP0)}
      |           THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS dh
      |  FROM fr2
      |), piv AS (
      |  SELECT doc_id,
      |    MAX(CASE WHEN f = 0 THEN dh END) AS dh0,
      |    MAX(CASE WHEN f = 1 THEN dh END) AS dh1,
      |    MAX(CASE WHEN f = 2 THEN dh END) AS dh2
      |  FROM fdh GROUP BY 1
      |), hs AS (
      |  SELECT doc_id,
      |    xor(xor(${rotDuck("dh0", 0)}, ${rotDuck("dh1", 5)}), ${rotDuck("dh2", 10)}) AS dh
      |  FROM piv
      |), bands AS (
      |  SELECT doc_id, dh, i AS band, (dh >> (12*i)) & 4095 AS bv
      |  FROM hs, range(0, 4) r(i)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.dh AS dh1, b.dh AS dh2
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
      |)""".stripMargin

  /** Deterministic fixed-format VIDEO payloads: 3 concatenated PPM
    * P6 frames per doc, frame f's pixels = the text byte stream
    * shifted by f (a panning clip) — the [[ppmTable]] device extended
    * to a frame SEQUENCE, so the container is self-describing and the
    * decoder below reads nothing but the payload column. */
  def videoTable(spark: SparkSession, dir: String) =
    videoFrames(Tables.documents(spark, dir))

  def videoFrames(docs: org.apache.spark.sql.DataFrame) =
    docs.filter(col("n_chars") > 0)
      .withColumn("w", (col("n_chars") % 8 + 4).cast("int"))
      .withColumn("h", (col("n_chars") % 6 + 3).cast("int"))
      .withColumn("rep", expr("repeat(text, 3*w*h div n_chars + 2)"))
      .select(col("doc_id"), expr(
        """CAST(concat_ws('', transform(sequence(0, 2), f ->
          |  concat('P6', chr(10), w, ' ', h, chr(10), '255', chr(10),
          |         substring(rep, f + 1, 3*w*h)))) AS BINARY)""".stripMargin)
        .as("payload"))

  /** Temporal signature per video (incl. the planted frame-1 twins)
    * over any documents frame: parse the 3-frame container (frame
    * length = shared header + 3·w·h, so slicing is pure offset
    * arithmetic), dHash each frame's pixels with the image grid, and
    * chain the frame hashes with rotate-XOR — frame ORDER is part of
    * the signature, a one-frame perceptual change stays Hamming-small
    * (the property banding needs). Staged lineage cuts for the
    * same interpreted-HOF reasons as [[imageHashes]]. */
  def videoHashes(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val frames = videoFramePx(videoFrames(docs))
      .select(col("doc_id"), col("w"), col("h"), col("f"), col("px"))
    val twins = frames.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + TwinOffset).as("doc_id"), col("w"), col("h"), col("f"),
        when(col("f") === 1,
          expr("concat(chr((ascii(substring(px, 1, 1)) + 7) % 128), substring(px, 2))"))
          .otherwise(col("px")).as("px"))
    chainSignature(frames.unionByName(twins))
  }

  /** Container parse over `(doc_id, payload)`: frame length = shared
    * header + 3·w·h, so slicing the 3 frames is pure offset
    * arithmetic over the decoded string — one row per (doc, frame)
    * with its pixel block. */
  private def videoFramePx(media: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    media
      .withColumn("s", col("payload").cast("string"))
      .withColumn("p1", expr("split_part(s, chr(10), 1)"))
      .withColumn("p2", expr("split_part(s, chr(10), 2)"))
      .withColumn("p3", expr("split_part(s, chr(10), 3)"))
      .withColumn("w", expr("CAST(split_part(p2, ' ', 1) AS INT)"))
      .withColumn("h", expr("CAST(split_part(p2, ' ', 2) AS INT)"))
      .withColumn("hdr", expr("length(p1) + length(p2) + length(p3) + 3"))
      .select(col("doc_id"), col("w"), col("h"), col("hdr"), col("s"),
        explode(expr("sequence(0, 2)")).as("f"))
      .select(col("doc_id"), col("w"), col("h"), col("f"),
        expr("substring(s, f * (hdr + 3*w*h) + hdr + 1, 3*w*h)").as("px"),
        expr("substring(s, f * (hdr + 3*w*h) + 1, 2) = 'P6'").as("magic_ok"),
        (length(col("s")) === lit(3) * (col("hdr") + expr("3*w*h"))).as("container_complete"))

  /** Per-FRAME video decode (`mm_video_decode`) — the third modality
    * PARSES like the first two: every frame's header magic validated
    * at its computed offset, container byte accounting, and
    * integer-exact per-frame luminance mass + mean — one codegen map
    * pass over the payload column, no shuffle before the
    * presentation sort ([[imageDecode]]'s shape per frame). */
  val videoDecode: Q = Q("mm_video_decode",
    s"""WITH geom AS (
      |  SELECT doc_id, n_chars, n_chars % 8 + 4 AS w, n_chars % 6 + 3 AS h, text
      |  FROM documents WHERE n_chars > 0
      |), fr AS (
      |  SELECT doc_id, w, h, f,
      |    substr(repeat(text, (3*w*h) // n_chars + 2), f + 1, 3*w*h) AS px
      |  FROM geom, range(0, 3) r(f)
      |)
      |SELECT doc_id, f AS frame_idx, TRUE AS magic_ok, TRUE AS container_complete,
      |  CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
      |  CAST(w*h AS INTEGER) AS n_pixels,
      |  CAST(list_sum(list_transform(range(1, 3*w*h + 1), i -> ord(substr(px, i, 1)))) AS BIGINT)
      |    AS lum_sum,
      |  ROUND(list_sum(list_transform(range(1, 3*w*h + 1), i -> ord(substr(px, i, 1))))
      |        / CAST(3*w*h AS DOUBLE), 6) AS mean_byte
      |FROM fr ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
    videoFramePx(videoTable(s, dir))
      .select(col("doc_id"), col("f").cast("long").as("frame_idx"),
        col("magic_ok"), col("container_complete"), col("w"), col("h"),
        expr("w*h").as("n_pixels"),
        expr("""aggregate(transform(split(px, ''), c -> CAST(ascii(c) AS BIGINT)),
               |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin).as("lum_sum"),
        expr("""ROUND(aggregate(transform(split(px, ''), c -> CAST(ascii(c) AS BIGINT)),
               |  CAST(0 AS BIGINT), (a, x) -> a + x) / CAST(3*w*h AS DOUBLE), 6)""".stripMargin)
          .as("mean_byte"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Per-doc video luminance stats for the learned media-quality
    * gate over raw `(doc_id, payload)` containers: `v_lum_mean` (mean
    * byte over ALL 3 frames' pixel blocks — `mm_video_decode`'s
    * `mean_byte` device rolled up per doc) and `v_lum_spread` (max −
    * min per-frame luminance MASS — integer-exact, so the
    * inter-frame variation a corrupt or static clip distorts is an
    * engine-portable fact). One codegen map pass + a per-doc groupBy
    * of 3 rows; no shuffle before the 3-row rollup's. */
  def videoLumStats(media: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    videoFramePx(media)
      .select(col("doc_id"), col("w"), col("h"),
        expr("""aggregate(transform(split(px, ''), c -> CAST(ascii(c) AS BIGINT)),
               |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin).as("lum_sum"))
      .groupBy(col("doc_id"))
      .agg(
        round(sum(col("lum_sum")).cast("double")
          / (lit(9.0) * first(col("w")) * first(col("h"))), 6).as("v_lum_mean"),
        (max(col("lum_sum")) - min(col("lum_sum"))).cast("double").as("v_lum_spread"))

  /** Per-frame dHash → rotate-XOR chain over `(doc_id, w, h, f, px)`
    * rows. Staged lineage cuts ([[imageHashes]] reasons). */
  private def chainSignature(frames: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val fdh = cutLineage(frames
      .select(col("doc_id"), col("f"), expr(dhashSparkExpr).as("dh")))
    cutLineage(fdh.groupBy(col("doc_id"))
      .agg(
        max(when(col("f") === 0, col("dh"))).as("dh0"),
        max(when(col("f") === 1, col("dh"))).as("dh1"),
        max(when(col("f") === 2, col("dh"))).as("dh2"))
      .select(col("doc_id"), expr(
        s"${rotSpark("dh0", 0)} ^ ${rotSpark("dh1", 5)} ^ ${rotSpark("dh2", 10)}")
        .as("dh")))
  }

  /** Parse + temporal signature over raw `(doc_id, payload)` video
    * containers — the decoder-facing entry (the spec feeds
    * hand-assembled containers through it). */
  def videoSignaturesOfPayloads(media: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    chainSignature(videoFramePx(media))

  def videoPairs(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    memoPairs(s, dir, "video", imageBands(videoHashesOf(s, dir)))

  /** Video near-duplicate detection — the THIRD modality face of the
    * banded-fingerprint contract: temporal rotate-XOR signature,
    * 4×12 banding, exact Hamming recheck, planted frame-perturbed
    * twins replayed end to end by the oracle. Same scale shape as
    * [[imageDedup]]/[[audioDedup]] (decode + hash are a map pass; the
    * band join ships 4 fixed-width rows per clip). */
  val videoDedup: Q = Q("mm_video_dedup",
    "WITH " + videoOracleCtes + s"""
      |SELECT d1, d2, CAST(bit_count(xor(dh1, dh2)) AS INTEGER) AS hamming
      |FROM cand WHERE bit_count(xor(dh1, dh2)) <= 3
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    videoPairs(s, dir).orderBy(col("d1"), col("d2"))
  }

  /** Video dedup DECIDED — [[imageClusters]] for the temporal
    * signature family: hash-to-min connected components over the
    * banded pair graph, min-id keeper, recursive-CTE oracle. The
    * third modality now parses, detects, AND decides. */
  val videoClusters: Q = Q("mm_video_clusters",
    "WITH RECURSIVE " + videoOracleCtes + s"""
      |, pairs AS (SELECT d1, d2 FROM cand WHERE bit_count(xor(dh1, dh2)) <= 3),
      |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
      |reach AS (
      |  SELECT src AS v, src AS lbl FROM edges
      |  UNION
      |  SELECT e.dst AS v, r.lbl FROM reach r JOIN edges e ON e.src = r.v),
      |comp AS (SELECT v AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY 1)
      |SELECT c.doc_id, c.cluster_id, n.sz AS cluster_size,
      |       (c.doc_id = c.cluster_id) AS is_keeper
      |FROM comp c JOIN (SELECT cluster_id, COUNT(*) AS sz FROM comp GROUP BY 1) n USING (cluster_id)
      |ORDER BY c.doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val cc = graft.queries.DedupGraph.connectedComponents(
      videoPairs(s, dir).select(col("d1"), col("d2")))
    val sz = Window.partitionBy(col("cluster_id"))
    cc.select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(sz))
      .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Frame sampling over the payload: fixed-stride 64-byte windows
    * exploded to one row per frame with per-frame digests — the
    * video-frame / audio-chunk extraction shape (the real decoder
    * swaps in at the same record boundary). Corpus is ASCII so the
    * char windows are byte windows; oracle checks count, size and
    * digest per frame. */
  val frameSample: Q = Q("mm_frame_sample",
    """SELECT doc_id, i AS frame_idx,
      |  length(substring(text, i*64 + 1, 64)) AS frame_bytes,
      |  md5(substring(text, i*64 + 1, 64)) AS frame_digest
      |FROM documents, generate_series(0, 9) g(i)
      |WHERE i*64 < n_chars
      |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        posexplode(expr("transform(sequence(0, 9), i -> substring(text, i*64 + 1, 64))"))
          .as(Seq("frame_idx", "frame")))
      .filter(col("frame_idx") * 64 < col("n_chars"))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        length(col("frame")).cast("long").as("frame_bytes"),
        md5(col("frame")).as("frame_digest"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Token-budget packing for media — the multimodal face of the
    * corpus-assembly pack stage: each record costs
    * `n_frames × 16` patch tokens (frame count = the same
    * `max(1, bytes/32)` rule [[extractFeatures]] uses), and records
    * pack greedily into 2048-token sequences per (format, shard).
    *
    * The SHARD (doc_id mod 4) is the parallel unit: packing needs a
    * running prefix sum, which is a per-partition sort — sharding
    * bounds every sort to |corpus|/shards and is how a 100 TB media
    * pack actually runs (per format × shard, then sequences are
    * globally unique via the shard prefix). Same plan family as
    * `text_pack_sequences`, which partitions by source. */
  val packBudget: Q = Q("mm_pack_budget",
    """WITH t AS (
      |  SELECT doc_id, doc_id % 4 AS shard,
      |    greatest(1, octet_length(CAST(text AS BLOB)) // 32) * 16 AS media_tokens
      |  FROM documents
      |), o AS (
      |  SELECT doc_id, shard, media_tokens,
      |    COALESCE(SUM(media_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |  FROM t
      |)
      |SELECT shard, CAST(off // 2048 AS BIGINT) AS seq_id,
      |  COUNT(*) AS n_items, CAST(SUM(media_tokens) AS BIGINT) AS seq_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM o GROUP BY 1, 2 ORDER BY shard, seq_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    mediaTable(s, dir).toDF()
      .select(col("doc_id"), (col("doc_id") % 4).as("shard"),
        (greatest(lit(1L), floor(length(col("payload")) / 32)) * 16)
          .cast("long").as("media_tokens"))
      .withColumn("off", coalesce(sum(col("media_tokens")).over(w), lit(0L)))
      .groupBy(col("shard"), floor(col("off") / 2048).as("seq_id"))
      .agg(count(lit(1)).as("n_items"), sum(col("media_tokens")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard"), col("seq_id"))
  }

  /** The alignment filter COMPOSED into the media pack — what a
    * LAION-style pipeline actually ships: only pairs that pass the
    * cosine gate flow, at their patch-token costs, into the
    * per-(shard) greedy 2048-token packing. Same plan family as
    * [[packBudget]] with one extra equi-join against the keep set
    * (corpus-scaled — no broadcast hint); the oracle replays
    * alignment scoring AND packing end to end, so a single flipped
    * keep decision shifts every later sequence boundary in its shard
    * and fails the hash. */
  val alignedPack: Q = Q("mm_aligned_pack",
    """WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
      |p AS (SELECT doc_id, doc_id % n.n AS img_ref,
      |        CASE WHEN doc_id % 10 = 7 THEN
      |          CASE WHEN (doc_id * 31 + 7) % n.n = doc_id % n.n
      |               THEN ((doc_id * 31 + 7) % n.n + 1) % n.n
      |               ELSE (doc_id * 31 + 7) % n.n END
      |             ELSE doc_id % n.n END AS cap_ref
      |      FROM documents, n),
      |z AS (SELECT p.doc_id,
      |        p.doc_id % len(ce.embedding) AS pj,
      |        unnest(ie.embedding) AS a, unnest(ce.embedding) AS b,
      |        generate_subscripts(ie.embedding, 1) AS i
      |      FROM p JOIN embeddings ie ON ie.vec_id = p.img_ref
      |             JOIN embeddings ce ON ce.vec_id = p.cap_ref),
      |z2 AS (SELECT doc_id, CAST(a AS DOUBLE) AS av,
      |        CASE WHEN i - 1 = pj THEN CAST(b AS DOUBLE) * 1.1
      |             ELSE CAST(b AS DOUBLE) END AS bv
      |       FROM z),
      |d AS (SELECT doc_id, SUM(av*bv) AS dot, SUM(av*av) AS na, SUM(bv*bv) AS nb
      |      FROM z2 GROUP BY 1),
      |keepset AS (SELECT doc_id FROM d WHERE dot/(sqrt(na)*sqrt(nb)) >= 0.9),
      |t AS (SELECT doc_id, doc_id % 4 AS shard,
      |        greatest(1, octet_length(CAST(text AS BLOB)) // 32) * 16 AS media_tokens
      |      FROM documents WHERE doc_id IN (SELECT doc_id FROM keepset)),
      |o AS (SELECT doc_id, shard, media_tokens,
      |        COALESCE(SUM(media_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |      FROM t)
      |SELECT shard, CAST(off // 2048 AS BIGINT) AS seq_id,
      |  COUNT(*) AS n_items, CAST(SUM(media_tokens) AS BIGINT) AS seq_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM o GROUP BY 1, 2 ORDER BY shard, seq_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val kept = alignScores(Tables.documents(s, dir), Tables.embeddings(s, dir))
      .filter(col("keep")).select(col("doc_id"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    mediaTable(s, dir).toDF()
      .join(kept, Seq("doc_id"))
      .select(col("doc_id"), (col("doc_id") % 4).as("shard"),
        (greatest(lit(1L), floor(length(col("payload")) / 32)) * 16)
          .cast("long").as("media_tokens"))
      .withColumn("off", coalesce(sum(col("media_tokens")).over(w), lit(0L)))
      .groupBy(col("shard"), floor(col("off") / 2048).as("seq_id"))
      .agg(count(lit(1)).as("n_items"), sum(col("media_tokens")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard"), col("seq_id"))
  }

  // ------------------------------------------------ interleaved mm emission
  /** The alignment-gated keep set as a spliceable oracle CTE chain
    * (no `WITH` prefix) — the [[alignedPack]] replay shared by the
    * interleaved emission oracles; `where` restricts the document
    * set (the forget certificate's reduced-corpus rebuild). */
  private[graft] def alignKeepCtes: String = alignKeepCtes("1 = 1")
  private[graft] def alignKeepCtes(where: String): String =
    s"""n AS (SELECT COUNT(*) AS n FROM embeddings),
      |p AS (SELECT doc_id, doc_id % n.n AS img_ref,
      |        CASE WHEN doc_id % 10 = 7 THEN
      |          CASE WHEN (doc_id * 31 + 7) % n.n = doc_id % n.n
      |               THEN ((doc_id * 31 + 7) % n.n + 1) % n.n
      |               ELSE (doc_id * 31 + 7) % n.n END
      |             ELSE doc_id % n.n END AS cap_ref
      |      FROM documents, n WHERE ($where)),
      |z AS (SELECT p.doc_id,
      |        p.doc_id % len(ce.embedding) AS pj,
      |        unnest(ie.embedding) AS a, unnest(ce.embedding) AS b,
      |        generate_subscripts(ie.embedding, 1) AS i
      |      FROM p JOIN embeddings ie ON ie.vec_id = p.img_ref
      |             JOIN embeddings ce ON ce.vec_id = p.cap_ref),
      |z2 AS (SELECT doc_id, CAST(a AS DOUBLE) AS av,
      |        CASE WHEN i - 1 = pj THEN CAST(b AS DOUBLE) * 1.1
      |             ELSE CAST(b AS DOUBLE) END AS bv
      |       FROM z),
      |dal AS (SELECT doc_id, SUM(av*bv) AS dot, SUM(av*av) AS na, SUM(bv*bv) AS nb
      |      FROM z2 GROUP BY 1),
      |keepset AS (SELECT doc_id FROM dal WHERE dot/(sqrt(na)*sqrt(nb)) >= 0.9)""".stripMargin

  /** Aligned media-caption docs with their interleaving costs:
    * `(doc_id, shard, media_tokens, text)` — the alignment gate
    * composed with the media patch-token cost rule. */
  private[graft] def mmEmitDocs(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    mmEmitDocsOf(Tables.documents(s, dir), Tables.embeddings(s, dir))

  /** [[mmEmitDocs]] over any documents frame — shared with the
    * streaming twin's per-micro-batch gate (stream-static equi-joins
    * against the fixed embedding store). The payload cost reads the
    * text's own bytes ([[mediaTable]]'s payload IS the utf-8 text). */
  private[graft] def mmEmitDocsOf(docs: org.apache.spark.sql.DataFrame,
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val kept = alignScores(docs, emb).filter(col("keep")).select(col("doc_id"))
    docs.join(kept, Seq("doc_id"))
      .select(col("doc_id"), (col("doc_id") % 4).as("shard"),
        (greatest(lit(1L), floor(length(col("text").cast("binary")) / 32)) * 16)
          .cast("long").as("media_tokens"),
        col("text"))
  }

  /** Caption tokenizer symbol table `(word, j, id)` over the FULL
    * raw caption vocabulary, memoized + persisted per (application,
    * sf dir) — the release artifact the interleaved dataloader
    * ships: the SAME trained BPE merges as the text emission
    * ([[graft.queries.TextOps.bpeSegments]]), segmenting the whole
    * corpus's caption vocabulary (pre-gate, like the merges
    * themselves), with content-derived sorted-rank symbol ids.
    * GATE-INDEPENDENT by construction: any gated/forgotten SUBSET of
    * captions is covered, so the alignment gate, a takedown, or a
    * gate flip can never surface an OOV or shift the id space.
    * Bounded by |alphabet| + merge rounds like every symbol table in
    * the family. */
  private val mmSymCache = graft.SessionCaches.memo[(org.apache.spark.sql.DataFrame, Long)]

  private[graft] def mmCaptionSymsStats(s: SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, Long) =
    mmSymCache(s, dir) {
      val words = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("word")).distinct()
      val seg = words.select(col("word"),
        posexplode(graft.queries.TextOps.bpeSegments(s, dir, col("word")))
          .as(Seq("j", "sym")))
      val symtab = seg.select(col("sym")).distinct()
        .withColumn("id", (row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("sym"))) - 1).cast("long"))
      // cut: joined into per-micro-batch plans in both gated mm streams
      val df = cutLineage(seg.join(broadcast(symtab), Seq("sym"))
        .select(col("word"), col("j").cast("long").as("j"), col("id"), col("sym")))
      (df, df.count())
    }

  /** The per-word symbol-COUNT lens `(word, nsym)` over the release
    * vocabulary, plus its exact row count, memoized + persisted:
    * every caption/transcript length computation joins it — per
    * MICRO-BATCH in both gated mm streams — so the groupBy is paid
    * once per session and the join side's size is KNOWN for the
    * broadcast gate below. */
  private val mmVocabLensCache = graft.SessionCaches.memo[(org.apache.spark.sql.DataFrame, Long)]

  private[graft] def mmVocabLensStats(s: SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, Long) =
    mmVocabLensCache(s, dir) {
      val (syms, _) = mmCaptionSymsStats(s, dir)
      val df = cutLineage(syms.groupBy(col("word")).agg(count(lit(1)).as("nsym")))
      (df, df.count())
    }

  /** Per-doc caption/transcript token-ID count against a vocabulary
    * lens frame, broadcast-GATED ([[graft.queries.TextOps.maybeBroadcast]]):
    * the per-word frame grows with the corpus VOCABULARY, so a hard
    * broadcast here is a 100× driver-OOM hazard — and this join runs
    * per micro-batch in both gated mm streams. Under the size bound
    * the hint applies; above it the plan degrades to a shuffle join
    * on the same key (pinned in ScaleTechniquesSpec). LEFT join +
    * loud raise: a word outside the release vocabulary must fail,
    * never silently shrink a window. */
  private[graft] def capIdLensSized(docs: org.apache.spark.sql.DataFrame,
      nsymPerWord: org.apache.spark.sql.DataFrame, estBytes: Long,
      kind: String): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(graft.queries.TextOps.maybeBroadcast(nsymPerWord, estBytes),
        Seq("word"), "left_outer")
      .select(col("doc_id"),
        when(col("nsym").isNotNull, col("nsym"))
          .otherwise(raise_error(concat(
            lit(s"$kind word missing from mm tokenizer vocabulary: "), col("word"))))
          .as("nsym"))
      .groupBy(col("doc_id")).agg(sum(col("nsym")).as("n_cap_ids"))

  /** Aligned docs POSITIONED on the interleaved token stream,
    * memoized + persisted: per-doc cost = media patch block + caption
    * id count, offsets via the two-level per-shard prefix sum
    * ([[graft.queries.TextOps.sourcePrefixSum]] with the shard as the
    * partition key — the prefix-sum upstream here carries a
    * vocab-keyed join, so the frame persists rather than re-paying it
    * per prefix-sum branch). */
  private val mmPosCache = graft.SessionCaches.memo[org.apache.spark.sql.DataFrame]

  private[graft] def mmEmitPositioned(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    mmPosCache(s, dir) {
      cutLineage(mmPositionOf(s, dir, mmEmitDocs(s, dir)))
    }

  /** Position any `(doc_id, shard, media_tokens, text)` aligned-docs
    * frame on the interleaved stream — shared by the batch query
    * (whole corpus) and the streaming twin's per-batch placement
    * (micro-batch + carried base offsets). */
  private[graft] def mmPositionOf(s: SparkSession, dir: String,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    mmPositionWithLens(docs, mmCapLensOf(s, dir, docs))

  /** Per-doc caption token-ID count against the release symbol table
    * — LEFT join + loud raise: a caption word outside the release
    * vocabulary must fail, never silently shrink a window. Split out
    * so a two-face streaming batch (aligned + gated) pays the vocab
    * join ONCE and positions each face against the shared lens
    * frame. */
  private[graft] def mmCapLensOf(s: SparkSession, dir: String,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val (nsymPerWord, nWords) = mmVocabLensStats(s, dir)
    capIdLensSized(docs, nsymPerWord, nWords * 16L, "caption")
  }

  /** Position an aligned-docs frame against a precomputed lens frame
    * (`(doc_id, n_cap_ids)` covering at least `docs`' ids). */
  private[graft] def mmPositionWithLens(docs: org.apache.spark.sql.DataFrame,
      lens: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.queries.TextOps.sourcePrefixSum(
      docs.join(lens, Seq("doc_id"))
        .select(col("shard").as("source"), col("doc_id"), col("media_tokens"),
          col("text"), (col("media_tokens") + col("n_cap_ids")).as("tot")),
      col("tot"))
      .withColumnRenamed("source", "shard")
      .select(col("shard"), col("doc_id"), col("start_off"),
        col("media_tokens"), col("text"), col("tot"))

  /** Patch-block contributions as RUN SLICES instead of one row per
    * patch token: a record's patch block occupies
    * [start_off, start_off + m) contiguously, so its contribution to
    * window k is an arithmetically-determined run of `P` tokens —
    * emitted as ONE row `(shard, pos, n, np, csv)` per (record,
    * overlapped window), where csv is the run's comma-joined
    * spelling. Row count drops from Σ patch tokens (the cost rule
    * gives ~16×⌈bytes/32⌉ ≈ 512 rows per 1 KB doc) to #records +
    * boundary crossings, and the aggregated window hash is
    * byte-identical because a slice's csv IS its tokens joined by
    * ',' (guide §2.3: shuffle run metadata, not per-token rows). */
  private def patchRunSlices(positioned: org.apache.spark.sql.DataFrame,
      mt: org.apache.spark.sql.Column, budget: Int): org.apache.spark.sql.DataFrame =
    positioned
      .select(col("shard"), col("start_off"), mt.as("m"))
      // m ≥ 16 by the cost rule (greatest(1, bytes/32) * 16 — engine
      // and every oracle CTE), so this filter never drops a record.
      // It exists to PIN the mt=0 edge: the old per-token
      // explode(sequence(0, m-1)) defaulted to step -1 for m=0 and
      // emitted two spurious 'P' rows; run arithmetic emits none —
      // the correct spelling of "no patch block" should the rule ever
      // admit zero-media records.
      .filter(col("m") > 0)
      .select(col("shard"), col("start_off"), col("m"),
        explode(sequence(floor(col("start_off") / budget),
          floor((col("start_off") + col("m") - 1) / budget))).as("win"))
      .select(col("shard"),
        greatest(col("start_off"), col("win") * budget).as("pos"),
        (least(col("start_off") + col("m"), (col("win") + 1) * budget)
          - greatest(col("start_off"), col("win") * budget)).as("n"))
      .select(col("shard"), col("pos"), col("n"), col("n").as("np"),
        array_join(array_repeat(lit("P"), col("n").cast("int")), ",").as("csv"))

  /** The per-WORD id encoding of the mm caption/transcript symbol
    * table — [[graft.queries.TextOps.wordEncOf]] over
    * [[mmCaptionSymsStats]]: `(word, ids_csv, nsym)` plus row count
    * and a broadcast-size estimate derived from Σ nsym. Memoized +
    * lineage-cut per session, vocabulary-bounded like the symbol
    * table itself. */
  private[graft] def mmCaptionWordEncStats(s: SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, Long, Long) =
    graft.queries.TextOps.wordEncOf(s, dir, "mmcap", mmCaptionSymsStats(s, dir))

  /** Caption token-ID contributions as WORD-RUN SLICES instead of one
    * row per BPE symbol — [[patchRunSlices]]' device applied to the
    * caption face (the text emission's per-word encoding one modality
    * up): token i's ids occupy the contiguous run
    * [cap_off + Σ nsym(tokens before i), +nsym), so its contribution
    * to window k is an arithmetically-determined fragment of its
    * ids_csv. The mm cuts place each ID at its own stream position,
    * so a word CAN straddle a window boundary — a straddling token
    * emits one slice per overlapped window (≤ 1 extra row per 2048
    * positions), each carrying the csv fragment of its side, and the
    * aggregated window hash stays byte-identical to the per-symbol
    * (pos, j) sort because fragments concatenate in position order.
    * Aggregation input drops from one row per symbol (~3-5× the
    * token count) to one per token (guide §2.3 — shuffle runs, not
    * rows). OOV stays LOUD: nsym is null only for a word outside the
    * release vocabulary, and both the window prefix-sum and the
    * slice bounds evaluate the checked column, so the raise fires
    * before any row could silently vanish. */
  private def captionRunSlices(enc: (org.apache.spark.sql.DataFrame, Long, Long),
      tokens: org.apache.spark.sql.DataFrame, partCols: Seq[String],
      budget: Int, kind: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (encDf, _, encBytes) = enc
    val wBefore = Window.partitionBy(partCols.map(col): _*).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, -1)
    tokens
      .join(graft.queries.TextOps.maybeBroadcast(encDf, encBytes),
        Seq("word"), "left_outer")
      .withColumn("nsym", when(col("nsym").isNotNull, col("nsym"))
        .otherwise(raise_error(concat(
          lit(s"$kind word missing from mm tokenizer vocabulary: "), col("word")))))
      .withColumn("pos0",
        col("cap_off") + coalesce(sum(col("nsym")).over(wBefore), lit(0L)))
      .select(col("shard"), col("pos0"), col("nsym"), col("ids_csv"),
        explode(sequence(floor(col("pos0") / budget),
          floor((col("pos0") + col("nsym") - 1) / budget))).as("win"))
      .select(col("shard"), col("pos0"), col("nsym"), col("ids_csv"),
        greatest(col("pos0"), col("win") * budget).as("pos"),
        (least(col("pos0") + col("nsym"), (col("win") + 1) * budget)
          - greatest(col("pos0"), col("win") * budget)).as("n"))
      .select(col("shard"), col("pos"), col("n"), lit(0L).as("np"),
        when(col("n") === col("nsym"), col("ids_csv"))
          .otherwise(array_join(slice(split(col("ids_csv"), ","),
            (col("pos") - col("pos0") + 1).cast("int"), col("n").cast("int")), ","))
          .as("csv"))
  }

  /** The (shard, window) aggregation over slice rows
    * `(shard, pos, n, np, csv)` — token counts sum the slice widths,
    * the window hash concatenates slice spellings in position order
    * (positions are globally unique per shard, so the sort is
    * total). */
  private def windowAggOfSlices(slices: org.apache.spark.sql.DataFrame,
      budget: Int): org.apache.spark.sql.DataFrame =
    slices
      .groupBy(col("shard"), floor(col("pos") / budget).cast("long").as("seq_id"))
      .agg(sum(col("n")).as("n_tokens"),
        sum(col("np")).as("n_patch"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("csv")))),
          x => x.getField("csv")), ",")).as("window_fp"))

  /** Cut the interleaved 2048-token windows of a positioned
    * aligned-docs frame: each doc contributes its media patch block
    * (`media_tokens` opaque patch tokens, spelled `P`) immediately
    * followed by its caption's BPE token-IDs; windows cut at token
    * 2048·k REGARDLESS of doc/modality boundaries and hash their
    * ordered token sequence — the multimodal dataloader contract,
    * the direct analog of the text emission's
    * [[graft.queries.TextOps.emitWindowsIds]].
    *
    * Scale shape: the patch contribution is [[patchRunSlices]] run
    * arithmetic (one row per record-window overlap, never per patch
    * token); caption ids are [[captionRunSlices]] word-run arithmetic
    * (one row per token, never per symbol) against the bounded
    * per-word encoding broadcast; the in-doc prefix sum is a per-DOC
    * window (≤ caption length rows per partition — bounded,
    * skew-free); the only corpus-width shuffles are that doc-keyed
    * exchange and the final (shard, window) aggregation, the
    * emission family's established shape. */
  private[graft] def mmEmitWindows(s: SparkSession, dir: String,
      positioned: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val patches = patchRunSlices(positioned, col("media_tokens"), 2048)
    val capIds = captionRunSlices(mmCaptionWordEncStats(s, dir),
      positioned.select(col("shard"), col("doc_id"),
        (col("start_off") + col("media_tokens")).as("cap_off"),
        posexplode(split(col("text"), " ")).as(Seq("i", "word"))),
      Seq("doc_id"), 2048, "caption")
    windowAggOfSlices(patches.unionByName(capIds), 2048)
  }

  /** The INTERLEAVED image-text training emission — the multimodal
    * dataloader contract: alignment-gated media-caption pairs flow,
    * in (shard, doc_id) order, onto one token stream per shard —
    * each doc's media patch block (n_frames × 16 opaque patch
    * tokens, the [[packBudget]] cost rule) immediately followed by
    * its caption's BPE token-IDs — and 2048-token windows cut at
    * fixed boundaries, identified by the hash of their ordered token
    * sequence. Composes [[alignedPack]]'s gate with the text
    * emission's tokenizer machinery one level up, exactly as
    * `text_curation_emit_ids` composes curation with BPE.
    *
    * The oracle replays the ENTIRE program: alignment scoring → keep
    * set → patch-token costs → the 16-round BPE train → caption
    * segmentation + sorted symbol ids → per-shard offsets → every
    * window's interleaved token hash. */
  /** The interleaved-emission oracle CTE chain through the positioned
    * `o` frame (alignment gate → patch costs → BPE train → caption
    * segmentation + sorted ids → per-shard offsets) — shared by the
    * window emission, the boundary manifest, and the forget
    * certificate (which re-instantiates it with a reduced-corpus
    * `where`). Takes the full `WITH` prefix. */
  private[graft] def mmEmitOracleCtes(where: String): String =
    "WITH " + alignKeepCtes(where) + ",\n" +
      graft.queries.TextOps.bpeOracleBody(graft.queries.TextOps.BpeRounds) + s""",
      |t AS (SELECT doc_id, doc_id % 4 AS shard,
      |        greatest(1, octet_length(CAST(text AS BLOB)) // 32) * 16 AS m, text
      |      FROM documents WHERE doc_id IN (SELECT doc_id FROM keepset)),
      |cw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
      |              generate_subscripts(string_split(text, ' '), 1) AS i FROM t),
      |dw AS (SELECT DISTINCT word FROM
      |         (SELECT unnest(string_split(text, ' ')) AS word FROM documents)),
      |d0 AS (SELECT word, '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS st FROM dw),
      |${(1 to graft.queries.TextOps.BpeRounds).map(r =>
          s"d$r AS (SELECT word, replace(st, ' ' || m.l || '  ' || m.r || ' '," +
            s" ' ' || m.l || m.r || ' ') AS st FROM d${r - 1}, m$r m)").mkString(",\n")},
      |dsym AS (SELECT word, unnest(string_split(trim(st), '  ')) AS sym,
      |         generate_subscripts(string_split(trim(st), '  '), 1) - 1 AS j
      |         FROM d${graft.queries.TextOps.BpeRounds}),
      |symtab AS (SELECT sym, CAST(ROW_NUMBER() OVER (ORDER BY sym) - 1 AS BIGINT) AS id
      |           FROM (SELECT DISTINCT sym FROM dsym)),
      |wid AS (SELECT word, j, id FROM dsym JOIN symtab USING (sym)),
      |cid AS (SELECT c.doc_id, c.i, w.j, w.id FROM cw c JOIN wid w USING (word)),
      |clen AS (SELECT doc_id, COUNT(*) AS c FROM cid GROUP BY 1),
      |cost AS (SELECT t.doc_id, t.shard, t.m, t.m + l.c AS tot
      |         FROM t JOIN clen l USING (doc_id)),
      |o AS (SELECT doc_id, shard, m, tot,
      |        COALESCE(SUM(tot) OVER (PARTITION BY shard ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |      FROM cost)""".stripMargin

  /** The window-face tail over [[mmEmitOracleCtes]]'s `o`/`cid`. */
  private[graft] def mmEmitWindowTail: String =
    """,
      |prow AS (SELECT shard, off + k - 1 AS pos, 'P' AS tok
      |         FROM (SELECT shard, off, unnest(generate_series(1, m)) AS k FROM o)),
      |crow AS (SELECT o.shard,
      |           o.off + o.m + ROW_NUMBER() OVER (PARTITION BY c.doc_id ORDER BY c.i, c.j) - 1 AS pos,
      |           CAST(c.id AS VARCHAR) AS tok
      |         FROM cid c JOIN o ON o.doc_id = c.doc_id),
      |ar AS (SELECT * FROM prow UNION ALL SELECT * FROM crow)
      |SELECT shard, CAST(pos // 2048 AS BIGINT) AS seq_id,
      |  COUNT(*) AS n_tokens,
      |  CAST(COUNT(*) FILTER (WHERE tok = 'P') AS BIGINT) AS n_patch,
      |  md5(string_agg(tok, ',' ORDER BY pos)) AS window_fp
      |FROM ar GROUP BY 1, 2 ORDER BY shard, seq_id""".stripMargin

  val mmEmitIds: Q = Q("mm_curation_emit_ids",
    mmEmitOracleCtes("1 = 1") + mmEmitWindowTail) { (s, dir) =>
    mmEmitWindows(s, dir, mmEmitPositioned(s, dir))
      .orderBy(col("shard"), col("seq_id"))
  }

  /** Per-window DOC-BOUNDARY manifest for the interleaved emission —
    * the attention/modality-mask contract one level up from
    * `text_emit_doc_bounds`: every window ships the window-local
    * offsets where a new media-caption RECORD starts (each record =
    * patch block + caption ids), so a multimodal dataloader can mask
    * cross-record attention and locate patch-block starts. Derives
    * from the positioned doc frame alone — one row per kept record,
    * never a token explode (the [[mmEmitIds]] oracle's `o` frame
    * without its `prow`/`crow` tail). */
  val mmEmitBounds: Q = Q("mm_emit_doc_bounds",
    mmEmitOracleCtes("1 = 1") + """
      |SELECT shard, CAST(off // 2048 AS BIGINT) AS seq_id,
      |  COUNT(*) AS n_docs_started,
      |  md5(string_agg(CAST(off % 2048 AS VARCHAR), ',' ORDER BY off)) AS bounds_fp
      |FROM o GROUP BY 1, 2 ORDER BY shard, seq_id""".stripMargin) { (s, dir) =>
    mmEmitBoundsOf(mmEmitPositioned(s, dir))
  }

  /** The [[mmEmitBounds]] rollup over any positioned frame — shared
    * by the batch query and the streaming twin's drained entries. */
  private[graft] def mmEmitBoundsOf(positioned: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    positioned
      .groupBy(col("shard"), floor(col("start_off") / 2048).cast("long").as("seq_id"))
      .agg(count(lit(1)).as("n_docs_started"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("start_off"),
            (col("start_off") % 2048).cast("string").as("local")))),
          x => x.getField("local")), ",")).as("bounds_fp"))
      .orderBy(col("shard"), col("seq_id"))

  /** Token-ID FREQUENCY table of the interleaved emission — the
    * unigram distribution the multimodal release ships beside its
    * shards: every caption symbol id's occurrence mass across the
    * kept records, plus the patch-token row (id −1, the opaque
    * `P` mass — Σ media patch tokens). Frequency-weighted like
    * `text_emit_id_freq`: the only corpus-scaled op is the kept-
    * caption word count (map-side combine on a vocab-bounded key);
    * the mass then rides the bounded symbol table — no per-token
    * explode at any corpus size. */
  val mmEmitIdFreq: Q = Q("mm_emit_id_freq",
    mmEmitOracleCtes("1 = 1") + """,
      |wc AS (SELECT word, COUNT(*) AS wc FROM cw GROUP BY 1),
      |idm AS (SELECT st.id, d.sym, CAST(SUM(c.wc) AS BIGINT) AS n_occurrences
      |        FROM dsym d JOIN symtab st USING (sym) JOIN wc c USING (word)
      |        GROUP BY 1, 2)
      |SELECT * FROM (
      |  SELECT CAST(-1 AS BIGINT) AS id, 'P' AS sym,
      |         CAST((SELECT SUM(m) FROM t) AS BIGINT) AS n_occurrences
      |  UNION ALL
      |  SELECT id, sym, n_occurrences FROM idm)
      |ORDER BY id""".stripMargin) { (s, dir) =>
    mmEmitIdFreqOf(s, dir, mmEmitPositioned(s, dir))
  }

  /** The [[mmEmitIdFreq]] rollup over any positioned frame — shared
    * by the batch query and the streaming twin's drained entries. */
  private[graft] def mmEmitIdFreqOf(s: SparkSession, dir: String,
      positioned: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    idFreqOverRecords(s, dir, positioned, col("media_tokens"), "caption")

  /** The id-frequency rollup over any RECORD frame carrying `text`
    * plus a patch-token count column — shared by the interleaved
    * (caption) and trimodal (transcript) releases and their stream
    * twins. Frequency-weighted: the only corpus-scaled op is the
    * per-record word count (map-side combine on a vocab-bounded key);
    * exploding `text` once per RECORD row is exactly the repeated-
    * transcript weighting the emission ships. */
  private[graft] def idFreqOverRecords(s: SparkSession, dir: String,
      records: org.apache.spark.sql.DataFrame, patchTokens: org.apache.spark.sql.Column,
      kind: String): org.apache.spark.sql.DataFrame = {
    val (syms, nSyms) = mmCaptionSymsStats(s, dir)
    val wc = records.select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
    val idm = wc
      .join(graft.queries.TextOps.maybeBroadcast(syms, nSyms * 48L),
        Seq("word"), "left_outer")
      .select(col("wc"), col("sym"),
        when(col("id").isNotNull, col("id"))
          .otherwise(raise_error(concat(
            lit(s"$kind word missing from mm tokenizer vocabulary: "), col("word"))))
          .as("id"))
      .groupBy(col("id"), col("sym"))
      .agg(sum(col("wc")).cast("long").as("n_occurrences"))
    records.agg(sum(patchTokens).cast("long").as("n_occurrences"))
      .select(lit(-1L).as("id"), lit("P").as("sym"), col("n_occurrences"))
      .unionByName(idm)
      .orderBy(col("id"))
  }

  /** A corpus state's interleaved emission as a parenthesized derived
    * table (the WITH-inside-derived-table device) — the forget
    * certificate instantiates it for both corpus states. */
  private def mmEmitWindowsSql(where: String): String =
    "(" + mmEmitOracleCtes(where) + mmEmitWindowTail + ")"

  /** One forget-lifecycle window world per (application, sf dir) —
    * owns its store (Reapable contract) and pins the lineage-cut
    * certificate artifacts (full/reduced emissions). */
  private final case class MmForgetWorld(store: graft.sources.FrameStore,
      before: org.apache.spark.sql.DataFrame,
      rebuilt: org.apache.spark.sql.DataFrame) extends graft.Reapable {
    def reapRoots: Seq[String] = Seq(store.root)
  }

  private val mmForgetMemo = graft.SessionCaches.memo[MmForgetWorld]

  /** The interleaved-emission takedown: every 20th doc ≡ 8 — a
    * residue whose docs are NON-plants (always alignment-kept), so
    * the forget genuinely reshapes windows; and 8 mod 4 = 0, so
    * exactly ONE shard is affected — the partition-pruned recompute
    * shape (`text_pack_forget`'s CowMerge argument). */
  private def mmForgotten(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    id % 20 === 8

  private def forgottenMmWorld(s: SparkSession, dir: String): MmForgetWorld =
    mmForgetMemo(s, dir) {
      val store = new graft.sources.FrameStore(
        graft.sources.Scratch.dir("graft-forget-mm-emit-").toString)
      // the full and reduced emissions are deterministic functions of
      // the corpus — materialize each ONCE (lineage-cut) and share
      // between the store lifecycle and the certificate (the cert's
      // substantive content is the UNTOUCHED-shard preservation and
      // gc durability, both checked against the store's own parquet)
      val before = cutLineage(mmEmitWindows(s, dir, mmEmitPositioned(s, dir)))
      store.publish(s, "mm_windows", before)
      // the forget, PROPAGATED: removal shifts every later record's
      // offsets IN ITS SHARD, so the whole affected shard recuts from
      // the reduced aligned set — untouched shards' rows stay AS-IS
      // (at 100 TB a takedown recomputes one shard, not the corpus).
      // The release symbol table is gate- and corpus-subset-
      // independent (full raw vocab), so untouched shards' id
      // sequences cannot drift under the rewrite.
      val affected = Tables.documents(s, dir).filter(mmForgotten(col("doc_id")))
        .select((col("doc_id") % 4).as("shard")).distinct()
      val reduced = mmEmitDocsOf(
        Tables.documents(s, dir).filter(!mmForgotten(col("doc_id"))),
        Tables.embeddings(s, dir))
      val rebuilt = cutLineage(mmEmitWindows(s, dir, mmPositionOf(s, dir, reduced)))
      store.rewrite(s, "mm_windows") { df =>
        df.join(broadcast(affected), Seq("shard"), "left_anti")
          .unionByName(rebuilt.join(broadcast(affected), Seq("shard")))
      }
      store.gc("mm_windows", keep = 0)
      MmForgetWorld(store, before = before, rebuilt = rebuilt)
    }

  /** Bench warm hook: build the forget world once, attributed. */
  private[graft] def warmMmEmitForget(s: SparkSession, dir: String): Unit = {
    forgottenMmWorld(s, dir); ()
  }

  /** Forget-propagation certificate for the INTERLEAVED emission —
    * `text_pack_forget`'s device one modality level up: a takedown of
    * a media-caption record invalidates every window shaped by it
    * (offsets shift through its shard), so after the affected-shard
    * rewrite + gc the promoted windows must be ROW-IDENTICAL to an
    * emission rebuilt from scratch on the reduced corpus. Counts are
    * oracle-recomputed through the FULL interleaved replay on both
    * corpus states; the equality boolean is TRUE in the oracle. */
  val mmEmitForget: Q = Q("mm_emit_forget",
    s"""SELECT
       |  (SELECT COUNT(*) FROM ${mmEmitWindowsSql("1 = 1")} t) AS n_windows_before,
       |  (SELECT COUNT(*) FROM ${mmEmitWindowsSql("doc_id % 20 <> 8")} t) AS n_windows_after,
       |  (SELECT COUNT(*) FROM documents WHERE doc_id % 20 = 8) AS n_docs_forgotten,
       |  (SELECT COUNT(DISTINCT doc_id % 4) FROM documents WHERE doc_id % 20 = 8)
       |    AS n_shards_affected,
       |  TRUE AS forget_equals_rebuild""".stripMargin) { (s, dir) =>
    val world = forgottenMmWorld(s, dir)
    val before = world.before
    val after = world.store.production(s, "mm_windows")
    val rebuilt = world.rebuilt
    val cols = Seq("n_tokens", "n_patch", "window_fp")
    val diff = after.as("a").join(rebuilt.as("r"), Seq("shard", "seq_id"), "full_outer")
      .filter(!cols.map(c => col(s"a.$c") <=> col(s"r.$c")).reduce(_ && _))
      .agg(count(lit(1)).as("n_diff"))
    before.agg(count(lit(1)).as("n_windows_before"))
      .crossJoin(broadcast(after.agg(count(lit(1)).as("n_windows_after"))))
      .crossJoin(broadcast(Tables.documents(s, dir).filter(mmForgotten(col("doc_id")))
        .agg(count(lit(1)).as("n_docs_forgotten"),
          countDistinct(col("doc_id") % 4).as("n_shards_affected"))))
      .crossJoin(broadcast(diff))
      .select(col("n_windows_before"), col("n_windows_after"),
        col("n_docs_forgotten"), col("n_shards_affected"),
        (col("n_diff") === 0).as("forget_equals_rebuild"))
  }

  /** One modality row of [[mediaCard]] from the memoized fingerprint
    * and pair frames — counting actions over already-persisted rows,
    * so the card is free once any dedup in the family has run. */
  private def cardRow(modality: String, hashes: org.apache.spark.sql.DataFrame,
                      pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val inDup = pairs.select(col("d1").as("id"))
      .unionByName(pairs.select(col("d2").as("id")))
      .distinct().agg(count(lit(1)).as("n_items_in_dup"))
    hashes.agg(count(lit(1)).as("n_items"))
      .crossJoin(pairs.agg(count(lit(1)).as("n_dup_pairs")))
      .crossJoin(inDup)
      .select(lit(modality).as("modality"), col("n_items"), col("n_dup_pairs"),
        col("n_items_in_dup"),
        round(col("n_items_in_dup") / col("n_items").cast("double"), 6).as("dup_rate"))
  }

  /** The per-modality section of the oracle card: each modality's own
    * CTE chain replays fingerprints + banded pairs inside a derived
    * table (names like `hs`/`cand` collide across modalities, so each
    * gets its own WITH scope). */
  private def cardSectionSql(modality: String, ctes: String, h: String): String =
    // no stripMargin HERE: the interpolated CTE fragments contain `||`
    // concatenations at line starts, which a second margin strip would
    // truncate to a single `|`
    "SELECT * FROM (\nWITH " + ctes + ",\n" +
      s"p AS (SELECT d1, d2 FROM cand WHERE bit_count(xor(${h}1, ${h}2)) <= 3),\n" +
      "ids AS (SELECT COUNT(DISTINCT id) AS n FROM (SELECT d1 AS id FROM p UNION ALL SELECT d2 FROM p))\n" +
      s"SELECT '$modality' AS modality,\n" +
      "  (SELECT COUNT(*) FROM hs) AS n_items,\n" +
      "  (SELECT COUNT(*) FROM p) AS n_dup_pairs,\n" +
      "  (SELECT n FROM ids) AS n_items_in_dup,\n" +
      "  ROUND((SELECT n FROM ids) / CAST((SELECT COUNT(*) FROM hs) AS DOUBLE), 6) AS dup_rate\n)"

  /** Media DATA CARD — the datasheet rollup for the multimodal side
    * (the [[graft.queries.TextOps.dataCard]] twin): per modality, the
    * fingerprinted item count (including the planted perturbed
    * twins), near-duplicate pair volume, distinct items implicated,
    * and the dup rate. All four facts come off the memoized
    * fingerprint/pair frames, so the card costs four counting actions
    * per modality once any dedup in the family has run — at 100 TB it
    * rides the dedup pass, never a second decode of the corpus. */
  val mediaCard: Q = Q("mm_data_card",
    Seq(cardSectionSql("image", imageOracleCtes, "dh"),
        cardSectionSql("audio", audioOracleCtes, "ah"),
        cardSectionSql("video", videoOracleCtes, "dh"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY modality")) { (s, dir) =>
    cardRow("image", imageHashesOf(s, dir), imagePairs(s, dir))
      .unionByName(cardRow("audio", audioHashesOf(s, dir), audioPairs(s, dir)))
      .unionByName(cardRow("video", videoHashesOf(s, dir), videoPairs(s, dir)))
      .orderBy(col("modality"))
  }

  val all: Seq[Q] = Seq(mediaMeta, mediaFeatures, frameSample, imageDecode, imageResize, imageDedup, imageClusters, audioDecode, audioDedup, audioClusters, videoDecode, videoDedup, videoClusters, captionAlign, alignedPack, packBudget, mmEmitIds, mmEmitBounds, mmEmitIdFreq, mmEmitForget, videoAlign, videoAlignedPack, audioAlign, trimodalPack, trimodalEmitIds, trimodalBounds, packEfficiency, packWholeRecords, trimodalIdFreq, trimodalShuffle, trimodalResume, trimodalEpochs, trimodalCurriculum, trimodalCurriculumComposite, trimodalForget, trimodalCard, jointDedup, jointDedupForget, mmSplitLeakage, mediaCard, mediaDrift, mediaDriftSeries)
}
