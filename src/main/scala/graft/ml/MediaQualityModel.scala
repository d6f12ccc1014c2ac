package graft.ml

import graft.Q
import graft.multimodal.Multimodal
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Learned MEDIA-quality classifier — [[QualityModel]]'s device over
  * the decode stats the media pipeline already computes: a linear
  * model over the per-doc image channel means (PPM decode), audio
  * peak/RMS (WAV decode), clip duration, AND the video decode's
  * luminance stats (whole-clip mean byte + inter-frame luminance
  * spread — the corrupt-/static-video signal) scores each doc's
  * media side, and the trimodal release keeps the high-score tail
  * BESIDE the transcript gate — the image/audio/video-quality filter
  * a LAION-style multimodal curation stack runs next to its text
  * filter. All THREE modality decodes feed the gate: a clip whose
  * video frames are broken can no longer pass on image+audio stats
  * alone.
  *
  * Certified with the [[MlCert]] exactness machinery: the label comes
  * from a replayable latent over the DECODE STATS (each one a
  * ROUND(…, 6) fact both engines already hash-agree on in
  * `mm_image_decode` / `mm_audio_decode`) vs md5 noise, the 75/25
  * split is an md5 bucket, and DuckDB recomputes the test-set counts
  * and the exact Mann-Whitney AUC of the latent through its OWN
  * decode replay; the Spark-only LR facts ride as pinned booleans.
  *
  * Scale shape: features are one decode map-pass per modality (no
  * shuffle — the stats are per-doc column programs; the video rollup
  * groups 3 rows per doc), the fit collapses a bounded 8-feature
  * training frame, and serving is a 9-row broadcast join + sigmoid —
  * at 100 TB the feature store is computed at ingest and the gate is
  * a map-side join, exactly how the streaming gate consumes it. */
object MediaQualityModel {

  /** Held-out AUC the LR must clear — the latent dominates its
    * noise (spread ±~2 vs noise ±0.5), so the fit lands well above;
    * gate set with margin so a regenerated corpus doesn't flake. */
  val AucGate = 0.7

  val ModelName = "media_quality_lr"

  /** Feature order IS the closed-form index space (idx 0..7). */
  val FeatureNames: Seq[String] =
    Seq("mean_r", "mean_g", "mean_b", "peak_l", "rms_l", "duration_ms",
      "v_lum_mean", "v_lum_spread")

  /** Closed-form indices of the video features — the certificate's
    * flips-only-video leg zeroes exactly these to prove the video
    * side of the gate is load-bearing. */
  val VideoFeatureIdx: Seq[Int] =
    Seq("v_lum_mean", "v_lum_spread").map(FeatureNames.indexOf)

  /** Per-doc media decode stats, memoized + persisted — the static
    * feature store the batch gate and the streaming gate both join
    * (the `Tables.embeddings` stream-static pattern: decode happens
    * at ingest, gating reads the store). */
  private val statsMemo = graft.SessionCaches.memo[DataFrame]

  def mediaStats(s: SparkSession, dir: String): DataFrame =
    statsMemo(s, dir) {
      // The peak/RMS columns scan every audio sample (the one decode
      // path column pruning can't cheapen), and the corpus arrives as
      // one small parquet split — without a repartition the whole
      // scan runs in a SINGLE task (measured 14.5 s serial at sf0.1,
      // and a one-core ingest decode at 100 TB). The decode is
      // embarrassingly parallel; spread it before the heavy
      // expressions, then the tiny per-doc stat rows join.
      val par = s.sparkContext.defaultParallelism
      val img = Multimodal.decodePpm(Multimodal.ppmTable(s, dir).repartition(par))
        .select(col("doc_id"), col("mean_r"), col("mean_g"), col("mean_b"))
      val au = Multimodal.decodeWav(Multimodal.wavTable(s, dir).repartition(par))
        .select(col("doc_id"), col("peak_l").cast("double").as("peak_l"),
          col("rms_l"), col("duration_ms"))
      val vid = Multimodal.videoLumStats(Multimodal.videoTable(s, dir).repartition(par))
      val df = img.join(au, Seq("doc_id")).join(vid, Seq("doc_id")).persist()
      df.count()
      df
    }

  /** Deterministic labeled media: replayable latent over the decode
    * stats + md5 noise label + md5 split bucket — [[QualityModel
    * .labeledDocs]]'s device with media features. The latent is a
    * left-assoc double chain over ROUND(…, 6) inputs, so both engines
    * compute the bit-identical value. */
  def labeledMedia(s: SparkSession, dir: String): DataFrame =
    mediaStats(s, dir)
      .withColumn("u", MlCert.hashFrac("mqlabel:", col("doc_id")))
      .withColumn("latent",
        lit(0.08) * col("mean_r") + lit(0.5) * col("rms_l")
          + lit(0.02) * col("duration_ms") + lit(0.2) * col("v_lum_mean")
          + lit(0.02) * col("v_lum_spread") - lit(77.45))
      .withColumn("label", (col("latent") > lit(1.0) * (col("u") - lit(0.5))).cast("double"))
      .withColumn("bucket", (MlCert.hashLong("mqsplit:", 4, col("doc_id")) % 100).cast("int"))

  /** The media-feature CTE chain in DuckDB spelling, ending in
    * `mlab(doc_id, …features…, u, bucket, latent, label)` — kept in
    * lockstep with [[mediaStats]]/[[labeledMedia]] via the SAME
    * decode spellings the green `mm_image_decode`/`mm_audio_decode`
    * oracles use. */
  private[graft] val labeledMediaSql: String = {
    // byte p (1-based) of the WAV payload's hex image
    def byteAt(p: String) = s"CAST(('0x' || substr(hx, 2*($p) - 1, 2)) AS INTEGER)"
    def leHex(e: String, n: Int) = (0 until n).map { k =>
      val shift = if (k == 0) s"($e)" else s"(($e) // ${1L << (8 * k)})"
      s"lpad(hex($shift % 256), 2, '0')"
    }.mkString(" || ")
    s"""mg AS (
      |  SELECT doc_id, n_chars, n_chars % 8 + 4 AS w, n_chars % 6 + 3 AS h,
      |         CAST(1 + doc_id % 2 AS INTEGER) AS ch, n_chars AS frames, text
      |  FROM documents WHERE n_chars > 0
      |), mpx AS (
      |  SELECT doc_id, w, h,
      |    substr(repeat(text, (3*w*h) // n_chars + 1), 1, 3*w*h) AS px FROM mg
      |), mimg AS (
      |  SELECT doc_id,
      |    ROUND(list_sum(list_transform(range(0, w*h), i -> ord(substr(px, 3*i + 1, 1))))
      |          / CAST(w*h AS DOUBLE), 6) AS mean_r,
      |    ROUND(list_sum(list_transform(range(0, w*h), i -> ord(substr(px, 3*i + 2, 1))))
      |          / CAST(w*h AS DOUBLE), 6) AS mean_g,
      |    ROUND(list_sum(list_transform(range(0, w*h), i -> ord(substr(px, 3*i + 3, 1))))
      |          / CAST(w*h AS DOUBLE), 6) AS mean_b
      |  FROM mpx
      |), me AS (
      |  SELECT doc_id,
      |    '52494646' || ${leHex("36 + frames * ch", 4)} || '57415645'
      |    || '666D7420' || ${leHex("16", 4)} || ${leHex("1", 2)} || ${leHex("ch", 2)}
      |    || ${leHex("8000", 4)} || ${leHex("8000 * ch", 4)}
      |    || ${leHex("ch", 2)} || ${leHex("8", 2)}
      |    || '64617461' || ${leHex("frames * ch", 4)}
      |    || hex(encode(substr(repeat(text, (frames * ch) // n_chars + 1), 1, frames * ch))) AS hx
      |  FROM mg
      |), mau AS (
      |  SELECT doc_id,
      |    CAST((${byteAt("23")} + 256 * ${byteAt("24")}) AS INTEGER) AS n_channels,
      |    (${byteAt("41")} + 256 * ${byteAt("42")} + 65536 * ${byteAt("43")}
      |      + 16777216 * ${byteAt("44")}) AS data_size,
      |    hx
      |  FROM me
      |), mau2 AS (
      |  SELECT doc_id,
      |    CAST(list_max(list_transform(range(0, data_size // n_channels),
      |      i -> ${byteAt("45 + i * n_channels")})) AS DOUBLE) AS peak_l,
      |    ROUND(sqrt(list_sum(list_transform(range(0, data_size // n_channels),
      |      i -> CAST(${byteAt("45 + i * n_channels")} AS DOUBLE) ** 2))
      |      / (data_size // n_channels)), 6) AS rms_l,
      |    ROUND(CAST(data_size // n_channels AS DOUBLE) * 1000 / 8000, 6) AS duration_ms
      |  FROM mau
      |), mfr AS (
      |  SELECT doc_id, w, h, f,
      |    substr(repeat(text, (3*w*h) // n_chars + 2), f + 1, 3*w*h) AS px
      |  FROM mg, range(0, 3) r(f)
      |), mvl AS (
      |  SELECT doc_id, w, h,
      |    CAST(list_sum(list_transform(range(1, 3*w*h + 1), i -> ord(substr(px, i, 1)))) AS BIGINT)
      |      AS lum_sum
      |  FROM mfr
      |), mvagg AS (
      |  SELECT doc_id,
      |    ROUND(CAST(SUM(lum_sum) AS DOUBLE) / (9.0 * ANY_VALUE(w) * ANY_VALUE(h)), 6)
      |      AS v_lum_mean,
      |    CAST(MAX(lum_sum) - MIN(lum_sum) AS DOUBLE) AS v_lum_spread
      |  FROM mvl GROUP BY doc_id
      |), mfeat AS (
      |  SELECT * FROM mimg JOIN mau2 USING (doc_id) JOIN mvagg USING (doc_id)
      |), mlab AS (
      |  SELECT *,
      |    CAST(('0x' || substr(md5('mqlabel:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |      / CAST(4294967296.0 AS DOUBLE) AS u,
      |    CAST(CAST(('0x' || substr(md5('mqsplit:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100 AS INTEGER) AS bucket,
      |    CAST(0.08 AS DOUBLE) * mean_r + CAST(0.5 AS DOUBLE) * rms_l
      |      + CAST(0.02 AS DOUBLE) * duration_ms + CAST(0.2 AS DOUBLE) * v_lum_mean
      |      + CAST(0.02 AS DOUBLE) * v_lum_spread - CAST(77.45 AS DOUBLE) AS latent
      |  FROM mfeat
      |), mlab2 AS (
      |  SELECT *,
      |    CASE WHEN latent > CAST(1.0 AS DOUBLE) * (u - CAST(0.5 AS DOUBLE))
      |         THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS label
      |  FROM mlab
      |)""".stripMargin
  }

  /** The LR fit on the md5-bucketed training split, memoized per
    * (application, sf dir). */
  private val lrMemo = graft.SessionCaches.memo[org.apache.spark.ml.PipelineModel]

  private def fittedPipeline(s: SparkSession, dir: String): org.apache.spark.ml.PipelineModel =
    lrMemo(s, dir) {
      val tr = labeledMedia(s, dir).filter(col("bucket") < 75)
      new Pipeline().setStages(Array(
        new VectorAssembler().setInputCols(FeatureNames.toArray)
          .setOutputCol("features"),
        new LogisticRegression().setMaxIter(100).setLabelCol("label")))
        .fit(tr.coalesce(1))
    }

  /** Closed-form export: one `(idx, coef)` row per feature
    * (idx = position in [[FeatureNames]]) plus the intercept at
    * idx −1 — the model as a 9-row frame, inference a broadcast
    * join + sigmoid with no MLlib at serving time. */
  private val fitMemo = graft.SessionCaches.memo[DataFrame]

  def closedForm(s: SparkSession, dir: String): DataFrame =
    fitMemo(s, dir) {
      val lr = fittedPipeline(s, dir).stages.collectFirst {
        case m: org.apache.spark.ml.classification.LogisticRegressionModel => m
      }.get
      import s.implicits._
      val rows = lr.coefficients.toArray.toSeq.zipWithIndex
        .map { case (c, i) => (i, c) } :+ (-1, lr.intercept)
      val df = rows.toDF("idx", "coef").persist()
      df.count()
      df
    }

  /** Closed-form scoring over a feature frame carrying doc_id + the
    * [[FeatureNames]] columns: margin = Σ coef·feature + intercept in
    * DECIMAL(38,18) (order-independent — batch and stream produce the
    * bit-identical proba), the coef side is 9 rows BY CONSTRUCTION,
    * the missing-intercept failure is loud. Returns (doc_id, proba). */
  def scoreClosedForm(feats: DataFrame, model: DataFrame): DataFrame = {
    val coefs = model.filter(col("idx") >= 0)
    val intercept = model.filter(col("idx") === -1)
      .agg(first(col("coef")).as("icept"))
    val margins = feats.select(col("doc_id"),
        posexplode(array(FeatureNames.map(n => col(n).cast("double")): _*))
          .as(Seq("idx", "f")))
      .join(broadcast(coefs), Seq("idx"))
      .groupBy(col("doc_id"))
      .agg(sum((col("f") * col("coef"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 18))).as("margin"))
    feats.select(col("doc_id"))
      .join(margins, Seq("doc_id"), "left_outer")
      .crossJoin(broadcast(intercept))
      .select(col("doc_id"),
        (lit(1.0) / (lit(1.0) +
          exp(-(coalesce(col("margin").cast("double"), lit(0.0))
            + when(col("icept").isNotNull, col("icept"))
              .otherwise(raise_error(
                lit("media quality model artifact has no intercept row (idx = -1)")))))))
          .as("proba"))
  }

  /** Per-doc media-keep decision frame under `model` — the docs whose
    * media side the gate retains. Docs WITHOUT decode stats (none in
    * this corpus — every doc has text bytes) would default-keep via
    * the caller's join shape. */
  def mediaKeepIds(s: SparkSession, dir: String, docIds: DataFrame,
                   model: DataFrame): DataFrame =
    scoreClosedForm(mediaStats(s, dir).join(docIds, Seq("doc_id")), model)
      .filter(col("proba") >= 0.5).select(col("doc_id"))

  /** MEDIA-QUALITY MODEL CERTIFICATE — the [[MlCert]] device on the
    * decode-stat feature space: DuckDB independently replays ALL
    * THREE decodes (PPM channel means; WAV peak/RMS/duration through
    * the hex image; per-frame video luminance mass through the
    * 3-frame container replay), the md5 label/noise/split arithmetic,
    * the test-set counts, and the exact Mann-Whitney AUC of the
    * latent scorer; the LR's held-out AUC over the 8 decode features
    * rides as a pinned boolean. */
  val mediaQualityCert: Q = Q("mm_media_quality_model",
    "WITH " + labeledMediaSql + """,
      |mte AS (SELECT * FROM mlab2 WHERE bucket >= 75),
      |mranked AS (SELECT label, latent, row_number() OVER (ORDER BY latent) AS rn FROM mte),
      |mtied AS (SELECT label, AVG(rn) OVER (PARTITION BY latent) AS r FROM mranked)
      |SELECT (SELECT COUNT(*) FROM mlab2) AS n_total,
      |  COUNT(*) AS n_test,
      |  CAST(SUM(label) AS BIGINT) AS n_pos_test,
      |  CAST(COUNT(*) - SUM(label) AS BIGINT) AS n_neg_test,
      |  ROUND((SUM(CASE WHEN label = 1.0 THEN r END) - (SUM(label) * (SUM(label) + 1.0)) / 2.0)
      |        / (SUM(label) * (COUNT(*) - SUM(label))), 6) AS bayes_auc_test,
      |  TRUE AS lr_auc_ge_gate
      |FROM mtied""".stripMargin) { (s, dir) =>
    val data = labeledMedia(s, dir).cache()
    val te = data.filter(col("bucket") >= 75)
    val model = fittedPipeline(s, dir)
    val scoredTe = model.transform(te)
      .withColumn("proba", vector_to_array(col("probability")).getItem(1))
    val lrAuc = MlCert.rankAuc(scoredTe, "proba")
    val bayesAuc = MlCert.rankAuc(te, "latent")
    val nTotal = data.count()
    val nTest = te.count()
    val nPos = te.agg(coalesce(sum(col("label")), lit(0.0))).head().getDouble(0).toLong
    import s.implicits._
    Seq((nTotal, nTest, nPos, nTest - nPos, bayesAuc, lrAuc >= AucGate))
      .toDF("n_total", "n_test", "n_pos_test", "n_neg_test", "bayes_auc_raw", "lr_auc_ge_gate")
      .select(col("n_total"), col("n_test"), col("n_pos_test"), col("n_neg_test"),
        round(col("bayes_auc_raw"), 6).as("bayes_auc_test"), col("lr_auc_ge_gate"))
  }

  val all: Seq[Q] = Seq(mediaQualityCert)
}
