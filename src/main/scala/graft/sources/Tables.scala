package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver's parquet testdata (TESTDATA.md).
  *
  * The reference keeps its fact table in Postgres
  * (`scripts/db/init.sql:7-17`) and streams from Kafka; our engine's
  * native store is columnar parquet, read through the vectorized
  * reader so filters and column pruning push down to the scan
  * (the analog of the reference's btree indexes, `init.sql:19-21`).
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` has shipped as two physical types across testdata
    * generations: parquet TIMESTAMP(NANOS) (which Spark 4 refuses to
    * read as a timestamp — read as raw nanos via the legacy conf and
    * convert, exact because the generator emits µs-aligned values) and
    * plain TIMESTAMP(MICROS) without UTC adjustment (which Spark reads
    * natively as TIMESTAMP_NTZ). Normalize both to a session-tz
    * TimestampType — the session is pinned to UTC (GraftSession), so
    * the NTZ→LTZ cast preserves the stored wall-clock instant. The
    * legacy conf is one of `GraftSession.FormatConfs`, set when the
    * session is built or attached. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEvents(load(spark, dir, "events"))

  /** Normalize the `ts` column to TimestampType regardless of how the
    * file stored it (int64 nanos, TIMESTAMP_NTZ, or already LTZ). */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  /** Full events normalization: ts via [[normalizeTs]], integer/float
    * widths to the declared schema, and `props` back to a JSON string
    * if a future generation ships it pre-parsed (struct/map) — the
    * scoring pipeline's `from_json` expects the wire form. All casts
    * are no-ops on the current files. */
  def normalizeEvents(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val props = df.schema("props").dataType match {
      case StringType => col("props")
      case _          => to_json(col("props"))
    }
    normalizeTs(df).select(
      col("event_id").cast("long").as("event_id"),
      col("ts"),
      col("user_id").cast("long").as("user_id"),
      col("event_type").cast("string").as("event_type"),
      col("value").cast("double").as("value"),
      props.as("props"))
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  /** Corpus loaders, type-normalized the same way [[events]] is: the
    * driver has regenerated testdata with changed physical types
    * before (events.ts, round 10), and a silent int32/int64 or
    * float/double drift here would wipe the text/sim families the
    * same way. The casts are no-ops on the current files. */
  def documents(spark: SparkSession, dir: String): DataFrame =
    normalizeDocuments(load(spark, dir, "documents"))

  /** The documents normalization as a frame transform, so STREAMING
    * readers of documents.parquet (the stateless twins) apply the
    * identical casts as the batch loader — a physical-type drift must
    * move both sides together, never change a stream twin's output
    * schema while its batch oracle stays normalized. */
  def normalizeDocuments(df: DataFrame): DataFrame =
    df.select(
      col("doc_id").cast("long").as("doc_id"),
      col("text").cast("string").as("text"),
      col("lang").cast("string").as("lang"),
      col("source").cast("string").as("source"),
      col("n_chars").cast("long").as("n_chars"))
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    normalizeEmbeddings(load(spark, dir, "embeddings"))

  /** The embeddings normalization as a frame transform, for streaming
    * readers of embeddings.parquet (the ANN serving twin) — same
    * rationale as [[normalizeDocuments]]. */
  def normalizeEmbeddings(df: DataFrame): DataFrame =
    df.select(
      col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<float>").as("embedding"),
      col("label").cast("int").as("label"))

  /** Spread a small scan across all cores before a CPU-heavy per-row
    * stage (shingling, signature computation). At production scale the
    * input has more splits than cores and this is a no-op (guarded on
    * the scan's partition count); on the local testdata each table is
    * one small file → one task, which would serialize the per-row work
    * no matter how many executor threads exist. */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // the probe builds the scan RDD to read its true partition count —
    // a file-count probe would be cheaper but is NOT a proxy for it
    // (the scan bin-packs small files into few partitions, exactly the
    // case fanOut must widen). The build is planning-time only (no
    // job); the memoized-cache callers pay it once per session, the
    // per-query callers (incremental/bloom decontamination, the
    // direct dedup APIs) pay milliseconds per invocation.
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }
}
