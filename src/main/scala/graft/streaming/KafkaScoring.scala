package graft.streaming

import graft.queries.FraudAnalytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The literal Kafka transport of the reference pipeline, as Spark
  * plans (S1/S2 made literal instead of analogical):
  *
  *  - producer value: the JSON payload
  *    `{transaction_id, event_time, amount, features{...}}`
  *    (`services/producer/app/producer.py:16-37`);
  *  - consumer: subscribe → JSON parse → score
  *    (`services/fraud_service/app/main.py:202-231`).
  *
  * Layering: [[scoredTransactions]] is the whole value path — Kafka
  * wire row → `from_json(CAST(value AS STRING))` → the SAME
  * [[FraudAnalytics.scored]] projection every batch query uses — and
  * is source-agnostic: it binds identically to the streaming Kafka
  * source, a memory stream, or a static frame with the wire schema
  * (that last one is how CI pins it — the sandbox has no broker and
  * no kafka connector jar). [[kafkaScoredStream]] is the one-line
  * production composition over `format("kafka")`.
  *
  * Scale: the plan after the source is a single stateless
  * WholeStageCodegen map stage — no shuffle — so throughput scales
  * with Kafka partitions alone, exactly like the file-source twin
  * ([[ScoringStream.scoredStream]]).
  */
object KafkaScoring {

  /** The fixed wire schema every spark-sql-kafka source row carries
    * (the connector's documented output columns). A static or memory
    * frame with this schema is plan-compatible with the real source. */
  val KafkaWireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** The producer's JSON value schema (`producer.py:16-35`; FIXTURES
    * B1): scalar fields + the free-form numeric feature map. */
  val TransactionSchema: StructType = StructType(Seq(
    StructField("transaction_id", StringType),
    StructField("event_time", TimestampType),
    StructField("amount", DoubleType),
    StructField("features", MapType(StringType, DoubleType))))

  /** One `from_json` per payload — both parse entry points go through
    * this single column so the dominant per-row cost is paid once. */
  private def withTx(wire: DataFrame): DataFrame =
    wire.select(from_json(col("value").cast("string"), TransactionSchema).as("tx"))

  /** Parsed-struct rows → transaction columns, dropping malformed
    * payloads (NULL struct / missing id) — the reference's "log and
    * skip" (`main.py:233-235`). */
  private def projectTx(parsed: DataFrame): DataFrame =
    parsed
      .filter(col("tx").isNotNull && col("tx.transaction_id").isNotNull)
      .select(col("tx.transaction_id").as("transaction_id"),
        col("tx.event_time").as("event_time"),
        col("tx.amount").as("amount"),
        col("tx.features").as("features"))

  /** Kafka wire rows → parsed transactions. */
  def parsedTransactions(wire: DataFrame): DataFrame = projectTx(withTx(wire))

  /** [[parsedTransactions]] with the skip counter riding the plan: an
    * `observe()` node counts total and unparseable payloads per
    * action/micro-batch (the P14 ingest metric for the Kafka
    * transport — same pattern as [[graft.queries.FraudAnalytics
    * .scoredWithIngestMetrics]]). The metric observes the
    * ALREADY-PARSED struct column, so the JSON parse still happens
    * exactly once per payload. */
  def parsedWithIngestMetrics(wire: DataFrame,
                              obs: org.apache.spark.sql.Observation): DataFrame =
    projectTx(withTx(wire).observe(obs,
      count(lit(1)).as("n_ingested"),
      sum(when(col("tx").isNull || col("tx.transaction_id").isNull, 1L).otherwise(0L))
        .as("n_skipped")))

  /** Full consumer value path: wire rows → parse → the SAME scoring
    * projection as the batch/file-source pipelines
    * ([[FraudAnalytics.scoredFrom]]) — one scoring definition across
    * batch, file-stream and Kafka-stream. The payload maps onto the
    * events shape (`event_time→ts`, `amount→value`); the scoring
    * feature comes straight from its already-parsed feature map (no
    * JSON round-trip, no lambda — the whole path stays
    * codegen-resident), with the events-table risk convention
    * `k` = 100 × merchant_risk (absent → 0.0, the P1 tolerant
    * default). */
  def scoredTransactions(wire: DataFrame): DataFrame =
    scoredParsed(parsedTransactions(wire))

  /** The scoring half of [[scoredTransactions]], over already-parsed
    * transaction rows — the entry point when the parse stage carries
    * extras (e.g. [[parsedWithIngestMetrics]]' observe node). This is
    * THE definition of the payload→events mapping and the risk
    * bridge; nothing else restates it. */
  def scoredParsed(parsed: DataFrame): DataFrame =
    FraudAnalytics.scoredFrom(
      parsed
        .withColumnRenamed("event_time", "ts")
        .withColumn("value", col("amount")),
      coalesce(element_at(col("features"), "merchant_risk"), lit(0.0)) * 100.0)

  /** The raw subscribed source — requires the spark-sql-kafka
    * connector on the classpath at plan time (`load()` resolves the
    * provider). `startingOffsets=earliest` mirrors the reference
    * consumer's `auto_offset_reset="earliest"` (`main.py:196`). */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()

  /** The production composition: `format("kafka")` → value parse →
    * scored columns. Identical downstream plan to
    * [[ScoringStream.scoredStream]]; sinks from [[ScoringStream]]
    * attach unchanged. */
  def kafkaScoredStream(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    scoredTransactions(kafkaSource(spark, bootstrap, topic))

  /** S3, the one-shot peek (`main.py:147-170`): BATCH read of the
    * topic, most recent parsed message, no commit — the batch Kafka
    * source reads a bounded offset range and commits nothing, so the
    * no-side-effect debug contract holds by construction. Batch reads
    * reject `startingOffsets=latest` (the range would be empty), so
    * the scan starts at `sinceMs` via startingOffsetsByTimestamp when
    * given — the production way to bound the peek to recent data —
    * and falls back to `earliest` (full-topic scan; debug-only)
    * otherwise. */
  def peekOne(spark: SparkSession, bootstrap: String, topic: String,
              sinceMs: Option[Long] = None): DataFrame = {
    val reader = spark.read
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
    val bounded = sinceMs match {
      case Some(ts) => reader
        .option("startingOffsetsByTimestamp", s"""{"$topic": $ts}""")
        // Without this, the default strategy ("error") fails the whole
        // read if ANY topic partition has no message at/after sinceMs —
        // and a quiet partition is normal for a recent timestamp.
        // "latest" makes such partitions contribute an empty range.
        .option("startingoffsetsbytimestampstrategy", "latest")
      case None     => reader.option("startingOffsets", "earliest")
    }
    parsedTransactions(
      bounded.load().orderBy(col("timestamp").desc, col("offset").desc).limit(1))
  }

  /** S1 producer side: scored (or synthetic) rows → Kafka sink shape.
    * `to_json(struct(..))` is byte-for-byte the reference producer's
    * value (`producer.py:37`, pinned by the `fraud_kafka_roundtrip`
    * oracle); keying by transaction id gives per-transaction ordering
    * within a partition. `df.writeStream.format("kafka")` accepts
    * exactly these two columns. */
  def toKafkaSinkShape(tx: DataFrame): DataFrame =
    tx.select(
      col("transaction_id").cast("string").cast("binary").as("key"),
      to_json(struct(col("transaction_id"), col("event_time"), col("amount"),
        col("features"))).cast("binary").as("value"))
}
