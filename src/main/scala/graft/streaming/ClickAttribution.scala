package graft.streaming

import java.nio.file.Files

import graft.{GraftSession, Q}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-stream interval join: the streaming twin of the batch
  * as-of attribution (`FraudAnalytics.clickAttribution`), bounded the
  * way a real-time attributor must be — each purchase matched to
  * clicks by the same user within the PRECEDING 30 MINUTES, then the
  * latest such click wins.
  *
  * Spark shape (the canonical stream-stream join recipe):
  *
  *   clicks    ──watermark 1h──┐
  *                             ├── inner join ON user_id +
  *   purchases ──watermark 1h──┘     ts-30min ≤ click_ts < ts
  *
  *  - Both sides carry event-time watermarks; with the interval
  *    condition Spark derives the state-retention bound per side
  *    (a click can only ever match purchases up to 30 minutes after
  *    it, so click state older than watermark+30min is evicted —
  *    bounded state at ANY input volume, the at-scale requirement).
  *  - INNER join pairs emit as soon as both rows arrive — output is
  *    not gated on watermark finalization, so a bounded AvailableNow
  *    backfill emits every pair, including the final hour's.
  *  - The one-winner cut (latest click per purchase) runs on the
  *    landed pairs: keyed `max_by` over (click_ts, click_id) — a
  *    deterministic total order. Keeping the argmax OUT of the
  *    streaming graph avoids chaining a stateful aggregate behind the
  *    join, whose append-mode finalization would hold back the last
  *    watermark-window of results on a bounded run.
  *
  * Purchases with no click in-window carry no attribution signal and
  * are dropped (inner join) — the batch as-of twin emits them with a
  * NULL click instead; both semantics are standard, and the oracle
  * pins this one exactly.
  */
object ClickAttribution {

  /** Clicks/purchases split of the raw event stream, joined on user
    * with the 30-minute interval bound. Unbounded streaming plan.
    *
    * `joinType = "leftOuter"` keeps unattributed purchases: Spark
    * holds the purchase in join state until the click-side watermark
    * proves no click with `click_ts < ts` can still arrive (i.e. the
    * global watermark passes `ts`), then evicts it null-extended —
    * the state-eviction path VERDICT task 7 asks to exercise. */
  def joinedPairs(spark: SparkSession, dir: String,
      joinType: String = "inner"): DataFrame = {
    val clicks = ScoringStream.eventsStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = ScoringStream.eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
      .withWatermark("ts", "1 hour")
    purchases.join(clicks,
      col("click_user") === col("user_id") &&
        col("click_ts") < col("ts") &&
        col("click_ts") >= col("ts") - expr("INTERVAL 30 MINUTES"),
      joinType)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("click_id"), col("click_ts"))
  }

  /** Run the bounded backfill: land joined pairs, then the
    * latest-click-wins cut per purchase. Inner-join output isn't
    * watermark-gated, so the trailing no-data batch (it exists to
    * finalize append-mode state only) is skipped. */
  def runAttribution(spark: SparkSession, dir: String): DataFrame =
    latestClick(landedPairs(spark, dir, "inner",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))

  /** LEFT OUTER attribution: every purchase lands, with NULL click
    * columns when no click preceded it within 30 minutes.
    *
    * Unlike the inner variant, null-extended rows are emitted only
    * when the join state is EVICTED — a purchase at `ts` finalizes
    * once the global watermark (min over both sides of max event time
    * − 1 h) passes `ts`, because only then can no matching click
    * still arrive. On a bounded AvailableNow run the trailing no-data
    * micro-batch advances the watermark to its final value, so every
    * purchase older than `min(max click_ts, max purchase_ts) − 1 h`
    * is finalized; purchases inside that trailing horizon are still
    * held in state when the stream stops. The query output (and its
    * oracle) therefore keeps matched rows unconditionally and
    * null-extended rows only below the replayable horizon, with a
    * 1-second guard band so millisecond open/closed-boundary
    * conventions inside the eviction predicate can never flip a row
    * across the cut. */
  def runAttributionLeftOuter(spark: SparkSession, dir: String): DataFrame = {
    // NOTE: no-data micro-batches stay ENABLED here — the trailing
    // no-data batch is precisely what advances the watermark and
    // flushes the null-extended evictions the inner variant skips.
    val pairs = landedPairs(spark, dir, "leftOuter")
    // Replay the eventual global watermark from the bounded input: a
    // 1-row broadcast anchor (same pattern as the anchored P6
    // queries), never a driver-side loop.
    val ev = graft.sources.Tables.events(spark, dir)
    val horizon = ev.agg(
      (least(
        max(when(col("event_type") === "click", col("ts"))),
        max(when(col("event_type") === "purchase", col("ts"))))
        - expr("INTERVAL 1 HOUR") - expr("INTERVAL 1 SECOND")).as("horizon"))
    latestClick(pairs.crossJoin(broadcast(horizon))
      .filter(col("click_id").isNotNull || col("ts") < col("horizon")))
  }

  /** Drain [[joinedPairs]] once into a fresh parquet dir, with `confs`
    * on the drain's session, and read the landed pairs back. Join
    * state lives per shuffle partition (one store pair per partition
    * per batch); a handful beats the session default for the bounded
    * backfill, same tuning as the daily-metrics stream. The read-back
    * carries the pairs' schema: a run that joins zero pairs writes no
    * data files, and a schema-less read would fail with
    * unable-to-infer instead of returning the correct empty frame. */
  private def landedPairs(spark: SparkSession, dir: String, joinType: String,
      confs: (String, String)*): DataFrame = {
    val out = Files.createTempDirectory("graft-attr-out-").toString + "/pairs"
    val schema = GraftSession.scoped(spark,
        ("spark.sql.shuffle.partitions" -> "4") +: confs: _*) { s =>
      val pairs = joinedPairs(s, dir, joinType)
      Drain.run(pairs.writeStream.format("parquet").option("path", out),
        Files.createTempDirectory("graft-attr-ckpt-").toString)
      pairs.schema
    }
    spark.read.schema(schema).parquet(out)
  }

  /** The latest-click-wins cut per purchase: keyed `max_by` over
    * (click_ts, click_id), a deterministic total order. */
  private def latestClick(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("event_id"), col("user_id"), col("ts"))
      .agg(max_by(col("click_id"), struct(col("click_ts"), col("click_id"))).as("click_id"))
      .orderBy(col("event_id"))

  // ---------------------------------------------------------------- queries
  val attribution: Q = Q("stream_click_attribution",
    """WITH c AS (
      |  SELECT event_id AS click_id, user_id, ts AS click_ts
      |  FROM events WHERE event_type = 'click'
      |), p AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
      |), j AS (
      |  SELECT p.event_id, p.user_id, p.ts, c.click_id, c.click_ts
      |  FROM p JOIN c ON c.user_id = p.user_id
      |    AND c.click_ts < p.ts
      |    AND c.click_ts >= p.ts - INTERVAL 30 MINUTE
      |)
      |SELECT event_id, user_id, ts,
      |  last(click_id ORDER BY click_ts, click_id) AS click_id
      |FROM j GROUP BY 1, 2, 3 ORDER BY event_id""".stripMargin) { (s, dir) =>
    runAttribution(s, dir)
  }

  val attributionLeftOuter: Q = Q("stream_attr_left_outer",
    """WITH c AS (
      |  SELECT event_id AS click_id, user_id, ts AS click_ts
      |  FROM events WHERE event_type = 'click'
      |), p AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
      |), w AS (
      |  SELECT least((SELECT max(click_ts) FROM c), (SELECT max(ts) FROM p))
      |           - INTERVAL 1 HOUR - INTERVAL 1 SECOND AS horizon
      |), j AS (
      |  SELECT p.event_id, p.user_id, p.ts, c.click_id, c.click_ts
      |  FROM p LEFT JOIN c ON c.user_id = p.user_id
      |    AND c.click_ts < p.ts
      |    AND c.click_ts >= p.ts - INTERVAL 30 MINUTE
      |), f AS (
      |  SELECT j.* FROM j, w
      |  WHERE j.click_id IS NOT NULL OR j.ts < w.horizon
      |)
      |SELECT event_id, user_id, ts,
      |  last(click_id ORDER BY click_ts, click_id) AS click_id
      |FROM f GROUP BY 1, 2, 3 ORDER BY event_id""".stripMargin) { (s, dir) =>
    runAttributionLeftOuter(s, dir)
  }

  val all: Seq[Q] = Seq(attribution, attributionLeftOuter)
}
