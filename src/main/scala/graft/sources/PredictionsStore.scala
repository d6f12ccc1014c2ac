package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine-native predictions store: date-partitioned parquet,
  * time-clustered within each partition.
  *
  * The reference keeps predictions in Postgres with btree indexes on
  * `event_time` / `prediction` (`scripts/db/init.sql:7-21`). The
  * columnar analog is two-level:
  *
  *  1. partition by `day = to_date(ts)` so every time-ranged
  *     analytics query (A1, A3, A5-A7) prunes partitions at planning
  *     time, and
  *  2. sort-on-write by `ts` within each day file, so parquet
  *     row-group min/max stats are tight, disjoint `ts` ranges — a
  *     pushed-down 15-minute predicate then skips every row group
  *     but the one covering the window at READ time (the row-group
  *     analog of the btree, with zero index-maintenance cost).
  *
  * Without the sort, rows of one day arrive in shuffle order, every
  * row group's [min,max] spans the whole day, and the reader must
  * decode all of them. At 100 TB that is the difference between a
  * scan bounded by the predicate and a scan bounded by the table.
  *
  * Dynamic partition overwrite gives the idempotent
  * recompute-today's-partition upsert (A2) without row-level merge.
  * It is set on the write, not the session, so a later static
  * overwrite elsewhere in the session still replaces its whole path.
  *
  * The row-group stats need `ts` stored as INT64 micros, which the
  * session writes from the start (`GraftSession.FormatConfs`); the
  * store sets no session conf of its own.
  */
object PredictionsStore {

  /** Append/overwrite scored events, partitioned by day and
    * ts-sorted within each day's files.
    *
    * `repartition(day)` routes each day to one task so its output is
    * one ts-sorted file chain rather than `numShufflePartitions`
    * interleaved fragments; on a real cluster days are independent
    * tasks, so the write parallelizes across days (and a single hot
    * day can be salted into `repartition(day, hour)` without
    * changing the layout contract).
    *
    * `maxRowsPerGroup` caps parquet row-group size (via the standard
    * `parquet.block.size` writer knob it is mapped from in tests) so
    * small test partitions still hold several row groups; production
    * leaves it None and inherits the 128 MiB default. */
  def write(scored: DataFrame, path: String, mode: String = "overwrite",
      blockSizeBytes: Option[Long] = None): Unit = {
    val w = scored
      .withColumn("day", to_date(col("ts")))
      .repartition(col("day"))
      .sortWithinPartitions(col("day"), col("ts"))
      .write.mode(mode).partitionBy("day")
      .option("partitionOverwriteMode", "dynamic")
    blockSizeBytes.fold(w)(b =>
      w.option("parquet.block.size", b.toString)
        .option("parquet.page.size", math.max(1024L, b / 4).toString))
      .parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
