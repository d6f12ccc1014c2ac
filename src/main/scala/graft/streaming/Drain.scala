package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** The engine's one bounded stream drain: a Structured Streaming
  * query run under `Trigger.AvailableNow` against a checkpoint. The
  * checkpoint's offset and commit logs are the whole exactly-once
  * story — a rerun resumes after the last committed batch, and a
  * batch that failed before its commit replays with the same id. */
private[graft] object Drain {

  /** Drain `writer` to completion under `ckpt`: every offset available
    * at start is processed, then the query stops. */
  def run[T](writer: DataStreamWriter[T], ckpt: String): Unit =
    writer.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** Drain the parquet files in `inDir` one file per micro-batch,
    * handing each non-empty batch and its id to `handler`. */
  def files(spark: SparkSession, schema: StructType, inDir: String, ckpt: String)(
      handler: (DataFrame, Long) => Unit): Unit =
    run(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) handler(batch, batchId)
        ()
      }, ckpt)
}
