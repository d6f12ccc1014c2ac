package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import graft.streaming.Drain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The one bounded file drain: empty files never reach the handler,
  * each file is one micro-batch, a failed batch replays under its own
  * id from the checkpoint, and a finished checkpoint drains nothing. */
class DrainSpec extends SparkSpec {

  private val schema = StructType(Seq(StructField("id", LongType)))

  // one parquet file per range, modification times in range order
  // (the file source's arrival order)
  private def land(ranges: Seq[(Long, Long)]): (String, String) = {
    val root = Files.createTempDirectory("graft-drain-spec-")
    val in = Files.createDirectories(root.resolve("in"))
    ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
      val staging = root.resolve(s"staging-$i")
      spark.range(lo, hi).toDF("id").coalesce(1).write.parquet(staging.toString)
      val part = scala.util.Using.resource(Files.list(staging)) { fs =>
        import scala.jdk.CollectionConverters._
        fs.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      }
      val dst: Path = in.resolve(f"f$i%02d.parquet")
      Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis((i + 1) * 1000L))
    }
    (in.toString, root.resolve("ckpt").toString)
  }

  // one drain: the (batchId, ids) each handler call saw, and the
  // drain's failure if the handler threw on batch `failOn`
  private def drain(in: String, ckpt: String, failOn: Long = -1L)
      : (Seq[(Long, Seq[Long])], Option[Throwable]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]()
    val failure = scala.util.Try(
      Drain.files(spark, schema, in, ckpt) { (batch: DataFrame, batchId: Long) =>
        seen.add((batchId, batch.collect().map(_.getLong(0)).toSeq.sorted))
        if (batchId == failOn) sys.error(s"handler failed on batch $batchId")
      }).failed.toOption
    import scala.jdk.CollectionConverters._
    (seen.asScala.toSeq, failure)
  }

  test("an empty file never reaches the handler; other files arrive one per batch") {
    val (in, ckpt) = land(Seq((0L, 5L), (5L, 5L), (5L, 8L)))
    assert(drain(in, ckpt) == ((Seq((0L, 0L until 5L), (2L, 5L until 8L)), None)))
  }

  test("a failed batch fails the drain and replays under the same id from the checkpoint") {
    val (in, ckpt) = land(Seq((0L, 3L), (3L, 6L), (6L, 9L)))
    val (seen, failure) = drain(in, ckpt, failOn = 1L)
    assert(seen == Seq((0L, 0L until 3L), (1L, 3L until 6L)))
    assert(failure.exists(e => Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("handler failed on batch 1")))))
    assert(drain(in, ckpt) == ((Seq((1L, 3L until 6L), (2L, 6L until 9L)), None)),
      "the rerun must replay batch 1 under its own id, then finish")
  }

  test("a rerun on a finished checkpoint calls the handler zero times") {
    val (in, ckpt) = land(Seq((0L, 4L), (4L, 8L)))
    assert(drain(in, ckpt)._1.map(_._1) == Seq(0L, 1L))
    assert(drain(in, ckpt) == ((Nil, None)))
  }
}
