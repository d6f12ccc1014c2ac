package graft

import java.nio.file.Files

import graft.queries.AnnIndexStore
import graft.sources.FrameStore
import org.apache.spark.sql.functions._

/** The replay contract every derived version keeps (the idempotent
  * sink of a foreachBatch stream): a batch-stamped append records its
  * `(batchId, streamId)` marker, maintenance (compact, rewrite,
  * delete) carries production's marker forward, a replay of an
  * applied batch from the same stream is skipped without a new
  * version, a batch from another stream appends, and an identity-less
  * marker never satisfies a probe that names a stream. */
class VersionedStoreSpec extends SparkSpec {
  import spark.implicits._

  test("FrameStore: a stream's applied batch survives compact and rewrite, replays skip") {
    val store = new FrameStore(Files.createTempDirectory("graft-replay-frame-").toString)
    val name = "idx"
    store.promote(name, store.register(spark, name, Seq.empty[(Long, String)].toDF("id", "v")))
    def rows(): Seq[Long] = store.loadProduction(spark, name).get.as[(Long, String)]
      .collect().map(_._1).toSeq.sorted

    val va = store.appendBatch(spark, name, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      batchId = Some(3L), streamId = Some("A"))
    assert(store.appliedBatch(name, va).contains(3L) && store.appliedStream(name, va).contains("A"))
    val vc = store.compact(spark, name)
    assert(vc == va + 1 && store.appliedBatch(name, vc).contains(3L)
      && store.appliedStream(name, vc).contains("A"), "compact dropped the marker")
    val vr = store.rewrite(spark, name)(_.filter(col("id") =!= 2L))
    assert(vr == vc + 1 && store.appliedBatch(name, vr).contains(3L)
      && store.appliedStream(name, vr).contains("A"), "rewrite dropped the marker")
    assert(store.lastAppliedBatch(name, Some("A")).contains(3L))
    assert(rows() == Seq(1L, 3L))

    // replays of batch 3 and of the older batch 2 from stream A: skipped
    for (id <- Seq(3L, 2L)) {
      val again = store.appendBatch(spark, name, Seq((9L, "z")).toDF("id", "v"),
        batchId = Some(id), streamId = Some("A"))
      assert(again == vr, s"replay of batch $id published v$again")
      assert(store.productionVersion(name).contains(vr) && store.latestVersion(name).contains(vr))
      assert(rows() == Seq(1L, 3L), s"replay of batch $id changed the rows")
    }

    // batch 3 from stream B is a different batch: it appends
    val vb = store.appendBatch(spark, name, Seq((4L, "d")).toDF("id", "v"),
      batchId = Some(3L), streamId = Some("B"))
    assert(vb == vr + 1 && store.appliedStream(name, vb).contains("B"))
    assert(rows() == Seq(1L, 3L, 4L))

    // an identity-less marker never matches a probe that names a stream
    val vn = store.appendBatch(spark, name, Seq((5L, "e")).toDF("id", "v"), batchId = Some(7L))
    assert(store.appliedBatch(name, vn).contains(7L) && store.appliedStream(name, vn).isEmpty)
    assert(store.lastAppliedBatch(name).contains(7L))
    assert(store.lastAppliedBatch(name, Some("B")).isEmpty)
    val vb7 = store.appendBatch(spark, name, Seq((6L, "f")).toDF("id", "v"),
      batchId = Some(7L), streamId = Some("B"))
    assert(vb7 == vn + 1 && rows() == Seq(1L, 3L, 4L, 5L, 6L))
  }

  test("AnnIndexStore: a stream's applied batch survives compact and deleteWhere, replays skip") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val name = AnnIndexStore.BaseIndexName
    val store = AnnIndexStore.seededBaseStore(spark, sf, "graft-replay-ann-")
    def codeIds(): Seq[Long] = store.loadProduction(spark, name).get.codes
      .select(col("vec_id")).as[Long].collect().toSeq.sorted
    val held = emb.filter(col("vec_id") % 5 === 4)

    val va = store.appendBatch(spark, name, held.filter(col("vec_id") % 2 === 0),
      batchId = Some(3L), streamId = Some("A"))
    assert(store.appliedBatch(name, va).contains(3L) && store.appliedStream(name, va).contains("A"))
    val vc = store.compact(spark, name)
    assert(vc == va + 1 && store.appliedBatch(name, vc).contains(3L)
      && store.appliedStream(name, vc).contains("A"), "compact dropped the marker")
    val vd = store.deleteWhere(spark, name, col("vec_id") % 17 === 3)
    assert(vd == vc + 1 && store.appliedBatch(name, vd).contains(3L)
      && store.appliedStream(name, vd).contains("A"), "deleteWhere dropped the marker")
    assert(store.lastAppliedBatch(name, Some("A")).contains(3L))
    val afterDelete = codeIds()
    assert(afterDelete.nonEmpty && !afterDelete.exists(_ % 17 == 3))

    for (id <- Seq(3L, 2L)) {
      val again = store.appendBatch(spark, name, held.filter(col("vec_id") % 2 === 1),
        batchId = Some(id), streamId = Some("A"))
      assert(again == vd, s"replay of batch $id published v$again")
      assert(store.productionVersion(name).contains(vd) && store.latestVersion(name).contains(vd))
      assert(codeIds() == afterDelete, s"replay of batch $id changed the codes")
    }

    val odd = held.filter(col("vec_id") % 2 === 1)
    val vb = store.appendBatch(spark, name, odd, batchId = Some(3L), streamId = Some("B"))
    assert(vb == vd + 1 && store.appliedStream(name, vb).contains("B"))
    assert(codeIds() == (afterDelete ++ odd.select(col("vec_id")).as[Long].collect()).sorted)

    val vn = store.appendBatch(spark, name, odd.limit(0), batchId = Some(7L))
    assert(store.appliedBatch(name, vn).contains(7L) && store.appliedStream(name, vn).isEmpty)
    assert(store.lastAppliedBatch(name).contains(7L))
    assert(store.lastAppliedBatch(name, Some("B")).isEmpty)
  }
}
