package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The bounded-session hook over the memoized per-dataset caches. */
class SessionCachesSpec extends SparkSpec {

  test("evict releases a dataset's memoized frames and allows rebuild") {
    // warm a few representative caches for this dataset
    val tc = graft.queries.TextOps.tokenCounts(spark, sf)
    graft.queries.TextOps.nearDupPairs05(spark, sf)
    assert(tc.storageLevel != StorageLevel.NONE, "tokenCounts should be persisted")
    val dropped = SessionCaches.evict(spark, sf)
    assert(dropped >= 2, s"expected >= 2 entries evicted, got $dropped")
    assert(tc.storageLevel == StorageLevel.NONE, "evict must unpersist")
    // second evict finds nothing for this dataset
    assert(SessionCaches.evict(spark, sf) == 0)
    // and the memo rebuilds transparently on next use
    val again = graft.queries.TextOps.tokenCounts(spark, sf)
    assert(again.agg(count(lit(1))).head().getLong(0) > 0)
    assert(again.storageLevel != StorageLevel.NONE)
  }

  test("evict of one dataset leaves another dataset's entries warm") {
    val a = graft.queries.TextOps.tokenCounts(spark, sf)
    // register the same tables under a second dataset path alias
    val other = java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(
        java.nio.file.Files.createTempDirectory("graft-evict-").toString, "alias"),
      java.nio.file.Paths.get(sf)).toString
    val b = graft.queries.TextOps.tokenCounts(spark, other)
    assert(SessionCaches.evict(spark, other) >= 1)
    assert(b.storageLevel == StorageLevel.NONE)
    assert(a.storageLevel != StorageLevel.NONE, "sibling dataset must stay warm")
    SessionCaches.evict(spark, sf)
    ()
  }

  test("evict of a path-prefix sibling dir never cross-evicts (/x/corpus vs /x/corpus-v2)") {
    val memo = SessionCaches.memo[String]
    memo.put(spark, "/x/corpus")("a")
    memo.put(spark, "/x/corpus-v2")("b")
    memo.put(spark, "/data/x/corpus")("c")
    // plan-text style key embedding the path, bounded by delimiters
    memo.keyed("plan:[file:/x/corpus/documents.parquet]")("d")
    assert(SessionCaches.evict(spark, "/x/corpus") == 2,
      "exact key + bounded plan-text key only")
    assert(!memo.contains(spark, "/x/corpus"))
    assert(memo.contains(spark, "/x/corpus-v2") && memo.contains(spark, "/data/x/corpus"),
      "prefix-related sibling dirs must stay warm")
    assert(memo.keyed("plan:[file:/x/corpus/documents.parquet]")("rebuilt") == "rebuilt")
  }

  test("evict deletes an engine-temp artifact store's directory, never a caller-owned root") {
    val memo = SessionCaches.memo[graft.sources.FrameStore]
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft-evict-store-")
    val store = new graft.sources.FrameStore(tmpRoot.toString)
    import spark.implicits._
    store.promote("x", store.register(spark, "x", Seq(1L).toDF("v")))
    memo.put(spark, "/evict/store/ds")(store)
    assert(SessionCaches.evict(spark, "/evict/store/ds") == 1)
    assert(!java.nio.file.Files.exists(tmpRoot),
      "temp-rooted store dir must be reaped on eviction")
  }

  test("evict reaps a Reapable composite's declared temp roots") {
    case class Fake(root: String) extends Reapable {
      def reapRoots: Seq[String] = Seq(root)
    }
    val memo = SessionCaches.memo[Fake]
    val tmp = java.nio.file.Files.createTempDirectory("graft-reap-")
    java.nio.file.Files.writeString(tmp.resolve("landed.parquet"), "x")
    memo.put(spark, "/reap/ds")(Fake(tmp.toString))
    assert(SessionCaches.evict(spark, "/reap/ds") == 1)
    assert(!java.nio.file.Files.exists(tmp),
      "a Reapable's declared roots must be deleted on eviction")
  }

  test("evict frees a memoized localCheckpoint pin's blocks") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val memo = SessionCaches.memo[org.apache.spark.sql.DataFrame]
    memo(spark, "/evict/pin/ds")(spark.range(1000).toDF("id").localCheckpoint(true))
    val pins = persisted -- before
    assert(pins.nonEmpty, "localCheckpoint(true) must pin an RDD")
    assert(SessionCaches.evict(spark, "/evict/pin/ds") == 1)
    assert((pins & persisted).isEmpty,
      s"evict must free the pin's RDD, still persisted: ${pins & persisted}")
  }

  test("evicting a dataset unpersists AnnCert's exact-kNN side") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    SessionCaches.evict(spark, sf) // start cold: another suite may have warmed it
    val before = persisted
    graft.queries.AnnCert.warmExactKnn(spark, sf)
    val pins = persisted -- before
    assert(pins.nonEmpty, "warmExactKnn must persist the exact side")
    assert(SessionCaches.evict(spark, sf) >= 1)
    assert((pins & persisted).isEmpty,
      s"evict must unpersist the exact-kNN frame, still persisted: ${pins & persisted}")
  }

  test("unpersistLocalCheckpoint rejects a derived frame and frees a direct pin") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val pinned = SessionCaches.cutLineage(spark.range(0, 100, 1, 4).toDF("id"))
    val pins = persisted -- before
    assert(pins.nonEmpty)
    val derived = pinned.filter(col("id") % 2 === 0)
    intercept[IllegalArgumentException](SessionCaches.unpersistLocalCheckpoint(derived))
    assert(pins.subsetOf(persisted), "a rejected call must not free the pin")
    assert(derived.count() == 50 && pinned.count() == 100)
    SessionCaches.unpersistLocalCheckpoint(pinned)
    assert((pins & persisted).isEmpty)
  }

  test("pinned frees a cut and a persist made on a pool thread when its body throws") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val (rddsBefore, cachedBefore) = (persisted, cachedEntries)
    val boom = new IllegalStateException("batch failed")
    val thrown = intercept[IllegalStateException] {
      SessionCaches.pinned { pins =>
        graft.streaming.StreamPools.runAll(Seq(() => {
          pins.cutLineage(spark.range(0, 100, 1, 4).toDF("pinned_cut"))
          pins.persist(spark.range(0, 37, 1, 3).toDF("pinned_persist")).count()
          assert((persisted -- rddsBefore).size == 2 && cachedEntries == cachedBefore + 1,
            "the body must hold one cut and one persisted frame")
          throw boom
        }))
      }
    }
    assert(thrown eq boom, s"the body's exception must propagate, got $thrown")
    assert(persisted == rddsBefore, s"still persisted: ${persisted -- rddsBefore}")
    assert(cachedEntries == cachedBefore, "the persisted frame must leave the cache manager")
  }
}
