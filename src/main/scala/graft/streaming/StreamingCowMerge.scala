package graft.streaming

import java.nio.file.{Files, Paths}

import graft.Q
import graft.SessionCaches.pinned
import graft.sources.{CowMerge, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CONTINUOUS copy-on-write upsert: late events arrive in
  * micro-batches and MERGE into the day-partitioned store per batch
  * — the streaming half of [[CowMerge]] (the lakehouse `MERGE INTO`
  * fed by a stream), sharing its oracle: after the stream drains the
  * store must equal the one-shot aggregate over ALL events, however
  * arrivals were sliced.
  *
  * Exactly-once without a table format — per-partition MVCC
  * GENERATIONS, the file-level form of the repo's provenance-keyed
  * replay normalization:
  *
  *  - each day dir holds generation subdirs `gen-<batchId>/` with a
  *    `_done` marker written AFTER the data;
  *  - a batch merges the update rows with the day's newest COMPLETE
  *    generation STRICTLY OLDER than itself (`gen < batchId`) and
  *    writes `gen-<batchId>`;
  *  - readers take each day's newest complete generation.
  *
  * Replays are idempotent by construction: a re-delivered batch
  * recomputes from exactly the pre-batch state (its own generation
  * is excluded by `gen < batchId`, committed or not) and overwrites
  * the same subdir; a crash between data and marker leaves an
  * incomplete generation that readers and successors ignore.
  * Superseded generations are GC-able once a newer `_done` exists
  * (kept here — they are the time-travel history). Cost per batch
  * stays |touched days| · |partition|, untouched days' files are
  * never rewritten. */
object StreamingCowMerge {

  private val GenPrefix = "gen-"
  private val Done = "_done"

  /** Newest COMPLETE generation strictly below `belowBid`
    * (Long.MaxValue = newest overall), or None for a fresh day. */
  private def currentGen(dayDir: java.nio.file.Path, belowBid: Long): Option[Long] = {
    if (!Files.isDirectory(dayDir)) return None
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.list(dayDir)) { st =>
      st.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith(GenPrefix))
        .map(_.getFileName.toString.stripPrefix(GenPrefix).toLong)
        .filter(g => g < belowBid && Files.exists(dayDir.resolve(s"$GenPrefix$g").resolve(Done)))
        .maxOption
    }
  }

  private def dayDirs(store: String): Seq[(String, java.nio.file.Path)] = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.list(Paths.get(store))) { st =>
      st.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("day="))
        .map(p => (p.getFileName.toString.stripPrefix("day="), p))
        .toSeq.sortBy(_._1)
    }
  }

  /** Read one day's newest complete generation below `belowBid` as a
    * frame (empty when the day has none). */
  private def readDay(s: SparkSession, store: String, day: String,
                      belowBid: Long): Option[DataFrame] =
    currentGen(Paths.get(store, s"day=$day"), belowBid).map { g =>
      // pin the stored types: sum-of-decimal widens precision on each
      // merge, and unionByName across days would otherwise see mixed
      // decimal widths
      s.read.parquet(s"$store/day=$day/$GenPrefix$g")
        .select(col("user_id").cast("long").as("user_id"),
          col("n_events").cast("long").as("n_events"),
          col("value_sum").cast("decimal(18,2)").as("value_sum"))
        .withColumn("day", lit(day).cast("date"))
    }

  /** Bootstrap: the base store written as generation -1 per day. */
  def writeBase(s: SparkSession, dir: String, store: String): Unit = {
    CowMerge.dailyAgg(CowMerge.baseSlice(Tables.events(s, dir)))
      // one decimal width across ALL generations (sum-of-decimal
      // widens), so any set of gen dirs can be read in one scan
      .withColumn("value_sum", col("value_sum").cast("decimal(18,2)"))
      .write.mode("overwrite").partitionBy("day").parquet(store)
    // restructure each day's files into gen--1/ with a done marker
    dayDirs(store).foreach { case (_, dayDir) =>
      import scala.jdk.CollectionConverters._
      val gen = dayDir.resolve(s"${GenPrefix}-1")
      Files.createDirectories(gen)
      scala.util.Using.resource(Files.list(dayDir)) { st =>
        st.iterator().asScala
          .filter(p => Files.isRegularFile(p))
          .foreach(p => Files.move(p, gen.resolve(p.getFileName.toString)))
      }
      Files.createFile(gen.resolve(Done))
    }
  }

  /** One micro-batch MERGE: recompute each touched day from its
    * pre-batch generation + this batch's rows, commit as
    * `gen-<batchId>`. Idempotent under replay (see object doc). */
  def mergeBatch(batch: DataFrame, batchId: Long, store: String): Unit = pinned { pins =>
    val s = batch.sparkSession
    val updates = pins.persist(CowMerge.dailyAgg(batch))
    val days = updates.select(col("day")).distinct()
      .collect().map(_.getDate(0).toString).sorted
    days.foreach { day =>
      val upd = updates.filter(col("day") === lit(day).cast("date"))
      val merged = readDay(s, store, day, belowBid = batchId) match {
        case None => upd
        case Some(base) =>
          base.as("b").join(upd.as("u"), Seq("user_id", "day"), "full_outer")
            .select(col("user_id"), col("day"),
              (coalesce(col("b.n_events"), lit(0L)) +
                coalesce(col("u.n_events"), lit(0L))).as("n_events"),
              (coalesce(col("b.value_sum"), lit(0).cast("decimal(18,2)")) +
                coalesce(col("u.value_sum"), lit(0).cast("decimal(18,2)")))
                .cast("decimal(18,2)").as("value_sum"))
      }
      val gen = Paths.get(store, s"day=$day", s"$GenPrefix$batchId")
      merged.drop("day").write.mode("overwrite").parquet(gen.toString)
      val marker = gen.resolve(Done)
      if (!Files.exists(marker)) Files.createFile(marker)
    }
  }

  /** The whole store at its newest complete generations. */
  def readStore(s: SparkSession, store: String): DataFrame =
    dayDirs(store)
      .flatMap { case (day, _) => readDay(s, store, day, Long.MaxValue) }
      .reduce(_ unionByName _)

  /** The as-of generation dirs as a flat path list — for readers
    * that don't need the day column reconstructed (per-version
    * totals), ONE multi-path scan instead of |days| subframes. */
  private def genPathsAsOf(store: String, asOfBid: Long): Seq[String] =
    dayDirs(store).flatMap { case (day, dayDir) =>
      currentGen(dayDir, asOfBid + 1).map(g => s"$store/day=$day/$GenPrefix$g")
    }

  /** GC: drop superseded generations, keeping the newest
    * `keepLast` COMPLETE generations per day (time-travel horizon)
    * plus any INCOMPLETE generation newer than the newest complete
    * one (a writer may be mid-commit — same discipline as
    * [[graft.sources.VersionedStore]]'s staging age-gate). Readers
    * are never broken: the newest complete generation always
    * survives. */
  def gc(store: String, keepLast: Int = 1): Unit =
    dayDirs(store).foreach { case (_, dayDir) =>
      import scala.jdk.CollectionConverters._
      val gens = scala.util.Using.resource(Files.list(dayDir)) { st =>
        st.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith(GenPrefix))
          .map(p => (p.getFileName.toString.stripPrefix(GenPrefix).toLong, p))
          .toSeq.sortBy(-_._1)
      }
      val complete = gens.filter { case (_, p) => Files.exists(p.resolve(Done)) }
      val newestComplete = complete.headOption.map(_._1).getOrElse(Long.MinValue)
      val keep = complete.take(keepLast).map(_._1).toSet
      gens.foreach { case (g, p) =>
        val incompleteInFlight = !Files.exists(p.resolve(Done)) && g > newestComplete
        if (!keep.contains(g) && !incompleteInFlight) {
          scala.util.Using.resource(Files.walk(p)) { st =>
            st.iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
          }
        }
      }
    }

  /** Run the late slice through an AvailableNow stream in `slices`
    * micro-batches, merging per batch; return the drained store. */
  def run(s: SparkSession, dir: String, slices: Int): DataFrame =
    readStore(s, runStore(s, dir, slices))

  /** [[run]], returning the store path for as-of reads. */
  def runStore(s: SparkSession, dir: String, slices: Int): String = {
    val scratch = Scratch.dir("graft-scow-").toString
    val store = s"$scratch/daily"
    val in = s"$scratch/in"
    writeBase(s, dir, store)
    val late = CowMerge.lateSlice(Tables.events(s, dir))
    StreamingCuration.landOrderedSlicesOf(late, "event_id", in, slices)
    // an empty slice merges no day, so skipping it leaves the store as is
    Drain.files(s, late.schema, in, s"$scratch/ckpt")((batch, bid) =>
      mergeBatch(batch, bid, store))
    store
  }

  val streamCowMerge: Q = Q("stream_cow_merge",
    CowMerge.cowMerge.oracle.get) { (s, dir) =>
    // deliberately NOT memoized: the stream run IS this query
    run(s, dir, slices = 3)
      .select(col("user_id"), col("day"),
        col("n_events"), col("value_sum").cast("double").as("value_sum"))
      .orderBy(col("user_id"), col("day"))
  }

  /** TIME TRAVEL over the retained generations: the store's totals
    * AS OF each committed batch (-1 = base load, 0..2 = the three
    * late micro-batches). Purely a read-side choice — no data is
    * copied to serve historical versions; superseded generations ARE
    * the history (what Delta/Iceberg call snapshot reads).
    *
    * Oracle-checkable because everything that defines a version is
    * deterministic: the late slice is the horizon day's every-7th
    * event, arrivals land as contiguous event_id ranges
    * (`landOrderedSlicesOf`'s `lo + span·i/slices` floor arithmetic,
    * replayed verbatim in SQL), and batch ids assign 0..slices-1 in
    * mtime order. */
  /** One drained store per session for the as-of readers — the
    * build/stream cost is a [[streamCowMerge]] concern; time travel
    * is about the read side. Its scratch tree (arrivals, checkpoint,
    * store) dies with the memo entry. */
  private final case class DrainedStore(path: String) extends graft.Reapable {
    def reapRoots: Seq[String] = Seq(Paths.get(path).getParent.toString)
  }

  private val storeCache = graft.SessionCaches.memo[DrainedStore]

  private def sharedStore(s: SparkSession, dir: String): String =
    storeCache(s, dir)(DrainedStore(runStore(s, dir, slices = 3))).path

  val timeTravel: Q = Q("store_time_travel",
    """WITH h AS (SELECT MAX(CAST(ts AS DATE)) AS hday FROM events),
      |late AS (SELECT e.* FROM events e, h
      |         WHERE e.event_id % 7 = 0 AND CAST(e.ts AS DATE) = h.hday),
      |b AS (SELECT MIN(event_id) AS lo, MAX(event_id) AS hi FROM late),
      |base AS (SELECT e.* FROM events e, h
      |         WHERE NOT (e.event_id % 7 = 0 AND CAST(e.ts AS DATE) = h.hday)),
      |vers(k) AS (VALUES (-1), (0), (1), (2)),
      |states AS (
      |  SELECT k, x.user_id, x.ts, x.value FROM vers, base x
      |  UNION ALL
      |  SELECT k, l.user_id, l.ts, l.value FROM vers, late l, b
      |  WHERE k >= 0 AND l.event_id < b.lo + ((b.hi - b.lo + 1) * (k + 1)) // 3),
      |agg AS (SELECT k, user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n,
      |               SUM(CAST(value AS DECIMAL(18,2))) AS v
      |        FROM states GROUP BY 1, 2, 3)
      |SELECT CAST(k AS BIGINT) AS as_of, COUNT(*) AS n_rows,
      |       CAST(SUM(n) AS BIGINT) AS n_events,
      |       CAST(SUM(v) AS DOUBLE) AS value_sum
      |FROM agg GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val store = sharedStore(s, dir)
    (-1L to 2L).map { k =>
      s.read.parquet(genPathsAsOf(store, k): _*)
        .select(col("n_events").cast("long").as("n_events"),
          col("value_sum").cast("decimal(18,2)").as("value_sum"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("n_events")).as("n_events"),
          sum(col("value_sum")).cast("double").as("value_sum"))
        .select(lit(k).as("as_of"), col("n_rows"), col("n_events"),
          col("value_sum"))
    }.reduce(_ unionByName _).orderBy(col("as_of"))
  }

  val all: Seq[Q] = Seq(streamCowMerge, timeTravel)
}
