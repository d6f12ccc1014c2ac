package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import scala.collection.concurrent.TrieMap

/** A memoized value whose on-disk footprint spans engine-created
  * temp directories beyond any [[graft.sources.VersionedStore]] it
  * holds (landed stream outputs, arrival files, checkpoints):
  * [[SessionCaches.evict]] deletes each declared root — if it lies
  * under the JVM temp dir — when the entry drops.
  *
  * OWNERSHIP CONTRACT (load-bearing, convention-enforced): eviction
  * never reaps a `VersionedStore` discovered through Product field
  * recursion — field-held stores can be SHARED across memo entries
  * (`Env.benchStore`, the quality registry), and reaping one entry's
  * copy would orphan another's. Therefore any composite memo value
  * that OWNS a store (the store's directory should die with the
  * entry) MUST either be the store itself or extend this trait and
  * list the store's root (or an ancestor) in [[reapRoots]] — a
  * non-Reapable composite holding an owned store silently leaks its
  * on-disk tree on eviction. */
trait Reapable {
  def reapRoots: Seq[String]
}

/** Central registry for the engine's memoized session caches (the
  * `appId#dir`-keyed memos holding persisted frames, trained
  * centroids, promoted artifact stores, …).
  *
  * It OWNS THE KEY FORMAT: every memo is a [[SessionCaches.Memo]]
  * made by [[SessionCaches.memo]], which registers it at class-init
  * and builds its `appId#dir[#variant…]` keys — the same format
  * [[SessionCaches.evict]] matches. Keys that are not per dataset dir
  * are plan-canonical ([[SessionCaches.planKey]], which embeds the
  * input file paths) or not per application at all.
  *
  * The registry adds the BOUNDED-SESSION hook the per-query memos
  * deliberately lack: a long-lived session that walks many datasets
  * calls [[SessionCaches.evict]] after finishing one, releasing every
  * persisted block and memo entry for that (application, dataset)
  * pair instead of accumulating cached state without bound. The
  * gate/bench harness never needs this (one dataset per JVM); a
  * multi-tenant deployment calls it from its dataset-lifecycle hook.
  *
  * It also OWNS THE LINEAGE CUT and the per-batch pin release:
  * [[SessionCaches.cutLineage]] is the engine's one way to freeze a
  * frame's rows (a memo that holds a cut frees it on eviction),
  * [[SessionCaches.cutToLeaf]] the iterative loops' variant, and
  * [[SessionCaches.pinned]] the scope that frees a micro-batch's cuts
  * and persisted frames when the batch ends, also when it throws.
  */
object SessionCaches {

  private val registered =
    scala.collection.mutable.ArrayBuffer.empty[TrieMap[String, _]]

  private def register[V](m: TrieMap[String, V]): TrieMap[String, V] = synchronized {
    registered += m
    m
  }

  private def key(s: SparkSession, dir: String, variant: Seq[String]): String =
    (s.sparkContext.applicationId +: dir +: variant).mkString("#")

  /** A registered memo: `m(s, dir)(build)` is the entry for this
    * application × dataset dir, built on first use; `m(s, dir,
    * variant)(build)` a compound entry that evicts with `dir`. */
  final class Memo[V] private[SessionCaches] {
    private val map = register(TrieMap.empty[String, V])

    def apply(s: SparkSession, dir: String, variant: String*)(build: => V): V =
      map.getOrElseUpdate(key(s, dir, variant), build)

    def put(s: SparkSession, dir: String, variant: String*)(v: V): Unit = {
      map.put(key(s, dir, variant), v); ()
    }

    def contains(s: SparkSession, dir: String, variant: String*): Boolean =
      map.contains(key(s, dir, variant))

    /** The entry under a caller-built key: a [[planKey]], or a key
      * that is not per application (it then evicts only through a
      * dataset path it embeds, or through [[evictAll]]). */
    def keyed(k: String)(build: => V): V = map.getOrElseUpdate(k, build)
  }

  def memo[V]: Memo[V] = new Memo[V]

  /** Memo key for a frame's input: the application, the variant
    * parts, the frame's input files, then the FULL canonicalized
    * analyzed plan (expression ids normalized, so two reads of the
    * same table share one key; not the 32-bit semanticHash, whose
    * collision would serve another frame's entry). The plan text names
    * a file scan's format, not its path, so the input files are what
    * keep the entry evictable per dataset dir. */
  def planKey(df: DataFrame, variant: String*): String =
    ((df.sparkSession.sparkContext.applicationId +: variant) ++
      Seq(df.inputFiles.sorted.mkString(","),
        df.queryExecution.analyzed.canonicalized.toString)).mkString("#")

  /** `df`'s rows, materialized now, under a plan that is one leaf over
    * them — a lineage cut (`localCheckpoint`), not a `persist`. A
    * persisted frame caches execution only: every consumer ACTION
    * still re-analyzes its whole logical plan, and the engine's deep
    * frames (gate pipelines, curation cascades, carry-flush lineages)
    * and the plans that union several of them spend their wall in
    * Catalyst, not in the cached scan. Eager, so concurrent readers
    * find the rows materialized. The blocks live outside the
    * CacheManager: a memo entry holding the cut frees them on
    * eviction, and a per-batch cut frees them at the end of its
    * [[pinned]] scope. */
  def cutLineage(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** A cut for iterative loops (one per round): checkpoints `df`'s RDD
    * and builds a fresh leaf over its rows; the first action truncates
    * the lineage, and the ContextCleaner reclaims past rounds. Unlike
    * [[cutLineage]], whose `LogicalRDD` inherits the origin plan's
    * size estimate (originStats), the leaf carries the default
    * estimate. Inherited estimates multiply through a round's joins:
    * the sizeInBytes BigInt grew 31 -> 141 -> 579 -> 2334 -> 9350 bits
    * over five connected-components rounds, until join-stats products
    * burned minutes of driver CPU. Costs one row-conversion pass. */
  def cutToLeaf(df: DataFrame): DataFrame = {
    val rdd = df.rdd
    rdd.localCheckpoint()
    df.sparkSession.createDataFrame(rdd, df.schema)
  }

  /** The frames one [[pinned]] scope frees. Registration is
    * thread-safe: a batch's faces register from
    * [[graft.streaming.StreamPools]] threads. */
  final class Pins private[SessionCaches] extends AutoCloseable {
    private val frees = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]

    /** [[SessionCaches.cutLineage]], freed when the scope ends. */
    def cutLineage(df: DataFrame): DataFrame = {
      val cut = SessionCaches.cutLineage(df)
      frees.add(() => unpersistLocalCheckpoint(cut))
      cut
    }

    /** `df.persist()` (lazy), unpersisted when the scope ends. */
    def persist(df: DataFrame): DataFrame = {
      frees.add(() => { df.unpersist(); () })
      df.persist()
    }

    /** Frees every registered frame; [[pinned]] calls it. */
    def close(): Unit = frees.forEach(_())
  }

  /** Run `body`, then free every frame it pinned through `pins` —
    * also when it throws, so a failed micro-batch leaves no blocks
    * behind for its replay to add to. The body's exception is the one
    * raised. */
  def pinned[A](body: Pins => A): A = scala.util.Using.resource(new Pins)(body)

  /** Free the blocks behind a [[cutLineage]] result. The frame is
    * unreadable afterwards, so callers pass only cuts whose consumers
    * have all completed. Only the cut itself is accepted: a frame
    * derived from it (or joined with a memoized cut) would free
    * blocks other frames still read, so a plan whose root is not a
    * `LogicalRDD` throws IllegalArgumentException. */
  private[graft] def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false); ()
      case other => throw new IllegalArgumentException(
        s"unpersistLocalCheckpoint takes a cutLineage result, not a derived ${other.nodeName} plan")
    }

  // Release whatever resources a memo value pins: persisted frames
  // unpersist; promoted artifact stores delete their directory tree
  // ONLY when the entry explicitly owns them — the store IS the memo
  // value, or its root is declared in Reapable.reapRoots. A
  // VersionedStore merely *reached* through Product field recursion
  // (a composite holding Env.benchStore or the shared
  // quality/production stores) is NOT reaped: such stores can be
  // shared across memo entries, and deleting their root on one
  // entry's eviction would orphan artifacts another live entry still
  // hands out. Products (tuples, index case classes like PqIndex)
  // recurse so held frames unpersist; a value dropped from the memo
  // without unpersisting would leave its blocks pinned in storage
  // memory with no remaining handle. Plain values just drop.
  private def release(v: Any): Unit = v match {
    // owned store: the memo value is the store itself
    case vs: graft.sources.VersionedStore[_] => reapTempRoot(vs.root)
    case other => releaseShared(other)
  }

  // recursion path: unpersist frames, reap declared roots, but never
  // reap a store discovered through a field (shared-store safety)
  private def releaseShared(v: Any): Unit = v match {
    case df: DataFrame =>
      df.unpersist()
      // a cut's blocks live outside the CacheManager
      if (df.queryExecution.analyzed.isInstanceOf[LogicalRDD]) unpersistLocalCheckpoint(df)
    case _: graft.sources.VersionedStore[_] => () // shared — owner reaps
    case r: Reapable =>
      r.reapRoots.foreach(reapTempRoot)
      // a Reapable composite (the unified stream artifacts) still
      // recurses so held frames unpersist
      r match { case p: Product => p.productIterator.foreach(releaseShared); case _ => () }
    case p: Product => p.productIterator.foreach(releaseShared)
    case it: Iterable[_] => it.foreach(releaseShared)
    case _ => ()
  }

  // only reap paths the engine itself rooted under the JVM temp dir —
  // caller-owned data outside it is never deleted
  private def reapTempRoot(path: String): Unit = {
    val tmp = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp")).toAbsolutePath
    val root = java.nio.file.Paths.get(path).toAbsolutePath
    if (root.startsWith(tmp) && root != tmp) deleteTree(root.toFile)
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(); ()
  }

  // a dataset-dir occurrence inside a memo key counts only when it is
  // PATH-BOUNDED: not glued to further filename characters on either
  // side ("/x/corpus" must not match inside "/x/corpus-v2" or
  // "/data/x/corpus"), while genuine embeddings — "dir#variant" memo
  // keys and the input files of a planKey ("file:dir/t.parquet") —
  // stay matched because '#', '/', ':' and bracket delimiters are
  // not filename characters
  private def boundedRe(dir: String) =
    ("(?<![A-Za-z0-9._\\-])" + java.util.regex.Pattern.quote(dir) +
      "(?![A-Za-z0-9._\\-])").r

  /** Evict every registered memo entry for this session × dataset;
    * returns the number of entries dropped. Safe to call while other
    * datasets' entries stay warm. Matches the exact `appId#dir` key,
    * compound `appId#dir#<variant>` keys, and — best-effort —
    * path-bounded occurrences of the dataset dir anywhere in the key
    * (a [[planKey]] carries its input file paths; sibling dirs
    * sharing a prefix never cross-evict). */
  def evict(spark: SparkSession, dir: String): Int = synchronized {
    val exact = key(spark, dir, Nil)
    val re = boundedRe(dir)
    registered.map { m =>
      val hits = m.keys.filter(k =>
        k == exact || k.startsWith(exact + "#") || re.findFirstIn(k).isDefined).toSeq
      hits.flatMap(m.remove).map { v => release(v); 1 }.sum
    }.sum
  }

  /** Evict everything — the end-of-session hook. */
  def evictAll(): Int = synchronized {
    registered.map { m =>
      val n = m.size
      m.values.foreach(release)
      m.clear()
      n
    }.sum
  }
}
