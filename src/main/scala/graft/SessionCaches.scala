package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import scala.collection.concurrent.TrieMap

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
  */
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
    case vs: graft.sources.VersionedStore => reapTempRoot(vs.root)
    case other => releaseShared(other)
  }

  // recursion path: unpersist frames, reap declared roots, but never
  // reap a store discovered through a field (shared-store safety)
  private def releaseShared(v: Any): Unit = v match {
    case df: DataFrame =>
      df.unpersist()
      // a localCheckpoint pin lives outside the CacheManager
      if (Bridge.isLocalCheckpoint(df)) Bridge.unpersistLocalCheckpoint(df)
    case _: graft.sources.VersionedStore => () // shared — owner reaps
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
