package graft.sources

import java.nio.file.{FileSystemException, Files, NoSuchFileException, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one owner of versioned artifacts: the model registry,
  * the persisted ANN index and every parquet frame store share this
  * layout and lifecycle (the reference resolves its Production model
  * through MLflow's registry and stage pointer,
  * `services/training/app/training.py:93-110`,
  * `services/fraud_service/app/main.py:73-97`).
  *
  * {{{
  *   <root>/<name>/v<N>/         one immutable version, written by the subclass
  *   <root>/<name>/v<N>/BATCH    replay marker: "<batchId>[\n<streamId>]"
  *   <root>/<name>/PRODUCTION    pointer file holding N, atomically replaced
  *   <root>/<name>/.staging-*    a version being built, or crash debris
  * }}}
  *
  *  - BUILD: every version is built in a `.staging-*` dir and RENAMED
  *    into place as the next free `v<N>` ([[stageVersion]]), so
  *    `versions` never sees a half-written version and two writers
  *    never share a number. Versions are write-once.
  *  - PROMOTE: [[promote]] replaces `PRODUCTION` by an atomic move, so
  *    a reader sees the complete old version or the complete new one.
  *    Resolution is ONE read of the pointer ([[productionVersion]]),
  *    cheap enough to run per micro-batch.
  *  - DERIVE: appends and maintenance publish a version built from
  *    production through one step ([[derive]]): resolve production,
  *    skip a replayed batch, stage, carry or stamp the `BATCH` marker,
  *    promote. Appends HARDLINK production's immutable files into the
  *    staged version at O(#files) metadata cost (the local-FS analog
  *    of a manifest over immutable segments: at 100 TB an append must
  *    never re-copy the corpus).
  *  - REPLAY: a foreachBatch append stamps its `batchId` and stream
  *    (checkpoint) identity into `BATCH`; a later append of an id at
  *    or below production's marker from the SAME stream already
  *    committed and is skipped (the idempotent sink of Structured
  *    Streaming's at-least-once replay). Maintenance carries the
  *    marker forward, so a replay is still recognized after it.
  *  - RETIRE: [[gc]] deletes superseded versions and stale staging
  *    debris.
  */
abstract class VersionedStore[A](val root: String) extends Serializable {

  protected def nameDir(name: String): Path = Paths.get(root, name)

  protected def versionPath(name: String, version: Int): Path =
    nameDir(name).resolve(s"v$version")

  /** One version of `name`, read back as the artifact. */
  def load(spark: SparkSession, name: String, version: Int): A

  /** The promoted artifact, None when nothing is promoted. */
  def loadProduction(spark: SparkSession, name: String): Option[A] =
    productionVersion(name).map(load(spark, name, _))

  /** The promoted artifact; fails naming it when nothing is promoted. */
  def production(spark: SparkSession, name: String): A =
    load(spark, name, requireProduction(name))

  private def requireProduction(name: String): Int =
    productionVersion(name).getOrElse(sys.error(s"no production version of $name under $root"))

  /** Build a version with `write` in a staging dir and rename it into
    * place as `v<next>`; the rename loser of two concurrent writers
    * retries at the next free number. Returns the version, NOT
    * promoted. */
  protected def stageVersion(name: String)(write: Path => Unit): Int = {
    val d = nameDir(name)
    Files.createDirectories(d)
    val staging = Files.createTempDirectory(d, ".staging-")
    write(staging)
    var v = latestVersion(name).getOrElse(0) + 1
    var done = false
    while (!done) {
      try { Files.move(staging, d.resolve(s"v$v")); done = true }
      catch { case _: FileSystemException if Files.exists(d.resolve(s"v$v")) => v += 1 }
    }
    v
  }

  /** The one publish step for a version derived from production:
    * resolve production (or fail), return it unchanged when `batchId`
    * is a replay from the same stream, else stage the new version
    * with `build(productionVersion, stagingDir)`, stamp `batchId` into
    * its marker or carry production's, and promote it. Returns the
    * production version afterwards. */
  protected def derive(name: String, batchId: Option[Long] = None,
                       streamId: Option[String] = None)
                      (build: (Int, Path) => Unit): Int = {
    val prod = requireProduction(name)
    if (batchId.exists(id => appliedBy(name, prod, streamId).exists(_ >= id))) prod
    else {
      val next = stageVersion(name) { staging =>
        build(prod, staging)
        val stamp = staging.resolve("BATCH")
        // a hardlinked copy of production's marker is replaced, never
        // written through (that would rewrite production's own)
        Files.deleteIfExists(stamp)
        val carried = versionPath(name, prod).resolve("BATCH")
        batchId match {
          case Some(id) => Files.writeString(stamp, id.toString + streamId.map("\n" + _).getOrElse(""))
          case None => if (Files.exists(carried)) Files.copy(carried, stamp)
        }
      }
      promote(name, next)
      next
    }
  }

  private def marker(name: String, version: Int): Option[(Long, Option[String])] =
    try {
      val lines = Files.readString(versionPath(name, version).resolve("BATCH")).linesIterator
      Some((lines.next().trim.toLong, lines.nextOption()))
    } catch { case _: NoSuchFileException => None }

  // the marker's batchId when `streamId` is absent or is the marker's
  // stream; an identity-less marker never matches a named stream
  private def appliedBy(name: String, version: Int, streamId: Option[String]): Option[Long] =
    marker(name, version).collect { case (id, s) if streamId.isEmpty || s == streamId => id }

  /** The batchId `version` was published under, if batch-stamped. */
  def appliedBatch(name: String, version: Int): Option[Long] = marker(name, version).map(_._1)

  /** The stream identity recorded beside the batchId, if any. */
  def appliedStream(name: String, version: Int): Option[String] =
    marker(name, version).flatMap(_._2)

  /** Production's batch marker, counted only for `streamId`'s own
    * appends when given: a FRESH checkpoint (batchIds restarting at 0)
    * against a batch-stamped store must append, not skip. */
  def lastAppliedBatch(name: String, streamId: Option[String] = None): Option[Long] =
    productionVersion(name).flatMap(appliedBy(name, _, streamId))

  def versions(name: String): Seq[Int] = {
    val d = nameDir(name)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.list(d)) { stream =>
        stream.iterator().asScala
          .map(_.getFileName.toString)
          .collect { case s if s.startsWith("v") && s.drop(1).forall(_.isDigit) => s.drop(1).toInt }
          .toSeq.sorted
      }
    }
  }

  def latestVersion(name: String): Option[Int] = versions(name).lastOption

  /** Atomic stage promotion: write-then-move pointer replace. */
  def promote(name: String, version: Int): Unit = {
    require(versions(name).contains(version), s"unknown version v$version of $name")
    val d = nameDir(name)
    val tmp = Files.createTempFile(d, ".PRODUCTION", ".tmp")
    Files.writeString(tmp, version.toString)
    Files.move(tmp, d.resolve("PRODUCTION"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** One read of the PRODUCTION pointer; None when it is absent,
    * including when it disappears under the read. */
  def productionVersion(name: String): Option[Int] =
    try Some(Files.readString(nameDir(name).resolve("PRODUCTION")).trim.toInt)
    catch { case _: NoSuchFileException => None }

  /** Hardlink every data file under `src` into the same relative
    * layout under `dst` (parquet part files are immutable once
    * written, so sharing inodes is safe). Writer-metadata files
    * (`_SUCCESS`, `.crc`) are skipped rather than linked: the staged
    * append rewrites them, and a link would write through to the
    * source version's copy. */
  protected def linkTree(src: Path, dst: Path): Unit = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.walk(src)) { stream =>
      stream.iterator().asScala.foreach { p =>
        val rel = dst.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(rel)
        else {
          val fn = p.getFileName.toString
          if (!fn.startsWith("_") && !fn.startsWith(".")) Files.createLink(rel, p)
        }
      }
    }
  }

  /** Retention: delete version directories SUPERSEDED by production —
    * everything below the pointer except the `keep` most recent of
    * them (production itself and any published version above it are
    * never touched). Also sweeps crash debris: `.staging-*` dirs left
    * by a writer that died before its rename (every writer stages
    * through [[stageVersion]], so an interrupted build never becomes
    * a `v<N>` dir — it stays a staging name and is reclaimed here).
    * gc must not run concurrently with an in-flight writer on the
    * same artifact (the engine runs it at stream drain time).
    * Deleting a version only unlinks ITS hardlinks; inodes shared
    * with newer versions live on — this is the manifest-expiry half
    * of the append lifecycle (append = new manifest over immutable
    * segments; gc = dropping old manifests, segments reclaimed when
    * the last reference goes). Returns the deleted versions. */
  def gc(name: String, keep: Int = 1): Seq[Int] = {
    val prod = requireProduction(name)
    import scala.jdk.CollectionConverters._
    def rmTree(d: Path): Unit =
      scala.util.Using.resource(Files.walk(d)) { stream =>
        stream.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
    val doomed = versions(name).filter(_ < prod).sorted.dropRight(keep)
    doomed.foreach(v => rmTree(versionPath(name, v)))
    // age-gate the staging sweep: a .staging-* tree touched within the
    // last 10 minutes may belong to a LIVE writer mid-stageVersion —
    // deleting it would fail that writer's write() or rename. The gate
    // reads the NEWEST mtime anywhere in the tree, not the root dir's
    // (a root's mtime only refreshes on top-level child creation, so a
    // long build writing under staging/data/ would look stale at the
    // root while its leaves are seconds old). Only genuine crash
    // debris — no file touched for longer than any real version
    // build — is reclaimed, so gc is safe even if the drain-time
    // discipline slips and it races a writer.
    val staleBefore = System.currentTimeMillis() - 10 * 60 * 1000L
    def newestMtime(d: Path): Long =
      scala.util.Using.resource(Files.walk(d)) { stream =>
        stream.iterator().asScala
          .map(Files.getLastModifiedTime(_).toMillis).max
      }
    scala.util.Using.resource(Files.list(nameDir(name))) { stream =>
      stream.iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith(".staging-"))
        .filter(p => newestMtime(p) < staleBefore)
        .foreach(rmTree)
    }
    doomed
  }
}

/** A versioned store of ONE parquet frame per artifact — the shape
  * the dedup shingle index and the decontamination gram index need:
  * corpus-scale postings that grow by append and must survive
  * restarts as a promoted artifact (a restarted dedup stream resumes
  * from the promoted index, not from a session cache).
  */
final class FrameStore(root: String) extends VersionedStore[DataFrame](root) {

  private def data(version: Path): String = version.resolve("data").toString

  /** Persist `df` as the next version of `name`; returns the version,
    * NOT yet promoted. */
  def register(spark: SparkSession, name: String, df: DataFrame): Int =
    stageVersion(name)(dir => df.write.parquet(data(dir)))

  /** Persist `df` as the next version of `name` and promote it. */
  def publish(spark: SparkSession, name: String, df: DataFrame): Int = {
    val v = register(spark, name, df)
    promote(name, v)
    v
  }

  def load(spark: SparkSession, name: String, version: Int): DataFrame =
    spark.read.parquet(data(versionPath(name, version)))

  /** Append `batch` to the production frame: production's files are
    * hardlinked into the new version and the batch is written beside
    * them. With `batchId` (and the stream's checkpoint location as
    * `streamId`) a replay of an applied batch is skipped. */
  def appendBatch(spark: SparkSession, name: String, batch: DataFrame,
                  batchId: Option[Long] = None,
                  streamId: Option[String] = None): Int =
    derive(name, batchId, streamId) { (v, staging) =>
      linkTree(versionPath(name, v), staging)
      batch.write.mode("append").parquet(data(staging))
    }

  /** Publish production rewritten through `f` — the maintenance
    * primitive behind [[deleteWhere]], [[compact]] and state-snapshot
    * pruning (e.g. the SCD2 twin's open-row set, which appends
    * per-batch deltas and periodically collapses to the current row
    * per key). */
  def rewrite(spark: SparkSession, name: String)(f: DataFrame => DataFrame): Int =
    derive(name) { (v, staging) => f(load(spark, name, v)).write.parquet(data(staging)) }

  /** DELETE rows from the production frame — the
    * right-to-be-forgotten half of the artifact lifecycle: a corpus
    * doc withdrawn from training must leave every derived artifact
    * (postings, fingerprints, gram indexes), not just the corpus
    * table. Superseded versions still hold the rows until [[gc]]
    * retires them (an auditable grace window — run gc to make the
    * forget durable on disk). A full rewrite is the parquet baseline;
    * at 100 TB the store would partition and rewrite only
    * predicate-touched partitions, which is this same operation under
    * a partition pruning filter. */
  def deleteWhere(spark: SparkSession, name: String,
                  predicate: org.apache.spark.sql.Column): Int =
    rewrite(spark, name)(_.filter(!predicate))

  /** COMPACT the production frame into one file: every [[appendBatch]]
    * adds part files, and after N micro-batches a scan opens N× the
    * files it needs (the streaming small-files problem — at 100 TB the
    * file listing alone dominates). Rows are unchanged. */
  def compact(spark: SparkSession, name: String): Int = rewrite(spark, name)(_.coalesce(1))
}
