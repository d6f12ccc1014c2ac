package graft.sources

import java.nio.file.{Files, Path}

/** Per-JVM scratch space for streaming checkpoints and twin sinks.
  *
  * Every ad-hoc `Files.createTempDirectory` call leaks: Bench runs
  * each streaming query n times per round and the sink directories
  * must outlive the method that created them (the returned DataFrame
  * reads them lazily), so nothing in-band can delete them. Rooting
  * all scratch dirs under ONE per-JVM parent registered for deletion
  * at exit bounds the leak to a single tree per run — the sinks stay
  * readable for the whole session and /tmp no longer grows across
  * rounds. Every temp dir in the engine comes from [[dir]], except
  * `VersionedStore`'s staging dir, made inside its store so that its
  * rename into place is atomic.
  */
object Scratch {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-scratch-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(r)))
    r
  }

  /** A fresh directory under the session scratch root; lives until
    * JVM exit. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(p)) { st =>
        st.iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
      }
    }
}
