package graft

import java.nio.file.{Files, Path, Paths}

/** Each repeated mechanism has one owner: the bounded stream drain
  * (`Drain`), the batch-action pool (`StreamPools`), the memo key
  * format (`SessionCaches`), the lineage cut and per-batch pin
  * release (`SessionCaches`), the session builder and every session
  * conf write (`GraftSession`), the versioned-artifact lifecycle (the
  * atomic `PRODUCTION` pointer and the `BATCH` replay marker,
  * `VersionedStore`) and the runnable mains (the driver contract, the
  * daily jobs and the one dev `Probe`). A copy of one
  * outside its owners fails here, so the mechanisms and the one-off
  * probe mains do not fork again. */
class OwnershipSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[Path] = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.walk(root)) { st =>
      st.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    }
  }

  // "File.scala:line" for each line holding `needle`, outside the `owners`
  private def copiesOf(needle: String, owners: Set[String]): Seq[String] =
    sources.filterNot(p => owners(p.getFileName.toString)).flatMap { p =>
      Files.readAllLines(p).toArray(Array.empty[String]).toSeq.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => s"${root.relativize(p)}:${i + 1}"
      }
    }

  test("the source tree is where the guard looks") {
    assert(Files.isDirectory(root) && sources.exists(_.endsWith("graft/SessionCaches.scala")))
  }

  for ((needle, owners) <- Seq(
      "Trigger.AvailableNow" -> Set("Drain.scala"),
      "newFixedThreadPool" -> Set("StreamPools.scala"),
      "SessionCaches.register" -> Set("SessionCaches.scala"),
      "applicationId + \"#\"" -> Set("SessionCaches.scala"),
      "SparkSession.builder()" -> Set("GraftSession.scala"),
      "conf.set(" -> Set("GraftSession.scala"),
      "conf.unset(" -> Set("GraftSession.scala"),
      "localCheckpoint(" -> Set("SessionCaches.scala"),
      "unpersistLocalCheckpoint(" -> Set("SessionCaches.scala"),
      "ATOMIC_MOVE" -> Set("VersionedStore.scala"),
      "resolve(\"PRODUCTION\")" -> Set("VersionedStore.scala"),
      "resolve(\"BATCH\")" -> Set("VersionedStore.scala"),
      "def main(" -> Set("Verify.scala", "Bench.scala", "Jobs.scala", "Probe.scala")))
    test(s"`$needle` appears only in ${owners.mkString(", ")}") {
      val copies = copiesOf(needle, owners)
      assert(copies.isEmpty, s"copies outside ${owners.mkString(", ")}: ${copies.mkString(", ")}")
    }

  test("no source sets partitionOverwriteMode on the session, only on the write that needs it") {
    val copies = Seq("spark.sql.sources.partitionOverwriteMode", "PARTITION_OVERWRITE_MODE")
      .flatMap(copiesOf(_, Set.empty))
    assert(copies.isEmpty, s"session-wide partitionOverwriteMode at ${copies.mkString(", ")}")
  }
}
