package graft

import java.nio.file.{Files, Path, Paths}

/** Each repeated mechanism has one owner: the bounded stream drain
  * (`Drain`), the batch-action pool (`StreamPools`) and the memo key
  * format (`SessionCaches`). A copy of one outside its owner fails
  * here, so the mechanisms do not fork again. */
class OwnershipSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[Path] = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.walk(root)) { st =>
      st.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    }
  }

  // "File.scala:line" for each line holding `needle`, outside `owner`
  private def copiesOf(needle: String, owner: String): Seq[String] =
    sources.filterNot(_.getFileName.toString == owner).flatMap { p =>
      Files.readAllLines(p).toArray(Array.empty[String]).toSeq.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => s"${root.relativize(p)}:${i + 1}"
      }
    }

  test("the source tree is where the guard looks") {
    assert(Files.isDirectory(root) && sources.exists(_.endsWith("graft/SessionCaches.scala")))
  }

  for ((needle, owner) <- Seq(
      "Trigger.AvailableNow" -> "Drain.scala",
      "newFixedThreadPool" -> "StreamPools.scala",
      "SessionCaches.register" -> "SessionCaches.scala",
      "applicationId + \"#\"" -> "SessionCaches.scala"))
    test(s"`$needle` appears only in $owner") {
      val copies = copiesOf(needle, owner)
      assert(copies.isEmpty, s"copies outside $owner: ${copies.mkString(", ")}")
    }
}
