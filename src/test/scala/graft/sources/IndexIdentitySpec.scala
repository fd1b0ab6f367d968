package graft.sources

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Each persisted index identity has one definition: [[IndexStore]] keys
  * a snapshot by its (source table, name) alone, so whichever call site
  * builds first wins, and a second `IndexStore.cached*Table` call with
  * the same literal identity is a copy of the build that can drift.
  * This spec reads `src/main/scala` and fails on any such copy. */
class IndexIdentitySpec extends AnyFunSuite {

  private val call =
    """IndexStore\.cached(?:Bucket|Partitioned)?Table\(\s*spark,\s*dir,\s*"([^"]+)",\s*"([^"]+)"""".r

  /** (source table, name) -> its literal call sites, as file:line. */
  private def identities(root: Path): Map[(String, String), Seq[String]] = {
    val files = Files.walk(root)
    try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .toSeq
      .flatMap { f =>
        val text = new String(Files.readAllBytes(f), "UTF-8")
        call.findAllMatchIn(text).map { m =>
          val line = text.substring(0, m.start).count(_ == '\n') + 1
          (m.group(1), m.group(2)) -> s"${root.relativize(f)}:$line"
        }
      }
      .groupMap(_._1)(_._2)
    finally files.close()
  }

  test("every literal snapshot identity is defined at one call site") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val ids = identities(root)
    // the scan must see the families it guards
    Seq("documents" -> "mhband", "documents" -> "mhbandrw",
      "embeddings" -> "ivfsq_cent", "embeddings" -> "ivfsq_post",
      "embeddings" -> "ivfsq_cent_base", "embeddings" -> "ivfsq_post_base",
      "embeddings" -> "ivfsq_post_rw").foreach { id =>
      assert(ids.contains(id), s"no call site found for $id")
    }
    val copies = ids.filter(_._2.size > 1)
    if (copies.nonEmpty) fail(copies.map { case ((src, name), at) =>
      s"$src/$name defined ${at.size} times: ${at.mkString(", ")}"
    }.mkString("\n"))
  }
}
