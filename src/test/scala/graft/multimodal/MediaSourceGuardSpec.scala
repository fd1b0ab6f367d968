package graft.multimodal

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The media formats share one builder and one decode stage: a new codec
  * is a `Codec` value, not a copied builder or decode loop. This spec
  * reads `Multimodal.scala` (comments stripped) and fails when a second
  * fixture-cache call site, a second per-partition stage over the
  * `(media_id, payload)` pair, or a fixture kind outside the pinned set
  * appears. */
class MediaSourceGuardSpec extends AnyFunSuite {

  private val path = Paths.get("src/main/scala/graft/multimodal/Multimodal.scala")

  /** The file's code: block and line comments removed (a `//` inside a
    * string only truncates that line, which hides nothing these checks
    * look for). */
  private lazy val code: String = {
    assert(Files.isRegularFile(path), path.toAbsolutePath)
    new String(Files.readAllBytes(path), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")
  }

  private def count(regex: String): Int = regex.r.findAllIn(code).size

  /** The fixture kinds: each a FixtureCache identity, so a renamed or
    * re-rendered kind is a new fixture. */
  private val pinnedKinds = Set("png", "jpeg", "wav", "gif", "avi_mjpeg",
    "wav_adpcm", "h264_ipcm_v2", "wav_near", "png_near")

  test("one fixture-cache call site builds every media table") {
    val sites = count("""\bcachedMedia\(""") + count("""FixtureCache\.buildOnce\(""")
    assert(sites === 1, "media tables must be built through the one builder")
  }

  test("one per-partition stage decodes the (media_id, payload) pair") {
    val pairStages = count("""\.as\[\(Long,\s*Array\[Byte\]\)\]\s*\.mapPartitions""")
    assert(pairStages === 1, "decoders must go through the one decode stage")
    // the builder's render over ids plus the decode stage
    assert(count("""\.mapPartitions\b""") <= 2)
  }

  test("every fixture kind is in the pinned set") {
    val kinds = """Codec\(\s*"([^"]+)"""".r.findAllMatchIn(code).map(_.group(1)).toSeq
    assert(kinds.nonEmpty, "the scan found no Codec values")
    assert(kinds.distinct.size === kinds.size, s"duplicate kinds: $kinds")
    assert(kinds.toSet.subsetOf(pinnedKinds),
      s"unpinned fixture kinds: ${kinds.toSet -- pinnedKinds}")
    assert(kinds.toSet === pinnedKinds, "the scan must see every pinned kind")
  }
}
