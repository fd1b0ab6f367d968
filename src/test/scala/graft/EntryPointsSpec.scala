package graft

import java.lang.reflect.Modifier
import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The program's entry points are a fixed set: a new `main` (a one-off
  * probe, say) fails this spec until it is listed here on purpose. */
class EntryPointsSpec extends AnyFunSuite {

  private val expected = Set(
    "graft.Bench", "graft.Verify",
    "graft.inmet.InmetPipelineMain", "graft.streaming.StreamingDemoMain",
    "graft.tools.StarGen",
    "graft.tools.LifecycleStressMain", "graft.tools.SemanticServeMain")

  /** Every compiled main class with a static `main(Array[String])`: the
    * forwarder scalac gives an object's `main`, or a Java-style main. */
  private def mainClasses(root: Path): Set[String] = {
    val files = Files.walk(root)
    try files.iterator().asScala
      .map(root.relativize(_).toString)
      .filter(f => f.endsWith(".class") && !f.contains("$"))
      .map(_.stripSuffix(".class").replace(java.io.File.separatorChar, '.'))
      .filter { name =>
        val c = Class.forName(name, false, getClass.getClassLoader)
        c.getMethods.exists(m => m.getName == "main" &&
          Modifier.isStatic(m.getModifiers) &&
          m.getParameterTypes.sameElements(Seq(classOf[Array[String]])))
      }.toSet
    finally files.close()
  }

  test("src/main has exactly the listed entry points") {
    val root = Paths.get(
      Bench.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    assert(Files.isDirectory(root), root)
    assert(mainClasses(root) === expected)
  }
}
