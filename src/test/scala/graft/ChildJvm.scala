package graft

/** Launch a graft.tools main in a REAL second JVM — the cross-process
  * half of the lifecycle specs (a thread race shares the JVM-wide
  * IndexStore lock; only a separate process exercises the filesystem
  * coordination protocol itself). Shared by ConcurrentLifecycleSpec
  * and MajorRewriteSpec. */
object ChildJvm {

  /** One command builder for both entry points — a second copy of the
    * add-opens list would drift (r14 advice). */
  private def launch(mainClass: String, args: Seq[String],
      props: Seq[String]): (Process, java.nio.file.Path) = {
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val log = java.nio.file.Files.createTempFile("child_jvm", ".log")
    // the parent's temp dir, so both processes share one index store
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx3g",
      "-Dspark.sql.session.timeZone=UTC",
      s"-Djava.io.tmpdir=${System.getProperty("java.io.tmpdir")}") ++
      props.map(p => s"-D$p") ++
      Seq("-cp", System.getProperty("java.class.path"), mainClass) ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log.toFile)
    (pb.start(), log)
  }

  def run(mainClass: String, args: Seq[String],
      timeoutSec: Long = 180): (Int, String) = {
    val (child, log) = launch(mainClass, args, Seq.empty)
    assert(child.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS),
      s"child JVM timed out; log: ${java.nio.file.Files.readString(log)}")
    (child.exitValue(), java.nio.file.Files.readString(log))
  }

  /** Start without waiting — for races where the parent must observe
    * the child mid-flight. Returns the process and its log path. */
  def start(mainClass: String, args: Seq[String],
      props: Seq[String] = Seq.empty): (Process, java.nio.file.Path) =
    launch(mainClass, args, props)
}
