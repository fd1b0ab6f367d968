package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // Testdata parquet timestamps carry isAdjustedToUTC=false; read them as
      // session-TZ (UTC) TIMESTAMP, not TIMESTAMP_NTZ, so timestamp functions
      // (unix_micros, watermarks) keep their pre-Spark-4-inference semantics.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q_a,q_b narrows the dump for focused iteration.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
      // Bench-style between-query hygiene: the serve chains pin
      // persisted-RDD leaves (winnowPairs contract — callers unpersist)
      // and the streaming replays register memory-sink views; this loop
      // runs all 222 queries in ONE JVM, so without a release here the
      // MEMORY_ONLY blocks of every preceding query stay resident for
      // the whole dump (eviction keeps results correct, but memory
      // pressure can slow or destabilize the run).
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && t.name.startsWith("graft_stream"))
        .foreach(t => spark.catalog.dropTempView(t.name))
      // the winnow-materialize sites register their persisted frames in
      // a release queue (Bench's contract); without draining it here the
      // queue retains one analyzed plan tree per construction for the
      // whole 223-query dump
      graft.operators.Dedup.releaseMaterialized()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // after the dump and oracle_sql.json are written: a failed query
    // makes the run fail, not just log
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
