package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

/** Filesystem-facing source utilities (SURVEY.md §2.1 S1/S2, §7.3).
  * Directory enumeration goes through the Hadoop FileSystem API directly —
  * the same calls work against local FS, HDFS, or object stores, with no
  * py4j bridge (contrast the reference's driver-side listing detour). */
object Files {

  /** List file paths under `dir` matching `suffix` (non-recursive). */
  def listFiles(spark: SparkSession, dir: String,
                suffix: String = ""): Seq[String] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Seq.empty
    fs.listStatus(path).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(suffix))
      .map(_.getPath.toString)
      .sorted
  }

  /** Drop the first `n` lines of each file, the `zipWithIndex` route
    * (SURVEY §2.2 P1) — a per-FILE row-number filter. Kept as the general
    * fallback for header formats that can't be classified line-by-line;
    * the INMET ingest itself uses shape classification instead (no extra
    * job to compute partition offsets). Processes one file per call so
    * indices are per-file, not global. */
  def skipLines(spark: SparkSession, file: String, n: Int): Dataset[String] = {
    import spark.implicits._
    spark.read.textFile(file).rdd.zipWithIndex()
      .filter(_._2 >= n).map(_._1)
      .toDS()
  }
}
