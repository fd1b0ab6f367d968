package graft.sources

import graft.SparkSuite
import graft.sources.v2.InmetPartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Scale-shape invariants of the INMET DataSource V2 at a file count
  * beyond the 3-file driver fixture: files packed into as many splits as
  * Spark's text source makes of them (each file read by exactly one
  * task), pushdown strings surviving the many-file plan, and micro-batch
  * replay row parity with the batch scan. */
class InmetV2ScaleSpec extends SparkSuite {

  private val fmt = "graft.sources.v2.InmetSource"
  private val nFiles = 40

  /** Template the A507 fixture into `nFiles` distinct-station copies
    * (2 days of hourly rows each) — same generator shape as
    * tools/gen_inmet_files.py, in-JVM. */
  private lazy val dir: String = {
    val src = java.nio.file.Paths.get(
      resourcePath("/inmet/INMET_SE_MG_A507_UBERLANDIA.csv"))
    val lines = new String(java.nio.file.Files.readAllBytes(src),
      "ISO-8859-1").split("\n", -1).toSeq
    val (meta, rest) = (lines.take(8), lines.drop(8))
    val colHeader = rest.head
    val data = rest.tail.filter(_.trim.nonEmpty).take(48)
    val out = java.nio.file.Files.createTempDirectory("graft_v2scale")
    (0 until nFiles).foreach { i =>
      val code = f"Y$i%04d"
      val m = meta.updated(2, s"ESTACAO:;SYNTH$i")
        .updated(3, s"CODIGO (WMO):;$code")
      java.nio.file.Files.write(
        out.resolve(s"INMET_SE_MG_${code}_SYNTH$i.csv"),
        ((m ++ (colHeader +: data)).mkString("\n") + "\n")
          .getBytes("ISO-8859-1"))
    }
    out.toString
  }

  test("files pack like the text source at 40 files") {
    val glob = s"$dir/*.csv"
    val df = spark.read.format(fmt).load(glob)
    val splits = df.queryExecution.executedPlan.collectFirst {
      case s: BatchScanExec => s.inputPartitions.map(_.asInstanceOf[InmetPartition].files)
    }.get
    assert(splits.size === spark.read.text(glob).rdd.getNumPartitions)
    assert(splits.size < nFiles)
    val read = splits.flatten.map(new org.apache.hadoop.fs.Path(_).getName)
    assert(read.sorted === new java.io.File(dir).list().toSeq.sorted)
    assert(df.count() === nFiles * 48L)
  }

  test("pruning + date pushdown survive the many-file plan") {
    val q = spark.read.format(fmt).load(s"$dir/*.csv")
      .filter(col("data_medicao") === lit(java.sql.Date.valueOf("2025-01-02")))
      .select("wmo", "temperatura_c")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    // the filter column rides along for residual evaluation; the other
    // 16 parsed columns are pruned away
    assert(scan.contains("ReadSchema: [wmo,data_medicao,temperatura_c]"), scan)
    assert(scan.contains("PushedFilters: [EqualTo(data_medicao"), scan)
    assert(q.count() === nFiles * 24L)
  }

  test("micro-batch replay equals the batch scan at 40 files") {
    val agg = spark.readStream.format(fmt)
      .option("maxFilesPerTrigger", "10").load(s"$dir/*.csv")
      .groupBy("wmo").agg(count(lit(1)).as("n"))
    graft.streaming.StreamingQueries.withStreamPartitions(spark, 4) {
      val q = agg.writeStream.format("memory")
        .option("checkpointLocation",
          graft.streaming.StreamingQueries.replayCheckpoint("v2scale"))
        .queryName("graft_v2scale").outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
    }
    val got = spark.table("graft_v2scale").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size === nFiles)
    assert(got.values.forall(_ === 48L))
  }
}
