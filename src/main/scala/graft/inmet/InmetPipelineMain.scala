package graft.inmet

import org.apache.spark.sql.SparkSession

/** CLI entry point for the full INMET pipeline — the engine's equivalent of
  * the reference's `spark-submit job_parquet.py` + DAG chain. Usage:
  *
  *   runMain graft.inmet.InmetPipelineMain <csvGlob> <stageDir> <analyticDir> [--partitioned|--catalog]
  *
  * `--partitioned` writes the hourly fact in the ano/mes directory-
  * partitioned layout (graft.sources.Layout) — the stage layout a
  * 100 TB deployment would use for partition-pruned time scans.
  * `--catalog` runs the warehouse chain through the session catalog
  * (saveAsTable + SQL CTAS into `stage`/`analitic` schemas); stageDir is
  * then used as the warehouse dir and analyticDir is ignored.
  */
object InmetPipelineMain {
  def main(args: Array[String]): Unit = {
    val modes = Set("--partitioned", "--catalog")
    require(args.length == 3 || (args.length == 4 && modes(args(3))),
      "usage: InmetPipelineMain <csvGlob> <stageDir> <analyticDir> [--partitioned|--catalog]")
    val Array(inputGlob, stageDir, analyticDir) = args.take(3)
    val partitioned = args.length == 4 && args(3) == "--partitioned"
    val catalog = args.length == 4 && args(3) == "--catalog"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("graft-inmet-pipeline")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // Testdata parquet timestamps carry isAdjustedToUTC=false; read them as
      // session-TZ (UTC) TIMESTAMP, not TIMESTAMP_NTZ, so timestamp functions
      // (unix_micros, watermarks) keep their pre-Spark-4-inference semantics.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // warehouse dir is a static conf — set before session creation
    if (catalog) builder.config("spark.sql.warehouse.dir", stageDir)
    val spark = builder
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (catalog) {
      Pipeline.runCatalog(spark, inputGlob)
      val n = spark.sql("SELECT count(*) FROM analitic.cidade_kpis_mensal")
        .collect()(0).getLong(0)
      println(s"[inmet] catalog run complete: warehouse=$stageDir " +
        s"(analitic.cidade_kpis_mensal: $n rows)")
      spark.stop()
      return
    }
    if (partitioned) {
      Pipeline.runWith(spark, inputGlob, stageDir, analyticDir) { previsoes =>
        graft.sources.Layout.previsoesPartitioned(previsoes, s"$stageDir/previsoes")
        spark.read.parquet(s"$stageDir/previsoes").drop("ano", "mes")
      }
    } else {
      Pipeline.run(spark, inputGlob, stageDir, analyticDir)
    }
    println(s"[inmet] pipeline complete: stage=$stageDir analytic=$analyticDir" +
      (if (partitioned) " (partitioned previsoes)" else ""))
    spark.stop()
  }
}
