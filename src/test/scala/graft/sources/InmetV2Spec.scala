package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** DataSource V2 reader for the INMET station-CSV micro-format: row
  * parity with the Ingest path, column pruning, and filter pushdown. */
class InmetV2Spec extends SparkSuite {

  private val glob = resourcePath("/inmet") + "/*.csv"
  private val fmt = "graft.sources.v2.InmetSource"

  private def v2 = spark.read.format(fmt).load(glob)

  test("row parity: V2 scan equals the Ingest previsoes relation") {
    def multiset(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val viaV2 = v2.collect()
    val viaIngest = graft.inmet.Ingest
      .previsoes(spark, graft.inmet.Ingest.readLines(spark, glob))
      .collect()
    assert(viaV2.length === 13032)
    assert(multiset(viaV2) === multiset(viaIngest))
  }

  test("column pruning reaches the scan (ReadSchema shrinks)") {
    val pruned = v2.select("wmo", "temperatura_c")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("ReadSchema: [wmo,temperatura_c]"), scan)
    assert(pruned.distinct().count() > 0)
  }

  test("date-range filter pushes into the scan and rows match a post-filter") {
    val lo = "2025-03-01"
    val hi = "2025-04-01"
    val filtered = v2.filter(col("data_medicao") >= lit(lo) &&
      col("data_medicao") < lit(hi))
    val scan = filtered.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters: [") &&
      scan.contains("data_medicao"), scan)
    val expected = v2.collect()
      .count { r =>
        val d = r.getDate(1).toLocalDate
        !d.isBefore(java.time.LocalDate.parse(lo)) &&
          d.isBefore(java.time.LocalDate.parse(hi))
      }
    assert(filtered.count() === expected)
    assert(expected === 3L * 31L * 24L) // 3 stations, hourly March
  }

  test("registered gate query q_inmet_dsv2 pushes its date range into the scan") {
    val df = graft.operators.InmetQueries.inmetDsv2(spark, "unused")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("InmetScan"), scan)
    assert(scan.contains("GreaterThanOrEqual(data_medicao") &&
      scan.contains("LessThan(data_medicao"), scan)
    // only the 2 columns the rollup needs are read
    assert(scan.contains("ReadSchema: [wmo,data_medicao,temperatura_c]"), scan)
  }

  test("micro-batch stream equals the batch scan and picks up new files") {
    val dir = java.nio.file.Files.createTempDirectory("inmet_stream").toFile
    val src = new java.io.File(resourcePath("/inmet"))
    val files = src.listFiles().filter(_.getName.endsWith(".csv")).sortBy(_.getName)
    def copyIn(f: java.io.File): Unit = {
      val _ = java.nio.file.Files.copy(f.toPath,
        new java.io.File(dir, f.getName).toPath)
    }
    copyIn(files(0)); copyIn(files(1))
    val glob = dir.getAbsolutePath + "/*.csv"
    val q = spark.readStream.format(fmt).load(glob)
      .writeStream.format("memory").queryName("inmet_mb")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val afterTwo = spark.table("inmet_mb").count()
      assert(afterTwo === spark.read.format(fmt).load(glob).count())
      copyIn(files(2)) // a newly-landed station file becomes its own batch
      q.processAllAvailable()
      assert(spark.table("inmet_mb").count() === 13032L) // full 3-station estate
    } finally q.stop()
  }

  test("wmo equality pushes down and short-circuits non-matching files") {
    val one = v2.filter(col("wmo") === "A507")
    val scan = one.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("EqualTo(wmo,A507)"), scan)
    assert(one.count() === 4344)
    assert(one.select("wmo").distinct().collect().map(_.getString(0)).toSeq
      === Seq("A507"))
  }
}
