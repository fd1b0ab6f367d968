package graft.inmet

import graft.SparkSuite
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pipeline.stage reads the stage tables through the DSv2 reader; Ingest's
  * Catalyst plan, which the DuckDB oracle mirrors, is the reference. The
  * adversarial corpus (InmetCorpus), built to hit every place where the
  * two parsers could disagree, must give the same `previsoes` and
  * `cidades` multisets through both. */
class StageParitySpec extends SparkSuite {

  private lazy val glob: String =
    InmetCorpus.adversarial(resourcePath("/inmet"))

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).view
      .mapValues(_.size).toMap

  private lazy val lines = Ingest.readLines(spark, glob)
  private lazy val st = Pipeline.stage(spark, glob)

  test("previsoes: DSv2 stage equals the Ingest plan on the adversarial corpus") {
    val want = Ingest.previsoes(spark, lines)
    assert(multiset(st.previsoes) === multiset(want))
    val byDay = want.select(col("wmo"), col("data_medicao").cast("string"),
      col("precipitacao_mm"), col("temperatura_c"), col("vento_mps"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // the cases the corpus is built for did happen
    assert(want.filter(col("wmo") === "P001").count() === 7L)
    assert(byDay(("P001", "2024-01-01"))._2 === 0.0) // tab is not trimmed
    assert(byDay(("P001", "2024-01-02"))._2 === 21.5)
    assert(byDay(("P001", "2024-01-03")) === ((0.0, 0.0, 2.1)))
    assert(byDay(("P001", "2024-01-04")) === ((0.7, -0.5, 2.1)))
    assert(byDay.keys.filter(_._1 == "P002").map(_._2).toSet ===
      Set("2023-04-30", "2024-02-29", "2023-02-28"))
    assert(byDay(("P003", "2024-03-01"))._3 === 0.0)
    assert(want.filter(col("wmo").isNull).count() === 1L)
    assert(byDay(("P005", "2024-03-03")) === ((1.0, 20.0, 2.1)))
    assert(byDay.contains(("P006", "2024-03-01")))
    assert(byDay.keys.filter(_._1 == "P007").map(_._2).toSet ===
      Set("2024-03-05", "2024-03-06"))
  }

  test("cidades: DSv2 station face equals the Ingest plan on the adversarial corpus") {
    val raw = Ingest.stationHeadersRaw(lines)
    val stations = spark.read.format("graft.sources.v2.InmetSource")
      .option("section", "stations").load(glob)
    assert(multiset(stations) === multiset(raw.drop("file")))
    assert(multiset(st.cidades) === multiset(Ingest.cidades(raw)))
    val late = raw.filter(col("data_fundacao") === "01/01/2020").collect()
    assert(late.toSeq.map(r => Seq("uf", "estacao", "wmo").map(r.getAs[String])) ===
      Seq(Seq("\tMG", "B", "P007")))
    assert(raw.count() === 7L) // every file but no_meta.csv
  }

  test("the station table is written as one file") {
    val out = Files.createTempDirectory("inmet_parity_out").resolve("cidades")
    st.cidades.write.parquet(out.toString)
    assert(out.toFile.list().count(_.endsWith(".parquet")) === 1)
  }

  test("an unknown section is refused") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.v2.InmetSource")
        .option("section", "hourlies").load(glob).schema
    }
    assert(e.getMessage.contains("hourlies"))
  }
}
