package graft.inmet

import graft.SparkSuite
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pipeline.stage reads the stage tables through the DSv2 reader; Ingest's
  * Catalyst plan, which the DuckDB oracle mirrors, is the reference. A
  * corpus in both fixture layouts, built to hit every place where the two
  * parsers could disagree, must give the same `previsoes` and `cidades`
  * multisets through both. */
class StageParitySpec extends SparkSuite {

  private def fixture(name: String): Seq[String] =
    new String(Files.readAllBytes(Paths.get(resourcePath(s"/inmet/$name"))),
      StandardCharsets.UTF_8).split("\n", -1).toSeq

  // A507 layout: yyyy/MM/dd rows with a trailing `;`, dd/MM/yy foundation
  private val isoFile = fixture("INMET_SE_MG_A507_UBERLANDIA.csv")
  // A509 layout: dd/MM/yyyy rows, no trailing `;`
  private val dayFirstFile = fixture("INMET_SE_MG_A509_MONTEVERDE.csv")

  private def meta(code: String, founded: String = "18/12/02"): Seq[String] =
    Seq("REGIAO:;SE", "UF:;MG", s"ESTACAO:;STATION $code",
      s"CODIGO (WMO):;$code", "LATITUDE:;-18,9", "LONGITUDE:;-48,2",
      "ALTITUDE:;874,77", s"DATA DE FUNDACAO:;$founded")

  /** A data row of the 19-column layout: precipitation, pressure max,
    * temperature, humidity and wind at their fixture positions. */
  private def row(date: String, precip: String, temp: String,
      wind: String = "2,1", trailing: Boolean = true): String = {
    val c = Array.fill(19)("")
    c(0) = date; c(1) = "0000 UTC"; c(2) = precip; c(4) = "915,6"
    c(7) = temp; c(15) = "87"; c(18) = wind
    c.mkString(";") + (if (trailing) ";" else "")
  }

  private lazy val glob: String = {
    val dir = Files.createTempDirectory("inmet_parity")
    def write(name: String, lines: Seq[String], eol: String = "\n"): Unit = {
      val _ = Files.write(dir.resolve(name),
        lines.mkString("", eol, eol).getBytes(StandardCharsets.UTF_8))
    }
    val isoHeader = isoFile(8)
    val dayFirstHeader = dayFirstFile(8)
    write("iso_days.csv", meta("P001") ++ Seq(isoHeader,
      row("2023/02/28", "0", "21,2"),
      row("2023/02/29", "0", "21,2"), // not a leap year
      row("2023/02/30", "0", "21,2"), // invalid calendar day
      row("2024/02/29", "1,5", "22"), // leap day
      row("2024/01/01", "0", "\t21,5"), // tab-padded numeral
      row("2024/01/02", "0", " 21,5 "), // space-padded numeral
      row("2024/01/03", "nan", "1e5"),
      row("2024/01/04", ",7", "-,5"),
      row(" 2024/01/05", "0", "20"), // not a data line: leading space
      "2024/01/06;0000 UTC")) // truncated row
    write("day_first.csv", meta("P002", "19/12/2004") ++ Seq(dayFirstHeader,
      row("30/04/2023", "0", "18", trailing = false),
      row("31/04/2023", "0", "18", trailing = false), // invalid calendar day
      row("29/02/2024", "0", "18", trailing = false),
      row("29/02/23", "0", "18", trailing = false), // 2-digit, non-leap
      row("28/02/23", "0", "18", trailing = false),
      row("1/03/2024", "0", "18", trailing = false))) // not a data line
    // no wind column at all: vento_mps zero-fills
    write("missing_col.csv", meta("P003") ++ Seq(
      isoHeader.split(";").dropRight(1).mkString(";"),
      row("2024/03/01", "0", "19", wind = "9,9")))
    write("no_wmo.csv",
      meta("P004").filterNot(_.startsWith("CODIGO")) ++ Seq(isoHeader,
        row("2024/03/02", "0", "19")))
    // a second, different header that sorts first: Ingest reads every
    // row of the file with its lexicographically smallest header
    val swapped = {
      val h = isoHeader.split(";", -1)
      h.updated(7, h(2)).updated(2, h(7)).mkString(";")
    }
    assert(isoHeader < swapped)
    write("two_headers.csv", meta("P005") ++ Seq(swapped,
      row("2024/03/03", "1", "20"), isoHeader, row("2024/03/04", "2", "21")))
    // CRLF line ends and a UTF-8 byte-order mark
    write("crlf_bom.csv", ("\uFEFF" + meta("P006").head) +:
      (meta("P006").tail ++ Seq(dayFirstHeader,
        row("01/03/2024", "0", "17", trailing = false))), eol = "\r\n")
    // station code after the header, a data line before it, duplicate
    // and oddly spaced keys: first one wins, values after the last `:;`
    write("late_meta.csv", Seq(row("2024/03/05", "3", "23"),
      "REGIAO:;SE", " uf :;\tMG ", "UF:;XX", "ESTACAO:;A:;B",
      "LATITUDE:;-18,9", "DATA DE FUNDACAO:;01/01/2020", isoHeader,
      row("2024/03/06", "4", "24"), "CODIGO (WMO):;P007",
      "CODIGO (WMO):;P999"))
    // no metadata line at all: no station, and no hourly rows
    write("no_meta.csv", Seq(isoHeader, row("2024/03/07", "0", "19")))
    dir.toString + "/*.csv"
  }

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
