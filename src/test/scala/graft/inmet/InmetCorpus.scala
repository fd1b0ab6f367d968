package graft.inmet

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** A small INMET corpus in both fixture layouts, built to hit every place
  * where the DSv2 reader and Ingest's plan could disagree: invalid
  * calendar days, padded and malformed numerals, a missing measure
  * column, no station code, two different headers, CRLF and a BOM,
  * metadata after the header, a file without metadata, and numerals
  * whose cents overflow a long. */
object InmetCorpus {

  private def fixture(dir: String, name: String): Seq[String] =
    new String(Files.readAllBytes(Paths.get(dir, name)),
      StandardCharsets.UTF_8).split("\n", -1).toSeq

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

  /** Writes the corpus into a new temporary directory, taking the two
    * header layouts from the fixtures in `fixtureDir`; returns its glob. */
  def adversarial(fixtureDir: String): String = {
    // A507 layout: yyyy/MM/dd rows with a trailing `;`, dd/MM/yy foundation
    val isoFile = fixture(fixtureDir, "INMET_SE_MG_A507_UBERLANDIA.csv")
    // A509 layout: dd/MM/yyyy rows, no trailing `;`
    val dayFirstFile = fixture(fixtureDir, "INMET_SE_MG_A509_MONTEVERDE.csv")
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
    // and oddly spaced keys: first one wins, values after the last `:;`;
    // 20-digit numerals, finite doubles whose cents overflow a long
    write("late_meta.csv", Seq(row("2024/03/05", "3", "23"),
      "REGIAO:;SE", " uf :;\tMG ", "UF:;XX", "ESTACAO:;A:;B",
      "LATITUDE:;-18,9", "DATA DE FUNDACAO:;01/01/2020", isoHeader,
      row("2024/03/06", "4", "24"),
      row("2024/03/06", "98765432109876543210", "12345678901234567890"),
      "CODIGO (WMO):;P007",
      "CODIGO (WMO):;P999"))
    // no metadata line at all: no station, and no hourly rows
    write("no_meta.csv", Seq(isoHeader, row("2024/03/07", "0", "19")))
    dir.toString + "/*.csv"
  }

}
