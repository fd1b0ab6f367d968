package graft.inmet

import graft.SparkSuite
import graft.sources.v2.InmetSource
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** Property-based coverage of the cleansing scalars (SURVEY.md §5.4):
  * decimal-comma round-trips, date-parser totality across the three INMET
  * formats, calendar density. ScalaCheck generators drive the cases; each
  * property is evaluated in one Spark pass (generate inputs -> single
  * DataFrame -> assert on results). */
class IngestPropertySpec extends SparkSuite {
  import spark.implicits._

  test("commaDouble round-trips any 0-4 decimal numeral written with a comma") {
    val gen = for {
      sign <- Gen.oneOf("", "-")
      whole <- Gen.choose(0L, 999999L)
      decimals <- Gen.choose(0, 4)
      frac <- Gen.listOfN(decimals, Gen.choose(0, 9))
    } yield {
      val s = if (decimals == 0) s"$sign$whole"
      else s"$sign$whole,${frac.mkString}"
      val expected = s.replace(',', '.').toDouble
      (s, expected)
    }
    val cases = Gen.listOfN(300, gen).sample.get
    val got = cases.map(_._1).toDF("s")
      .select(Ingest.commaDouble($"s")).as[Option[Double]].collect()
    cases.map(_._2).zip(got).foreach { case (want, gotV) =>
      assert(gotV.contains(want), s"expected $want got $gotV")
    }
  }

  test("parseDateFlexible is total: every generated date parses in all three formats") {
    val dates = Gen.listOfN(200, Gen.choose(0L, 20000L)).sample.get
      .map(LocalDate.ofEpochDay)
    val rows = dates.flatMap { d =>
      Seq(
        d.format(DateTimeFormatter.ofPattern("yyyy/MM/dd")) -> d,
        d.format(DateTimeFormatter.ofPattern("dd/MM/yyyy")) -> d,
      ) ++ (if (d.getYear >= 2000 && d.getYear < 2080)
        // dd/MM/yy resolves 2-digit years into [2000, 2080) in both
        // the engine and pandas' dayfirst heuristic for this data
        Seq(d.format(DateTimeFormatter.ofPattern("dd/MM/yy")) -> d)
      else Seq.empty)
    }
    val got = rows.map(_._1).toDF("s")
      .select(Ingest.parseDateFlexible($"s")).as[Option[java.sql.Date]]
      .collect()
    rows.zip(got).foreach { case ((s, want), gotV) =>
      assert(gotV.map(_.toLocalDate).contains(want), s"'$s' -> $gotV != $want")
    }
  }

  test("parseDateFlexible never throws on arbitrary junk (coerce-to-null)") {
    val junk = Gen.listOfN(300,
      Gen.oneOf(Gen.alphaNumStr, Gen.asciiPrintableStr,
        Gen.const("99/99/9999"), Gen.const("0000/00/00"),
        Gen.const("2025/13/40"), Gen.const("///"), Gen.const("12/34")))
      .sample.get
    // must evaluate without exception under ANSI defaults; result is
    // null-or-valid for every row
    val out = junk.toDF("s")
      .select(Ingest.parseDateFlexible($"s")).as[Option[java.sql.Date]]
      .collect()
    assert(out.length === junk.length)
  }

  test("calendar density: sequence covers every day exactly once for random ranges") {
    val ranges = Gen.listOfN(30, for {
      a <- Gen.choose(10000L, 21000L)
      len <- Gen.choose(0L, 500L)
    } yield (a, a + len)).sample.get
    val df = ranges.toDF("a", "b")
      .select(
        col("a"), col("b"),
        explode(sequence(
          to_date(from_unixtime(col("a") * 86400)),
          to_date(from_unixtime(col("b") * 86400)))).as("d"))
    val counts = df.groupBy("a", "b").agg(
      count(lit(1)).as("n"),
      countDistinct(col("d")).as("nd"))
      .collect()
    counts.foreach { r =>
      val want = r.getLong(1) - r.getLong(0) + 1
      assert(r.getLong(2) === want)
      assert(r.getLong(3) === want)
    }
  }

  test("the DSv2 reader's date parser agrees with parseDateFlexible") {
    // calendar edges in every shape: Feb 29 in leap and common years,
    // Feb 30, Apr 31, day/month 0 and 13, 2-digit years, space/tab padding
    val date = for {
      y <- Gen.oneOf(Gen.oneOf(1900, 2000, 2023, 2024, 2100), Gen.choose(0, 9999))
      m <- Gen.oneOf(Gen.oneOf(2, 4), Gen.choose(0, 13))
      d <- Gen.oneOf(Gen.oneOf(28, 29, 30, 31), Gen.choose(0, 32))
      shape <- Gen.choose(0, 2)
      pad <- Gen.oneOf("", " ", "\t", "  ")
    } yield pad + (shape match {
      case 0 => f"$y%04d/$m%02d/$d%02d"
      case 1 => f"$d%02d/$m%02d/$y%04d"
      case _ => f"$d%02d/$m%02d/${y % 100}%02d"
    }) + pad
    val cases = (Gen.listOfN(600, date).sample.get ++
      Seq("2023/02/29", "2024/02/29", "2023/02/30", "31/04/2023",
        "29/02/23", "29/02/24", "29/02/00", "2024/2/29", "",
        "0000/01/01", "01/01/0000", "0000/02/29", "9999/12/31")).distinct
    // days since the epoch on both sides: a java.sql.Date would shift
    // dates before the Gregorian switch
    val got = cases.toDF("s")
      .select(unix_date(Ingest.parseDateFlexible($"s"))).as[Option[Int]]
      .collect()
    cases.zip(got).foreach { case (s, want) =>
      val day = InmetSource.epochDay(s)
      assert((if (day == InmetSource.NoDate) None else Some(day)) === want, s"'$s'")
    }
    assert(got.count(_.isDefined) > 100) // the valid dates are not all lost
  }

  test("the DSv2 reader's numeral parser equals commaDouble bit for bit") {
    val digits = Gen.listOf(Gen.numChar).map(_.mkString)
    val longDigits = Gen.choose(16, 30).flatMap(Gen.listOfN(_, Gen.numChar)).map(_.mkString)
    val numeral = for {
      sign <- Gen.frequency(4 -> "", 4 -> "-", 1 -> "+", 1 -> "--")
      whole <- Gen.oneOf(digits, longDigits, Gen.const("0"), Gen.const(""))
      point <- Gen.frequency(3 -> "", 3 -> ",", 2 -> ".", 1 -> ",,")
      frac <- Gen.oneOf(digits, longDigits, Gen.const("0000000000000000000000001"))
      pad <- Gen.oneOf("", " ", "\t", "  ", " \t")
      tail <- Gen.frequency(8 -> "", 1 -> " ", 1 -> "\t", 1 -> "-", 1 -> "e5")
    } yield pad + sign + whole + point + frac + tail + pad
    val cases = (Gen.listOfN(2000, numeral).sample.get ++ Seq(
      "-0", "0", ",5", "-,5", "1,", "-", ".", ",", "", "nan", "NaN", "1e5",
      "+1", "1-2", "-0,0", "915,6", " 87 ", "\t21,5", "Infinity", "1,2,3",
      "12345678901234567890", "0,12345678901234567890123", "9007199254740993",
      "0,1000000000000000055511151231257827")).distinct
    val got = cases.toDF("s").select(Ingest.commaDouble($"s"))
      .as[Option[Double]].collect()
    cases.zip(got).foreach { case (s, want) =>
      val v = InmetSource.commaNumeral(s)
      want match {
        case Some(w) => assert(java.lang.Double.compare(v, w) === 0, s"'$s': $v != $w")
        case None => assert(v.isNaN, s"'$s': $v, want null")
      }
    }
    assert(got.count(_.isDefined) > 300) // the valid numerals are not all lost
  }
}
