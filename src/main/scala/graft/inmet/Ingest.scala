package graft.inmet

import java.util.regex.Pattern
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Distributed one-pass ingest of INMET two-section station CSVs.
  *
  * Replicates the cleansing semantics of the reference ETL job
  * (`pyspark-stack/spark-apps/script/job_parquet.py` in the reference repo)
  * but with a Spark-first architecture: instead of a serial per-file driver
  * loop with `.toPandas()` round-trips (job_parquet.py:50-230), ALL files are
  * read in a single `spark.read.text` scan tagged with `input_file_name()`,
  * and lines are classified by shape:
  *
  *   - metadata lines (`KEY:;VALUE`, lines 1-8 of each file)  -> station dim
  *   - the header line (`Data;Hora UTC;...`, line 9)          -> column index map
  *   - data lines (leading `;`-terminated date field)         -> hourly fact
  *
  * This removes the need for `zipWithIndex` row-number filtering
  * (job_parquet.py:117-123) entirely — classification is per-line and
  * embarrassingly parallel, so the plan scales to any number of input files
  * with zero driver involvement beyond a tiny per-file header-index map
  * (one small row per file) that is broadcast back.
  *
  * Pipeline.stage reads the stage tables through the DSv2 reader
  * (graft.sources.v2.InmetSource), whose JVM parser follows these rules
  * line for line (StageParitySpec); this plan stays the reference the
  * DuckDB oracle mirrors.
  *
  * All casts/date-parses are written ANSI-safe (guarded by `rlike`/`size`
  * predicates) so the module behaves identically under
  * `spark.sql.ansi.enabled` true or false.
  */
object Ingest {

  /** Header names (post-sanitize) of the section-2 columns the engine keeps,
    * and their output names — mirrors the rename map at job_parquet.py:149-179.
    * NB `pressao_atm_kpa` is a reference misnomer (source unit is mB/hPa,
    * see the fixture header); we replicate the rename, not a unit conversion.
    */
  val measureRenames: Seq[(String, String)] = Seq(
    "precipitacao_total_horario_mm" -> "precipitacao_mm",
    "pressao_atmosferica_max_na_hora_ant_aut_mb" -> "pressao_atm_kpa",
    "temperatura_do_ar_bulbo_seco_horaria_c" -> "temperatura_c",
    "umidade_relativa_do_ar_horaria" -> "umidade_porcentagem",
    "vento_velocidade_horaria_m_s" -> "vento_mps",
  )
  val measureCols: Seq[String] = measureRenames.map(_._2)

  private val NonAscii = Pattern.compile("[^\\p{ASCII}]")
  private val NonAlnum = Pattern.compile("[^0-9a-zA-Z]+")
  private val EdgeUnderscores = Pattern.compile("^_+|_+$")

  /** NFKD accent-strip + non-alnum -> `_` + lowercase, matching the
    * reference's header sanitizer (job_parquet.py:138-145). Pure JVM —
    * used on header strings only, on the driver and in the DSv2 reader. */
  def sanitize(s: String): String = {
    val norm = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKD)
    val ascii = NonAscii.matcher(norm).replaceAll("")
    EdgeUnderscores.matcher(NonAlnum.matcher(ascii).replaceAll("_"))
      .replaceAll("").toLowerCase
  }

  /** Decimal-comma numeral -> DoubleType; `''`/`None`/`nan` -> null
    * (job_parquet.py:149-173). Accepts leading-comma fractions (`,7` = 0.7).
    * ANSI-safe: the cast only runs on strings the regex proves numeric. */
  def commaDouble(c: Column): Column = {
    val dotted = translate(trim(c), ",", ".")
    // Strict-numeral guard without regex on the hot path: strip digits and
    // accept only pure sign/point residues. This rejects the alternate
    // spellings try_cast would otherwise admit ('nan', 'Infinity', '1e5')
    // while false-positive residues ('1-2' -> '-') still null out in
    // try_cast itself. Equivalent to the old ^-?(\d+\.?\d*|\.\d+)$ rlike,
    // at translate cost instead of two regex evaluations per value.
    val residue = translate(dotted, "0123456789", "")
    when(residue.isin("", ".", "-", "-."),
      dotted.try_cast(org.apache.spark.sql.types.DoubleType))
      .otherwise(lit(null).cast("double"))
  }

  /** Day-first-tolerant date parse accepting `yyyy/MM/dd`, `dd/MM/yyyy` and
    * 2-digit-year `dd/MM/yy`, unparseable -> null — the behavior of
    * `pd.to_datetime(dayfirst=True, errors='coerce')` (job_parquet.py:95-100,
    * :190-191) restricted to the formats that actually occur in INMET files.
    * Format is dispatched by shape, so no parser ever sees a mismatched
    * string (ANSI-safe, no try_* needed). */
  def parseDateFlexible(c: Column): Column = {
    val t = trim(c)
    def tryDate(fmt: String) = call_function("try_to_date", t, lit(fmt))
    when(t.rlike("^\\d{4}/\\d{2}/\\d{2}$"), tryDate("yyyy/MM/dd"))
      .when(t.rlike("^\\d{2}/\\d{2}/\\d{4}$"), tryDate("dd/MM/yyyy"))
      .when(t.rlike("^\\d{2}/\\d{2}/\\d{2}$"), tryDate("dd/MM/yy"))
      .otherwise(lit(null).cast("date"))
  }

  /** ANSI-safe 1-based array element access: null when out of bounds OR
    * when the index is the missing-column sentinel (< 1) from
    * fileColumnIndex — without the lower bound, `element_at(arr, -1)`
    * would silently read the row's LAST field. */
  private def at(arr: Column, idx: Column): Column =
    when(idx >= 1 && size(arr) >= idx, element_at(arr, idx))
      .otherwise(lit(null))

  /** One text scan over every CSV in `inputGlob`, each line tagged with its
    * source file. The single upstream relation for both sections. */
  def readLines(spark: SparkSession, inputGlob: String): DataFrame =
    spark.read.text(inputGlob)
      .select(input_file_name().as("file"), col("value"))

  // ---------------------------------------------------------------- cidades

  /** Section-1 metadata keys (post key-normalize) -> output column. Mirrors
    * job_parquet.py:71-82 (colon-strip + lowercase, then remap). */
  val metaKeys: Seq[(String, String)] = Seq(
    "regiao" -> "regiao", "uf" -> "uf", "estacao" -> "estacao",
    "codigo (wmo)" -> "wmo", "latitude" -> "latitude",
    "longitude" -> "longitude", "altitude" -> "altitude",
    "data de fundacao" -> "data_fundacao",
  )

  /** One row per input file with raw (string) station attributes, pivoted
    * from the `KEY:;VALUE` metadata lines. Fully distributed: a hash
    * aggregate over 8 tiny rows per file — no `.limit(8)` + collect per file
    * (contrast job_parquet.py:61-104). Keeps `file` for joining the hourly
    * section back to its station. */
  def stationHeadersRaw(lines: DataFrame): DataFrame = {
    val kv = lines
      .filter(col("value").rlike("^[^;]+:;"))
      .select(
        col("file"),
        lower(trim(substring_index(col("value"), ":;", 1))).as("k"),
        trim(substring_index(col("value"), ":;", -1)).as("v"))
    val picks = metaKeys.map { case (key, out) =>
      first(when(col("k") === key, col("v")), ignoreNulls = true).as(out)
    }
    kv.groupBy("file").agg(picks.head, picks.tail: _*)
  }

  /** Station dimension (`cidades` stage table): typed lat/long/alt
    * (decimal-comma) and `data_fundacao` as a real DateType; rows whose
    * foundation date fails to parse are dropped (job_parquet.py:99).
    * Column order matches the reference parquet (job_parquet.py:238). */
  def cidades(headersRaw: DataFrame): DataFrame =
    headersRaw.select(
      col("regiao"), col("uf"), col("estacao"), col("wmo"),
      commaDouble(col("latitude")).as("latitude"),
      commaDouble(col("longitude")).as("longitude"),
      commaDouble(col("altitude")).as("altitude"),
      parseDateFlexible(col("data_fundacao")).as("data_fundacao"))
      .filter(col("data_fundacao").isNotNull)

  // -------------------------------------------------------------- previsoes

  /** 0-based positions of `data` and of each `measureRenames` source
    * column in one `Data;` header line, resolved on sanitized names (a
    * later duplicate name wins; the wanted names are unique). The one
    * header rule of both INMET parsers. */
  def headerIndex(header: String): Seq[Option[Int]] = {
    val pos = header.split(";", -1).map(sanitize).zipWithIndex.toMap
    ("data" +: measureRenames.map(_._1)).map(pos.get)
  }

  /** Per-file 1-based indices of the needed section-2 columns, resolved from
    * each file's own (sanitized) header line — robust to the header
    * encoding/accent drift between files. One collected row per file; the
    * result is broadcast, so data rows never leave the executors. */
  def fileColumnIndex(spark: SparkSession, lines: DataFrame): DataFrame = {
    import spark.implicits._
    val hdrs = lines.filter(col("value").startsWith("Data;"))
      .select("file", "value").distinct().collect()
    val rows = hdrs
      // a corrupted file with several conflicting header lines must not
      // fan out its data rows through a multi-row join: keep one header
      // per file, deterministically (lexicographically smallest)
      .groupBy(_.getString(0)).view
      .mapValues(_.map(_.getString(1)).min).toSeq
      .map { case (file, header) =>
        (file, headerIndex(header).map(_.map(_ + 1).getOrElse(-1)))
      }
    rows.map { case (f, is) => (f, is(0), is(1), is(2), is(3), is(4), is(5)) }
      .toDF("file", "i_data", "i_precip", "i_pressao", "i_temp", "i_umid", "i_vento")
  }

  /** Hourly fact (`previsoes` stage table). Data lines are parsed by
    * splitting on `;` and selecting columns via the broadcast per-file index
    * map — a single shuffle-free scan regardless of file count. Semantics
    * locked to the reference:
    *   - rows whose date fails to parse are dropped (job_parquet.py:193);
    *   - measures are zero-filled, not null (job_parquet.py:214-220) — the
    *     downstream daily/monthly stats aggregate over the zeros;
    *   - trailing `;` drift is irrelevant (indexing ignores ghost columns).
    */
  def previsoes(spark: SparkSession, lines: DataFrame): DataFrame = {
    val idx = fileColumnIndex(spark, lines)
    val wmoByFile = stationHeadersRaw(lines).select(col("file"), col("wmo"))
    val fileInfo = broadcast(idx.join(wmoByFile, "file"))

    val dataRows = lines
      .filter(col("value").rlike("^\\d{2,4}/\\d{2}/\\d{2,4};"))
      .select(col("file"), split(col("value"), ";").as("c"))

    val measures = Seq(
      "i_precip" -> "precipitacao_mm",
      "i_pressao" -> "pressao_atm_kpa",
      "i_temp" -> "temperatura_c",
      "i_umid" -> "umidade_porcentagem",
      "i_vento" -> "vento_mps",
    )
    val cols =
      col("wmo") +:
        parseDateFlexible(at(col("c"), col("i_data"))).as("data_medicao") +:
        measures.map { case (i, out) => commaDouble(at(col("c"), col(i))).as(out) }

    dataRows.join(fileInfo, "file")
      .select(cols: _*)
      .filter(col("data_medicao").isNotNull)
      .na.fill(0.0, measureCols)
  }

  // ------------------------------------------------------------------ datas

  /** Dense daily calendar dimension spanning the global min..max measurement
    * date (gap-free even if the data has holes), with date parts — the
    * `pd.date_range` + date-part block (job_parquet.py:261-280) as a pure
    * Catalyst plan: scalar min/max agg -> `sequence` -> `explode`. No
    * driver-side collect at all (the reference collects the two scalars;
    * here even that stays in the plan). */
  def datas(previsoes: DataFrame): DataFrame =
    previsoes
      .agg(min("data_medicao").as("mn"), max("data_medicao").as("mx"))
      .select(explode(sequence(col("mn"), col("mx"))).as("data_medicao"))
      .select(
        col("data_medicao"),
        dayofmonth(col("data_medicao")).as("dia"),
        month(col("data_medicao")).as("mes"),
        year(col("data_medicao")).as("ano"),
        quarter(col("data_medicao")).as("quartil"),
        weekofyear(col("data_medicao")).as("semana_do_ano"))
}
