package graft.operators

import graft.QueryDef
import graft.inmet.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's own warehouse analytics, registered over the three real
  * INMET fixture CSVs (committed under src/test/resources/inmet) WITH full
  * DuckDB oracles: the oracle SQL re-implements the whole ingest+aggregate
  * pipeline (line classification, metadata pivot, decimal-comma cleansing,
  * zero-fill, dual date formats) over the same raw files.
  *
  * `q_inmet_daily` and `q_inmet_kpis` return the warehouse tables exactly
  * as Pipeline.run computes them; their oracle SQL computes the same exact
  * cents-domain means (see graft.inmet.Warehouse) from the raw files. */
object InmetQueries {

  /** The committed INMET fixtures, resolved once as an absolute path
    * against the working directory: the checkout root for sbt's forked
    * tests, Verify and Bench. The oracle SQL reads the same path. */
  val fixtureDir: String =
    java.nio.file.Paths.get("src/test/resources/inmet").toAbsolutePath.toString
  private val fixtureGlob = s"$fixtureDir/*.csv"

  /** `fixtureGlob`, or a failure naming the directory it expects. */
  def fixtures(): String = {
    require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(fixtureDir)),
      s"INMET fixtures not found at $fixtureDir; run from the checkout root")
    fixtureGlob
  }

  /** The warehouse's daily rollup (Warehouse.fatoAggPrevisoesDia) of the
    * fixtures, as Pipeline.run computes it. */
  def inmetDaily(spark: SparkSession, dir: String): DataFrame =
    fixtureAnalytics(spark).fatoAggPrevisoesDia.orderBy("wmo", "data_medicao")

  /** The warehouse's monthly KPIs (Warehouse.cidadeKpisMensal) of the
    * fixtures, as Pipeline.run computes them. */
  def inmetKpis(spark: SparkSession, dir: String): DataFrame =
    fixtureAnalytics(spark).cidadeKpisMensal.orderBy("cidade_sk", "ano", "mes")

  private def fixtureAnalytics(spark: SparkSession): Pipeline.Analytics =
    Pipeline.analytics(Pipeline.stage(spark, fixtures()))

  /** Gate for the DataSource V2 reader (graft.sources.v2.InmetSource):
    * the same raw files through the V2 scan — with the March date range
    * pushed INTO the scan and only 3 of 7 columns read — aggregated to
    * a daily rollup; the oracle re-parses the raw files in DuckDB and
    * applies the same range. Proves the custom source end-to-end against
    * an independent engine, not just against our own Ingest path. */
  def inmetDsv2(spark: SparkSession, dir: String): DataFrame =
    marchRollup(spark.read.format("graft.sources.v2.InmetSource")
      .load(fixtures()))
      .orderBy("wmo", "data_medicao")

  /** The SAME March rollup ingested through the DSv2 source's
    * MICRO-BATCH face: `readStream.format(InmetSource)` replays the
    * station files through the identical per-file reader (discovery-log
    * offsets), a stateful streaming aggregation folds the hourly rows,
    * and the complete-mode sink holds the final rollup. Deterministic —
    * every file is replayed and the aggregate is order-independent — so
    * the BATCH oracle (the DuckDB re-parse of the raw CSVs) gates the
    * streaming ingest path end-to-end, not just a row-parity spec. */
  def inmetStream(spark: SparkSession, dir: String): DataFrame = {
    val agg = marchRollup(spark.readStream
      .format("graft.sources.v2.InmetSource").load(fixtures()))
    graft.streaming.StreamingQueries.withStreamPartitions(spark, 4) {
      val q = agg.writeStream
        .format("memory")
        .option("checkpointLocation",
          graft.streaming.StreamingQueries.replayCheckpoint("inmet_stream"))
        .queryName("graft_inmet_stream")
        .outputMode("complete")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table("graft_inmet_stream").orderBy("wmo", "data_medicao")
  }

  /** The March daily temperature rollup of hourly InmetSource rows — one
    * aggregate for the batch and the micro-batch face (shared oracle
    * [[inmetDsv2Sql]]). */
  private def marchRollup(hourly: DataFrame): DataFrame =
    hourly.filter(col("data_medicao") >= lit("2025-03-01") &&
        col("data_medicao") < lit("2025-04-01"))
      .groupBy("wmo", "data_medicao")
      .agg(
        min("temperatura_c").as("temp_min_c"),
        max("temperatura_c").as("temp_max_c"),
        (sum(Star.cents(col("temperatura_c"))).cast("double") / 100.0 /
          count(lit(1))).as("temp_avg_c"),
        count(lit(1)).as("registros_horarios"))

  private val inmetDsv2Sql =
    s"""$parsedCte
       |SELECT wmo, data_medicao,
       |  MIN(temperatura_c) AS temp_min_c,
       |  MAX(temperatura_c) AS temp_max_c,
       |  CAST(SUM(temp_c) AS DOUBLE) / 100.0 / COUNT(*) AS temp_avg_c,
       |  COUNT(*) AS registros_horarios
       |FROM hourly
       |WHERE data_medicao >= DATE '2025-03-01'
       |  AND data_medicao < DATE '2025-04-01'
       |GROUP BY wmo, data_medicao
       |ORDER BY wmo, data_medicao""".stripMargin

  /** Shared oracle scaffolding: raw INMET files -> cleansed hourly rows
    * joined with the metadata-derived station key, in DuckDB SQL. Mirrors
    * Ingest's line classification and 1-based split indexing exactly. */
  private def parsedCte: String =
    s"""WITH lines AS (
       |  SELECT filename, column0 AS line
       |  FROM read_csv('$fixtureGlob', delim='\\t', header=false, quote='',
       |                escape='', all_varchar=true, filename=true,
       |                columns={'column0':'VARCHAR'})
       |),
       |meta AS (
       |  SELECT filename,
       |    lower(trim(split_part(line, ':;', 1))) AS k,
       |    trim(split_part(line, ':;', 2)) AS v
       |  FROM lines WHERE regexp_matches(line, '^[^;]+:;')
       |),
       |st AS (
       |  SELECT filename,
       |    max(CASE WHEN k = 'codigo (wmo)' THEN v END) AS wmo,
       |    max(CASE WHEN k = 'uf' THEN v END) AS uf,
       |    max(CASE WHEN k = 'estacao' THEN v END) AS estacao
       |  FROM meta GROUP BY filename
       |),
       |data_rows AS (
       |  SELECT filename, str_split(line, ';') AS c
       |  FROM lines WHERE regexp_matches(line, '^\\d{2,4}/\\d{2}/\\d{2,4};')
       |),
       |parsed AS (
       |  SELECT s.wmo,
       |    CONCAT(trim(upper(COALESCE(s.wmo,''))), '-',
       |           trim(upper(COALESCE(s.uf,''))), '-',
       |           trim(upper(COALESCE(s.estacao,'')))) AS cidade_sk,
       |    COALESCE(try_strptime(trim(c[1]), '%Y/%m/%d'),
       |             try_strptime(trim(c[1]), '%d/%m/%Y'))::DATE AS data_medicao,
       |    CAST(round(COALESCE(TRY_CAST(replace(trim(c[3]), ',', '.') AS DOUBLE), 0.0) * 100) AS BIGINT) AS precip_c,
       |    CAST(round(COALESCE(TRY_CAST(replace(trim(c[5]), ',', '.') AS DOUBLE), 0.0) * 100) AS BIGINT) AS pressao_c,
       |    COALESCE(TRY_CAST(replace(trim(c[8]), ',', '.') AS DOUBLE), 0.0) AS temperatura_c,
       |    CAST(round(COALESCE(TRY_CAST(replace(trim(c[8]), ',', '.') AS DOUBLE), 0.0) * 100) AS BIGINT) AS temp_c,
       |    CAST(round(COALESCE(TRY_CAST(replace(trim(c[16]), ',', '.') AS DOUBLE), 0.0) * 100) AS BIGINT) AS umid_c,
       |    CAST(round(COALESCE(TRY_CAST(replace(trim(c[19]), ',', '.') AS DOUBLE), 0.0) * 100) AS BIGINT) AS vento_c
       |  FROM data_rows d JOIN st s ON d.filename = s.filename
       |),
       |hourly AS (SELECT * FROM parsed WHERE data_medicao IS NOT NULL)""".stripMargin

  private[graft] val inmetDailySql =
    s"""$parsedCte
       |SELECT wmo, cidade_sk, data_medicao,
       |  MIN(temperatura_c) AS temp_min_c,
       |  MAX(temperatura_c) AS temp_max_c,
       |  CAST(SUM(temp_c) AS DOUBLE) / CAST(100 * COUNT(*) AS DOUBLE) AS temp_avg_c,
       |  CAST(SUM(precip_c) AS DOUBLE) / 100.0 AS precip_total_mm,
       |  CAST(SUM(pressao_c) AS DOUBLE) / CAST(100 * COUNT(*) AS DOUBLE) AS pressao_avg_kpa,
       |  CAST(SUM(vento_c) AS DOUBLE) / CAST(100 * COUNT(*) AS DOUBLE) AS vento_avg_mps,
       |  CAST(SUM(umid_c) AS DOUBLE) / CAST(100 * COUNT(*) AS DOUBLE) AS umidade_avg_pct,
       |  COUNT(*) AS registros_horarios
       |FROM hourly
       |GROUP BY wmo, cidade_sk, data_medicao
       |ORDER BY wmo, data_medicao""".stripMargin

  private val inmetKpisSql =
    s"""$parsedCte,
       |daily AS (
       |  SELECT cidade_sk, data_medicao,
       |    MAX(temperatura_c) AS temp_max_c, SUM(precip_c) AS precip_c,
       |    CAST(trunc(CAST(SUM(temp_c) AS DOUBLE) /
       |      CAST(100 * COUNT(*) AS DOUBLE) * 1e12) AS BIGINT) AS temp_avg_u
       |  FROM hourly GROUP BY wmo, cidade_sk, data_medicao)
       |SELECT cidade_sk, year(data_medicao) AS ano, month(data_medicao) AS mes,
       |  CAST(SUM(temp_avg_u) // COUNT(temp_avg_u) AS DOUBLE) / 1e12
       |    AS mensal_temp_media,
       |  MAX(temp_max_c) AS mensal_temp_max,
       |  CAST(SUM(precip_c) AS DOUBLE) / 100.0 AS mensal_precip_total,
       |  CAST(COUNT_IF(precip_c > 0) AS BIGINT) AS dias_com_precip
       |FROM daily
       |GROUP BY cidade_sk, ano, mes
       |ORDER BY cidade_sk, ano, mes""".stripMargin

  /** Pairwise great-circle distance between the stations, from the
    * header-block coordinates (geo over the station dimension — tiny by
    * nature; at fleet scale this is a broadcast self-join of the station
    * dim, never the fact table). The haversine expression is written with
    * IDENTICAL operand order in both engines so the doubles agree before
    * the 1e-3 rounding. */
  def inmetStationDistance(spark: SparkSession, dir: String): DataFrame = {
    val st = Pipeline.stage(spark, fixtures()).cidades
      .select(col("wmo"), col("latitude"), col("longitude"))
    val hav =
      "round(2.0 * 6371.0 * asin(sqrt(" +
        "pow(sin(radians(b.latitude - a.latitude) / 2), 2) + " +
        "cos(radians(a.latitude)) * cos(radians(b.latitude)) * " +
        "pow(sin(radians(b.longitude - a.longitude) / 2), 2))), 3)"
    st.as("a").join(st.as("b"), col("a.wmo") < col("b.wmo"))
      .select(col("a.wmo").as("wmo_a"), col("b.wmo").as("wmo_b"),
        expr(hav).as("dist_km"))
      .orderBy("wmo_a", "wmo_b")
  }

  private val inmetStationDistanceSql =
    s"""WITH lines AS (
       |  SELECT filename, column0 AS line
       |  FROM read_csv('$fixtureGlob', delim='\\t', header=false, quote='',
       |                escape='', all_varchar=true, filename=true,
       |                columns={'column0':'VARCHAR'})
       |),
       |meta AS (
       |  SELECT filename,
       |    lower(trim(split_part(line, ':;', 1))) AS k,
       |    trim(split_part(line, ':;', 2)) AS v
       |  FROM lines WHERE regexp_matches(line, '^[^;]+:;')
       |),
       |st AS (
       |  SELECT filename,
       |    max(CASE WHEN k = 'codigo (wmo)' THEN v END) AS wmo,
       |    TRY_CAST(replace(max(CASE WHEN k = 'latitude' THEN v END),
       |      ',', '.') AS DOUBLE) AS latitude,
       |    TRY_CAST(replace(max(CASE WHEN k = 'longitude' THEN v END),
       |      ',', '.') AS DOUBLE) AS longitude
       |  FROM meta GROUP BY filename
       |)
       |SELECT a.wmo AS wmo_a, b.wmo AS wmo_b,
       |  round(2.0 * 6371.0 * asin(sqrt(
       |    pow(sin(radians(b.latitude - a.latitude) / 2), 2) +
       |    cos(radians(a.latitude)) * cos(radians(b.latitude)) *
       |    pow(sin(radians(b.longitude - a.longitude) / 2), 2))), 3)
       |    AS dist_km
       |FROM st a JOIN st b ON a.wmo < b.wmo
       |ORDER BY wmo_a, wmo_b""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_inmet_daily", inmetDaily, Some(inmetDailySql)),
    QueryDef("q_inmet_kpis", inmetKpis, Some(inmetKpisSql)),
    QueryDef("q_inmet_station_distance", inmetStationDistance,
      Some(inmetStationDistanceSql)),
    QueryDef("q_inmet_dsv2", inmetDsv2, Some(inmetDsv2Sql)),
    QueryDef("q_inmet_stream", inmetStream, Some(inmetDsv2Sql)),
  )
}
