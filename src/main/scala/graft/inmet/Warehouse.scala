package graft.inmet

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The three warehouse (analytic) queries of the reference, re-expressed as
  * Spark DataFrame plans. Source semantics:
  * `pyspark-stack/airflow/dags/sql/create_dim_cidade_atributos.sql`,
  * `create_analitic_fato_agg_previsoes_dia.sql`,
  * `create_analitic_cidade_kpis_mensal.sql` (reference repo). The Snowflake
  * layer disappears: Spark is both processor and warehouse.
  *
  * The daily rollup is defined once, as a mergeable station-day state
  * (`dayState`, `mergeDayStates`, `finalizeDay`): the warehouse, the
  * registered INMET queries and the streaming upsert all build it.
  *
  * State, per (wmo, cidade_sk, data_medicao): min and max temperature, for
  * each of the five measures the exact sum of its readings in cents, and
  * the row count `n`. A reading's cents are round(100 x) as a long while
  * |x| < 1e6; beyond that (and for a sum that overflows a long) the
  * measure's sum is null, and stays null through every merge. Sums of
  * integers do not depend on the order they are added in, so the state is
  * the same however the rows are partitioned, ordered or split into
  * micro-batches.
  *
  * Finalize: a mean is `CAST(S AS DOUBLE) / CAST(100 * n AS DOUBLE)`, one
  * correctly rounded division, and the precipitation total `S / 100.0`;
  * each is null when its sum is null or |S| >= 1e15. Semantics note: the
  * reference's float AVG/SUM add in scan order, and for readings with at
  * most two decimals (all INMET data) they differ from these values only
  * by that order's rounding noise; these are the true means, correctly
  * rounded, and the same in every engine that divides the same two
  * doubles (the DuckDB oracle does).
  *
  * Scale notes: both dimension joins are broadcast (station dim is tiny —
  * thousands of stations at most; calendar is one row per day). The daily
  * rollup is the only shuffle, keyed on (wmo, data_medicao) — at 100 TB the
  * map-side partial aggregate collapses 24 hourly rows per key before the
  * exchange, so the shuffle is ~1/24th of the input.
  */
object Warehouse {

  /** Surrogate-keyed station dimension
    * (create_dim_cidade_atributos.sql:5-22), one row per `wmo`. INMET
    * publishes one file per station per year, so a multi-year load has a
    * `cidades` row per file for the same station; the reference keeps
    * them all, and its fato join then counts every hourly row once per
    * file. Here the station's records collapse to one: the greatest of
    * them, compared as a struct of the columns below in that order, a
    * choice that does not depend on file order or partitioning. A
    * station table is small (a row per station file), so it is reduced
    * in one partition, with no shuffle. */
  def dimCidadeAtributos(cidades: DataFrame): DataFrame = {
    def part(c: String) = trim(upper(coalesce(col(c), lit(""))))
    val attrs = Seq("uf", "estacao", "regiao", "latitude", "longitude",
      "altitude", "data_fundacao")
    cidades.coalesce(1).groupBy("wmo")
      .agg(max(struct(attrs.map(col): _*)).as("r"))
      .select(col("wmo") +: attrs.map(a => col(s"r.$a").as(a)): _*)
      .select(
        concat(part("wmo"), lit("-"), part("uf"), lit("-"), part("estacao"))
          .as("cidade_sk") +:
        (col("wmo") +: attrs.map(col)): _*)
  }

  /** The station-day key. */
  val dayKeys: Seq[String] = Seq("wmo", "cidade_sk", "data_medicao")

  /** Each measure of `previsoes` and the name of its cents sum. */
  private val sums: Seq[(String, String)] = Seq(
    "temperatura_c" -> "temp_c", "precipitacao_mm" -> "precip_c",
    "pressao_atm_kpa" -> "pressao_c", "vento_mps" -> "vento_c",
    "umidade_porcentagem" -> "umid_c")

  /** round(100 x) as a long while |x| < 1e6 (NaN and infinities fail the
    * test), else null: the cast never overflows, and a day's sum fits a
    * long up to 9e10 rows. */
  private def cents(x: Column): Column =
    when(abs(x) < 1e6, round(x * 100).cast("long"))

  /** The station-day state of hourly `previsoes` rows, keyed through the
    * station dim's `cidade_sk` (broadcast; AVG/MIN over the zero-filled
    * measures — NOT null-skipping — is the reference's semantic keystone,
    * see Ingest.previsoes). Each row is a state of one reading, merged. */
  def dayState(previsoes: DataFrame, dimCidade: DataFrame): DataFrame =
    mergeDayStates(previsoes
      .join(broadcast(dimCidade.select("wmo", "cidade_sk")), Seq("wmo"))
      .select(dayKeys.map(col) ++ Seq(
        col("temperatura_c").as("temp_min_c"),
        col("temperatura_c").as("temp_max_c")) ++
        sums.map { case (m, s) => cents(col(m)).as(s) } :+
        lit(1L).as("n"): _*))

  /** Merges station-day states that share a key: min of the minima, max of
    * the maxima, sums of the sums and of `n`. A sum is null if any merged
    * sum is null or the total overflows a long. */
  def mergeDayStates(states: DataFrame): DataFrame =
    states.groupBy(dayKeys.map(col): _*).agg(
      min("temp_min_c").as("temp_min_c"),
      max("temp_max_c").as("temp_max_c") +:
        sums.map { case (_, s) =>
          when(count(col(s)) === count(lit(1)), try_sum(col(s))).as(s)
        } :+
        sum("n").as("n"): _*)

  /** A cents sum while it is exact in a double and recoverable from its
    * finalized value (|S| < 1e15), else null. */
  private def exactSum(s: String): Column =
    when(abs(col(s)) < 1e15, col(s).cast("double"))

  /** The daily fact row of each state (the columns of
    * create_analitic_fato_agg_previsoes_dia.sql:4-19). */
  def finalizeDay(states: DataFrame): DataFrame = {
    def mean(s: String) = exactSum(s) / (col("n") * 100).cast("double")
    states.select(col("wmo"), col("cidade_sk"), col("data_medicao"),
      col("temp_min_c"), col("temp_max_c"),
      mean("temp_c").as("temp_avg_c"),
      (exactSum("precip_c") / 100.0).as("precip_total_mm"),
      mean("pressao_c").as("pressao_avg_kpa"),
      mean("vento_c").as("vento_avg_mps"),
      mean("umid_c").as("umidade_avg_pct"),
      col("n").as("registros_horarios"))
  }

  /** Daily fact rollup (create_analitic_fato_agg_previsoes_dia.sql:4-19):
    * hourly fact x station dim, one finalized state per station-day. */
  def fatoAggPrevisoesDia(previsoes: DataFrame, dimCidade: DataFrame): DataFrame =
    finalizeDay(dayState(previsoes, dimCidade))

  /** Monthly per-city KPIs (create_analitic_cidade_kpis_mensal.sql:5-18).
    * `mensal_temp_media` averages the DAILY averages (avg-of-avgs), not the
    * hourly readings — the two-level aggregation is preserved. Like the
    * reference's AVG and SUM over the fato, it skips a day whose value is
    * null. Both are exact, so no result depends on the order days arrive:
    *   - a daily mean is truncated to a multiple of 1e-12 (a long: |mean|
    *     < 1e6 by the cents bound), the month's mean is that long sum
    *     divided by the day count, truncated, then scaled back (null if the
    *     sum overflows);
    *   - the precipitation total adds each day's cents, recovered exactly
    *     as round(100 * precip_total_mm) (error < 0.25 for |S| < 1e15);
    *     null if the total overflows a long.
    * `dias_com_precip` is COUNT_IF(precip_total_mm > 0). */
  def cidadeKpisMensal(fatoDia: DataFrame, dimCidade: DataFrame,
                       datas: DataFrame): DataFrame = {
    val micro = (col("temp_avg_c") * 1e12).cast("long")
    val precip = round(col("precip_total_mm") * 100).cast("long")
    fatoDia.drop("cidade_sk")
      .join(broadcast(dimCidade.select("wmo", "cidade_sk")), Seq("wmo"))
      .join(broadcast(datas.select("data_medicao", "ano", "mes")),
        Seq("data_medicao"))
      .groupBy("cidade_sk", "ano", "mes")
      .agg(
        (call_function("div", try_sum(micro), count(micro))
          .cast("double") / 1e12)
          .as("mensal_temp_media"),
        max("temp_max_c").as("mensal_temp_max"),
        (try_sum(precip).cast("double") / 100.0).as("mensal_precip_total"),
        count(when(col("precip_total_mm") > 0, 1)).as("dias_com_precip"))
  }
}
