package graft.inmet

import graft.sources.v2.InmetSource
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Sequential end-to-end pipeline replicating the reference DAG's phase
  * order (dag_inmet.py:210-220): ingest CSVs -> stage parquet -> analytic
  * tables. Airflow/HDFS/Snowflake collapse into plain method calls + local
  * FS + the Spark session (SURVEY.md §3 EP2/EP3 — those layers were
  * transport, not semantics).
  *
  * The stage tables come from the DSv2 reader (graft.sources.v2.InmetSource),
  * which packs the station files into splits and parses each file in one
  * pass: `previsoes` is its hourly face, `cidades` its station face (one
  * raw row per file, read only as far as the metadata section) typed by
  * Ingest.cidades. Ingest's Catalyst plan stays the reference both are
  * spec-locked to, and the streaming ingest's parser.
  *
  * `run` writes the stage tables, then the warehouse half reads each
  * table back from parquet before the next step uses it, so no step
  * re-runs an upstream lineage. For a 100 TB deployment the single knob to
  * add is `.partitionBy("ano","mes")` (or bucketing by wmo) on the stage
  * write (InmetPipelineMain --partitioned) — the warehouse half is
  * layout-agnostic.
  */
object Pipeline {

  final case class Stage(cidades: DataFrame, previsoes: DataFrame,
                         datas: DataFrame)
  final case class Analytics(dimCidadeAtributos: DataFrame,
                             fatoAggPrevisoesDia: DataFrame,
                             cidadeKpisMensal: DataFrame)

  /** Parse every INMET CSV under `inputGlob` into the three stage tables
    * (pure transformation — nothing is written or collected). */
  def stage(spark: SparkSession, inputGlob: String): Stage = {
    def inmet = spark.read.format(classOf[InmetSource].getName)
    val prev = inmet.load(inputGlob)
    val stations = inmet
      .option(InmetSource.SectionOption, InmetSource.StationsSection)
      .load(inputGlob)
      // one row per file: merged after the distributed read, so the
      // station table is written as one file
      .repartition(1)
    Stage(
      cidades = Ingest.cidades(stations),
      previsoes = prev,
      datas = Ingest.datas(prev))
  }

  /** Derive the three analytic tables from stage inputs. */
  def analytics(stage: Stage): Analytics = {
    val dim = Warehouse.dimCidadeAtributos(stage.cidades)
    val fatoDia = Warehouse.fatoAggPrevisoesDia(stage.previsoes, dim)
    Analytics(dim, fatoDia,
      Warehouse.cidadeKpisMensal(fatoDia, dim, stage.datas))
  }

  /** Reference-parity catalog run (SURVEY.md §2 S8-S10): stage tables are
    * saved into the session catalog's `stage` schema, then the three
    * analytic tables are built by SQL CTAS into `analitic` — the
    * reference's Snowflake DDL chain replayed on Spark's own catalog
    * (CREATE OR REPLACE TABLE becomes DROP + CREATE ... USING PARQUET AS,
    * the v1-session-catalog equivalent). Requires a writable
    * `spark.sql.warehouse.dir`. */
  def runCatalog(spark: SparkSession, inputGlob: String): Unit = {
    val st = stage(spark, inputGlob)
    spark.sql("CREATE DATABASE IF NOT EXISTS stage")
    spark.sql("CREATE DATABASE IF NOT EXISTS analitic")
    st.cidades.write.mode("overwrite").format("parquet")
      .saveAsTable("stage.dim_cidades")
    st.previsoes.write.mode("overwrite").format("parquet")
      .saveAsTable("stage.fato_previsoes")
    st.datas.write.mode("overwrite").format("parquet")
      .saveAsTable("stage.dim_datas")
    def ctas(table: String, select: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"CREATE TABLE $table USING PARQUET AS $select")
    }
    ctas("analitic.dim_cidade_atributos",
      Warehouse.dimCidadeAtributosSqlFor("stage.dim_cidades"))
    ctas("analitic.fato_agg_previsoes_dia",
      Warehouse.fatoAggPrevisoesDiaSqlFor("stage.fato_previsoes",
        "analitic.dim_cidade_atributos"))
    ctas("analitic.cidade_kpis_mensal",
      Warehouse.cidadeKpisMensalSqlFor("analitic.fato_agg_previsoes_dia",
        "analitic.dim_cidade_atributos", "stage.dim_datas"))
  }

  /** Full run: CSV glob -> stage parquet dir -> analytic parquet dir. */
  def run(spark: SparkSession, inputGlob: String, stageDir: String,
          analyticDir: String): Unit = {
    val st = stage(spark, inputGlob)
    st.cidades.write.mode("overwrite").parquet(s"$stageDir/cidades")
    st.previsoes.write.mode("overwrite").parquet(s"$stageDir/previsoes")
    runWarehouse(spark, spark.read.parquet(s"$stageDir/previsoes"),
      stageDir, analyticDir)
  }

  /** The warehouse half of `run`, after `cidades` and `previsoes` are in
    * `stageDir` (`stagedPrevisoes` reads the latter back in any layout).
    * Each table is derived from what the step before wrote, as the
    * reference does via its load step: `datas` from the written fact (its
    * min/max agg reads parquet statistics, not the raw-CSV lineage), and
    * `cidade_kpis_mensal` from the written daily rollup, not a second
    * daily aggregate over the hourly fact. */
  def runWarehouse(spark: SparkSession, stagedPrevisoes: DataFrame,
                   stageDir: String, analyticDir: String): Unit = {
    Ingest.datas(stagedPrevisoes).write.mode("overwrite")
      .parquet(s"$stageDir/datas")
    val dim = Warehouse.dimCidadeAtributos(
      spark.read.parquet(s"$stageDir/cidades"))
    dim.write.mode("overwrite")
      .parquet(s"$analyticDir/dim_cidade_atributos")
    Warehouse.fatoAggPrevisoesDia(stagedPrevisoes, dim).write.mode("overwrite")
      .parquet(s"$analyticDir/fato_agg_previsoes_dia")
    Warehouse.cidadeKpisMensal(
      spark.read.parquet(s"$analyticDir/fato_agg_previsoes_dia"), dim,
      spark.read.parquet(s"$stageDir/datas")).write.mode("overwrite")
      .parquet(s"$analyticDir/cidade_kpis_mensal")
  }
}
