package graft.inmet

import graft.sources.v2.InmetSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.graftbridge.Bridge

/** End-to-end pipeline replicating the reference DAG (dag_inmet.py:210-220):
  * ingest CSVs -> stage parquet -> analytic tables. Airflow/HDFS/Snowflake
  * collapse into plain method calls + local FS + the Spark session
  * (SURVEY.md §3 EP2/EP3 — those layers were transport, not semantics).
  *
  * The stage tables come from the DSv2 reader (graft.sources.v2.InmetSource),
  * which packs the station files into splits and parses each file in one
  * pass: `previsoes` is its hourly face, `cidades` its station face (one
  * raw row per file, read only as far as the metadata section) typed by
  * Ingest.cidades. Ingest's Catalyst plan stays the reference the reader
  * is spec-locked to.
  *
  * `run` follows the table DAG, not the reference's serial order. Two
  * branches run at once, each on its own thread:
  *   - stations -> `cidades` -> `dim_cidade_atributos`;
  *   - hourly -> `previsoes` -> `datas`;
  * `fato_agg_previsoes_dia` needs `previsoes` and the dim, and runs
  * alongside `datas`; `cidade_kpis_mensal` needs the fato, the dim and
  * `datas`, and runs last. The small tables (`cidades`, the dim and
  * `datas`: a row per station or per day) are held on the driver once
  * computed, so no later step reads them back, and each is written as
  * one file. The large ones are read back from parquet, with their known
  * schema, before the next step uses them, so no step re-runs an upstream
  * lineage. For a 100 TB deployment the single knob to add is
  * `.partitionBy("ano","mes")` (or bucketing by wmo) on the stage write
  * (InmetPipelineMain --partitioned) — the rest of the run is
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
    val prev = inmet(spark, inputGlob, stations = false)
    val stations = inmet(spark, inputGlob, stations = true)
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

  /** Reference-parity catalog run (SURVEY.md §2 S8-S10): the stage tables
    * are saved into the session catalog's `stage` schema, then the three
    * analytic tables are computed by `analytics` over those catalog tables
    * and saved into `analitic` — the reference's Snowflake DDL chain
    * replayed on Spark's own catalog (`saveAsTable` in overwrite mode for
    * CREATE OR REPLACE TABLE). Requires a writable
    * `spark.sql.warehouse.dir`. */
  def runCatalog(spark: SparkSession, inputGlob: String): Unit = {
    val st = stage(spark, inputGlob)
    spark.sql("CREATE DATABASE IF NOT EXISTS stage")
    spark.sql("CREATE DATABASE IF NOT EXISTS analitic")
    def save(df: DataFrame, table: String): DataFrame = {
      df.write.mode("overwrite").format("parquet").saveAsTable(table)
      spark.table(table)
    }
    val an = analytics(Stage(
      cidades = save(st.cidades, "stage.dim_cidades"),
      previsoes = save(st.previsoes, "stage.fato_previsoes"),
      datas = save(st.datas, "stage.dim_datas")))
    save(an.dimCidadeAtributos, "analitic.dim_cidade_atributos")
    save(an.fatoAggPrevisoesDia, "analitic.fato_agg_previsoes_dia")
    save(an.cidadeKpisMensal, "analitic.cidade_kpis_mensal")
  }

  /** Full run: CSV glob -> stage parquet dir -> analytic parquet dir. */
  def run(spark: SparkSession, inputGlob: String, stageDir: String,
          analyticDir: String): Unit =
    runWith(spark, inputGlob, stageDir, analyticDir) { previsoes =>
      previsoes.write.mode("overwrite").parquet(s"$stageDir/previsoes")
      spark.read.schema(previsoes.schema).parquet(s"$stageDir/previsoes")
    }

  /** `run` with the hourly fact written by `writeHourly`, which stages the
    * DSv2 `previsoes` under `stageDir` in any layout and returns it read
    * back in the `previsoes` schema. Every other table is written here, in
    * two branches (see the class doc). Each table is derived from what the
    * step before wrote, as the reference does via its load step: `datas`
    * from the written fact, and `cidade_kpis_mensal` from the written daily
    * rollup, not a second daily aggregate over the hourly fact. */
  def runWith(spark: SparkSession, inputGlob: String, stageDir: String,
              analyticDir: String)(writeHourly: DataFrame => DataFrame): Unit = {
    def write(df: DataFrame, path: String): Unit =
      df.write.mode("overwrite").parquet(path)
    // a small table: held on the driver, written as one file
    def onePart(df: DataFrame, path: String): DataFrame = {
      val held = onDriver(spark, df)
      write(held.coalesce(1), path)
      held
    }
    val threads = scala.collection.mutable.ArrayBuffer[Branch[DataFrame]]()
    def fork(name: String)(body: => DataFrame): Branch[DataFrame] = {
      val b = new Branch(s"inmet-pipeline-$name", body)
      threads += b
      b
    }
    try {
      val dim = fork("stations") {
        val cidades = onePart(Ingest.cidades(onDriver(spark,
          inmet(spark, inputGlob, stations = true))), s"$stageDir/cidades")
        onePart(Warehouse.dimCidadeAtributos(cidades),
          s"$analyticDir/dim_cidade_atributos")
      }
      val previsoes = writeHourly(inmet(spark, inputGlob, stations = false))
      val datas = fork("datas") {
        onePart(Ingest.datas(previsoes), s"$stageDir/datas")
      }
      val fatoDir = s"$analyticDir/fato_agg_previsoes_dia"
      val fato = Warehouse.fatoAggPrevisoesDia(previsoes, dim.join())
      write(fato, fatoDir)
      write(Warehouse.cidadeKpisMensal(
        spark.read.schema(fato.schema).parquet(fatoDir), dim.join(), datas.join()),
        s"$analyticDir/cidade_kpis_mensal")
    } finally threads.foreach(_.await())
  }

  /** One face of the DSv2 reader over `inputGlob`. */
  private def inmet(spark: SparkSession, inputGlob: String,
                    stations: Boolean): DataFrame = {
    val r = spark.read.format(classOf[InmetSource].getName)
    (if (stations) r.option(InmetSource.SectionOption, InmetSource.StationsSection)
     else r).load(inputGlob)
  }

  /** `df` computed now and held on the driver: a LocalRelation of the
    * InternalRows its plan produced, so no value is converted (no date
    * passes through java.sql.Date) and later plans read it without a
    * scan. For the small tables: one row per station or per day. */
  private def onDriver(spark: SparkSession, df: DataFrame): DataFrame =
    Bridge.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(df.schema),
      Bridge.collectInternal(df).toSeq))

  /** A branch of `runWith` on a thread of its own, started by the calling
    * thread, so it inherits the caller's Spark local properties (job group,
    * scheduler pool, description) and active session. */
  private final class Branch[T](name: String, body: => T) {
    @volatile private var result: Either[Throwable, T] = _
    private val thread = new Thread(() =>
      result = try Right(body) catch { case t: Throwable => Left(t) }, name)
    thread.setDaemon(true)
    thread.start()

    /** Waits for the branch to end. */
    def await(): Unit = thread.join()

    /** The branch's value, once it has ended; rethrows its failure. */
    def join(): T = {
      await()
      result.fold(t => throw t, identity)
    }
  }
}
