package graft.inmet

import graft.SparkSuite
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}

/** Pipeline.run overlaps its branches and holds the small dimensions on
  * the driver; what it writes must still be what Pipeline.stage and
  * Pipeline.analytics compute, and a failing branch must leave no job or
  * thread of the run behind. */
class PipelineRunSpec extends SparkSuite {

  private def parquetFiles(dir: Path): Int =
    dir.toFile.list().count(_.endsWith(".parquet"))

  private def checkRun(glob: String): Unit = {
    val out = Files.createTempDirectory("inmet_run")
    val (stageDir, analyticDir) = (out.resolve("stage"), out.resolve("analytic"))
    Pipeline.run(spark, glob, stageDir.toString, analyticDir.toString)
    val st = Pipeline.stage(spark, glob)
    val an = Pipeline.analytics(st)
    val want = Seq(
      stageDir.resolve("cidades") -> st.cidades,
      stageDir.resolve("previsoes") -> st.previsoes,
      stageDir.resolve("datas") -> st.datas,
      analyticDir.resolve("dim_cidade_atributos") -> an.dimCidadeAtributos,
      analyticDir.resolve("fato_agg_previsoes_dia") -> an.fatoAggPrevisoesDia,
      analyticDir.resolve("cidade_kpis_mensal") -> an.cidadeKpisMensal)
    want.foreach { case (dir, df) =>
      val written = spark.read.parquet(dir.toString)
      assert(written.schema.fieldNames === df.schema.fieldNames, dir)
      assert(exactMultiset(written) === exactMultiset(df), dir)
    }
    Seq(stageDir.resolve("cidades"), stageDir.resolve("datas"),
      analyticDir.resolve("dim_cidade_atributos"))
      .foreach(dir => assert(parquetFiles(dir) === 1, dir))
  }

  test("run writes what stage + analytics compute: fixtures") {
    checkRun(resourcePath("/inmet") + "/*.csv")
  }

  test("run writes what stage + analytics compute: adversarial corpus") {
    checkRun(InmetCorpus.adversarial(resourcePath("/inmet")))
  }

  test("fato and KPIs are bit-identical over reversed, repartitioned previsoes") {
    val st = Pipeline.stage(spark, resourcePath("/inmet") + "/*.csv")
    val an = Pipeline.analytics(st)
    val reversed = st.previsoes
      .withColumn("__i", monotonically_increasing_id())
      .orderBy(col("__i").desc).drop("__i")
      .repartition(7)
    val fato = Warehouse.fatoAggPrevisoesDia(reversed, an.dimCidadeAtributos)
    assert(exactMultiset(fato) === exactMultiset(an.fatoAggPrevisoesDia))
    assert(exactMultiset(Warehouse.cidadeKpisMensal(fato, an.dimCidadeAtributos,
      st.datas)) === exactMultiset(an.cidadeKpisMensal))
  }

  test("merged states of a split previsoes equal the states of the whole") {
    val st = Pipeline.stage(spark, resourcePath("/inmet") + "/*.csv")
    val an = Pipeline.analytics(st)
    val dim = an.dimCidadeAtributos
    // every third row apart: nearly every station-day is in both halves
    val rows = st.previsoes.withColumn("__i", monotonically_increasing_id())
    def part(keep: org.apache.spark.sql.Column) =
      Warehouse.dayState(rows.filter(keep).drop("__i"), dim)
    val merged = Warehouse.mergeDayStates(
      part(col("__i") % 3 === 0).unionByName(part(col("__i") % 3 =!= 0)))
    assert(exactMultiset(Warehouse.finalizeDay(merged)) ===
      exactMultiset(an.fatoAggPrevisoesDia))
  }

  test("a station split over two files is one dim row; fato and KPIs unchanged") {
    val fixtures = java.nio.file.Paths.get(resourcePath("/inmet"))
    val dir = Files.createTempDirectory("inmet_split")
    val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
    Seq("A508_ALMENARA", "A509_MONTEVERDE").foreach { s =>
      Files.copy(fixtures.resolve(s"INMET_SE_MG_$s.csv"),
        dir.resolve(s"INMET_SE_MG_$s.csv"))
    }
    // A507 split at a day boundary, each part with its own header, the
    // way INMET publishes a station's years
    val lines = Files.readAllLines(
      fixtures.resolve("INMET_SE_MG_A507_UBERLANDIA.csv"), latin1).asScala
    val (head, rows) = lines.splitAt(9)
    val (q1, rest) = rows.partition(_ < "2025/04/01")
    assert(q1.nonEmpty && rest.nonEmpty)
    Seq("01-01-2025_A_31-03-2025" -> q1, "01-04-2025_A_30-06-2025" -> rest)
      .foreach { case (span, part) =>
        Files.write(dir.resolve(s"INMET_SE_MG_A507_UBERLANDIA_$span.csv"),
          (head ++ part).asJava, latin1)
      }
    val out = Files.createTempDirectory("inmet_split_run")
    Pipeline.run(spark, s"$dir/*.csv", out.resolve("stage").toString,
      out.resolve("analytic").toString)
    def written(t: String) = spark.read.parquet(out.resolve(t).toString)
    assert(written("stage/cidades").filter(col("wmo") === "A507").count() === 2)
    assert(written("analytic/dim_cidade_atributos").count() === 3)
    val fato = written("analytic/fato_agg_previsoes_dia")
    assert(fato.groupBy("wmo").count().collect().map(_.getLong(1)).toSeq ===
      Seq(181L, 181L, 181L))
    assert(fato.filter(col("registros_horarios") =!= 24).isEmpty)
    val whole = Pipeline.analytics(
      Pipeline.stage(spark, resourcePath("/inmet") + "/*.csv"))
    assert(exactMultiset(fato) === exactMultiset(whole.fatoAggPrevisoesDia))
    assert(exactMultiset(written("analytic/cidade_kpis_mensal")) ===
      exactMultiset(whole.cidadeKpisMensal))
  }

  test("a reading whose cents overflow a long finalizes its day's measure to null") {
    val st = Pipeline.stage(spark,
      InmetCorpus.adversarial(resourcePath("/inmet")))
    val an = Pipeline.analytics(st)
    val day = an.fatoAggPrevisoesDia.filter(col("wmo") === "P007" &&
      col("data_medicao") === "2024-03-06").collect()
    assert(day.length === 1)
    val r = day.head
    // temperature and precipitation: 24 and 4, and 20-digit numerals
    assert(r.getAs[Double]("temp_min_c") === 24.0)
    assert(r.getAs[Double]("temp_max_c") === 12345678901234567890.0)
    assert(r.isNullAt(r.fieldIndex("temp_avg_c")))
    assert(r.isNullAt(r.fieldIndex("precip_total_mm")))
    // the other measures stay exact
    assert(r.getAs[Double]("pressao_avg_kpa") === 915.6)
    assert(r.getAs[Double]("umidade_avg_pct") === 87.0)
    assert(r.getAs[Double]("vento_avg_mps") === 2.1)
    assert(r.getAs[Long]("registros_horarios") === 2L)
    // the month skips the null day, as AVG and SUM over the fato do: only
    // 2024-03-05 (23 degC, 3 mm) counts
    val kpi = an.cidadeKpisMensal.filter(col("cidade_sk").startsWith("P007"))
      .collect()
    assert(kpi.length === 1)
    assert(kpi.head.getAs[Double]("mensal_temp_media") === 23.0)
    assert(kpi.head.getAs[Double]("mensal_temp_max") === 12345678901234567890.0)
    assert(kpi.head.getAs[Double]("mensal_precip_total") === 3.0)
    assert(kpi.head.getAs[Long]("dias_com_precip") === 1L)
    // a month of null days only is null, not a division by zero
    val nullMonth = Warehouse.cidadeKpisMensal(
      an.fatoAggPrevisoesDia.filter(col("temp_avg_c").isNull),
      an.dimCidadeAtributos, st.datas).collect()
    assert(nullMonth.length === 1)
    Seq("mensal_temp_media", "mensal_precip_total")
      .foreach(c => assert(nullMonth.head.isNullAt(nullMonth.head.fieldIndex(c)), c))
  }

  test("a failing branch fails run, which leaves no job or branch thread behind") {
    val out = Files.createTempDirectory("inmet_run_fail")
    val stageDir = out.resolve("stage")
    // a regular file where the analytic dir should be: the stations
    // branch fails on the dim write while the hourly branch goes on
    val analyticDir = Files.createFile(out.resolve("analytic"))
    intercept[Exception] {
      Pipeline.run(spark, resourcePath("/inmet") + "/*.csv",
        stageDir.toString, analyticDir.toString)
    }
    // the datas branch, started before the failure surfaced, was awaited
    assert(Files.exists(stageDir.resolve("datas").resolve("_SUCCESS")))
    ListenerBusDrain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    val branches = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("inmet-pipeline-"))
    assert(branches.isEmpty, branches.map(_.getName))
  }
}
