package graft.inmet

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Golden end-to-end pipeline test on the three real INMET fixture files
  * (see FIXTURES.md). Expected values computed independently from the raw
  * CSVs following the reference's documented semantics (SURVEY.md §2). */
class InmetGoldenSpec extends SparkSuite {

  lazy val fixtureGlob: String = resourcePath("/inmet") + "/*.csv"
  lazy val st: Pipeline.Stage = Pipeline.stage(spark, fixtureGlob)
  lazy val an: Pipeline.Analytics = Pipeline.analytics(st)

  test("cidades: 3 stations, typed attributes, date-format drift handled") {
    val rows = st.cidades.orderBy("wmo").collect()
    assert(rows.length === 3)
    val a507 = rows(0)
    assert(a507.getAs[String]("regiao") === "SE")
    assert(a507.getAs[String]("uf") === "MG")
    assert(a507.getAs[String]("estacao") === "UBERLANDIA")
    assert(a507.getAs[String]("wmo") === "A507")
    assert(approx(a507.getAs[Double]("latitude"), -18.91694443))
    assert(approx(a507.getAs[Double]("longitude"), -48.25555555))
    assert(approx(a507.getAs[Double]("altitude"), 874.77))
    // 2-digit year (18/12/02) vs 4-digit (19/12/2004)
    assert(a507.getAs[java.sql.Date]("data_fundacao").toString === "2002-12-18")
    assert(rows(2).getAs[java.sql.Date]("data_fundacao").toString === "2004-12-19")
    assert(rows(2).getAs[String]("estacao") === "MONTE VERDE")
  }

  test("previsoes: 13,032 hourly rows, zero-filled measures, no nulls") {
    assert(st.previsoes.count() === 13032L)
    val nullCount = st.previsoes.select(
      Ingest.measureCols.map(c => sum(when(col(c).isNull, 1).otherwise(0)).as(c)): _*
    ).collect()(0)
    Ingest.measureCols.indices.foreach(i => assert(nullCount.getLong(i) === 0L))
    assert(st.previsoes.select("wmo").distinct().count() === 3L)
  }

  test("datas: dense 181-day calendar with ISO week parts") {
    val d = st.datas.collect()
    assert(d.length === 181)
    val byDate = st.datas.orderBy("data_medicao").collect()
    assert(byDate.head.getAs[java.sql.Date]("data_medicao").toString === "2025-01-01")
    assert(byDate.last.getAs[java.sql.Date]("data_medicao").toString === "2025-06-30")
    assert(st.datas.select("data_medicao").distinct().count() === 181L)
    // 2025-01-01 is ISO week 1, Q1
    assert(byDate.head.getAs[Int]("semana_do_ano") === 1)
    assert(byDate.head.getAs[Int]("quartil") === 1)
    assert(byDate.last.getAs[Int]("quartil") === 2)
  }

  test("dim_cidade_atributos: surrogate keys") {
    val sks = an.dimCidadeAtributos.select("cidade_sk").orderBy("cidade_sk")
      .collect().map(_.getString(0))
    assert(sks.toSeq === Seq("A507-MG-UBERLANDIA", "A508-MG-ALMENARA",
      "A509-MG-MONTE VERDE"))
  }

  test("fato_agg_previsoes_dia: 543 station-days; golden day A507 2025-01-01") {
    val fd = an.fatoAggPrevisoesDia
    assert(fd.count() === 543L)
    val r = fd.filter(col("wmo") === "A507" &&
        col("data_medicao") === lit("2025-01-01").cast("date"))
      .collect()(0)
    assert(r.getAs[Long]("registros_horarios") === 24L)
    assert(approx(r.getAs[Double]("temp_min_c"), 19.5))
    assert(approx(r.getAs[Double]("temp_max_c"), 29.1))
    assert(approx(r.getAs[Double]("temp_avg_c"), 23.537499999999998))
    assert(approx(r.getAs[Double]("precip_total_mm"), 0.0))
  }

  test("zero-fill keystone: the all-empty A507 row drags 2025-01-21 min to 0") {
    val r = an.fatoAggPrevisoesDia.filter(col("wmo") === "A507" &&
        col("data_medicao") === lit("2025-01-21").cast("date"))
      .collect()(0)
    assert(r.getAs[Long]("registros_horarios") === 24L)
    assert(approx(r.getAs[Double]("temp_min_c"), 0.0))
    assert(approx(r.getAs[Double]("temp_avg_c"), 25.4, 1e-6))
  }

  test("cidade_kpis_mensal: 18 city-months; golden month A507 2025-01") {
    val k = an.cidadeKpisMensal
    assert(k.count() === 18L)
    val r = k.filter(col("cidade_sk") === "A507-MG-UBERLANDIA" &&
        col("ano") === 2025 && col("mes") === 1).collect()(0)
    assert(approx(r.getAs[Double]("mensal_temp_media"), 24.20322580645162, 1e-9))
    assert(r.getAs[Long]("dias_com_precip") === 22L)
    assert(approx(r.getAs[Double]("mensal_precip_total"), 199.0, 1e-9))
  }

  test("spark.sql chain produces identical results to the DataFrame plans") {
    // the analytic plans over stage tables resolved by name through
    // spark.sql (the relations runCatalog hands them) equal the plans over
    // the stage DataFrames, bit for bit
    st.cidades.createOrReplaceTempView("golden_cidades")
    st.previsoes.createOrReplaceTempView("golden_previsoes")
    st.datas.createOrReplaceTempView("golden_datas")
    val viaSql = Pipeline.analytics(Pipeline.Stage(
      cidades = spark.sql("SELECT * FROM golden_cidades"),
      previsoes = spark.sql("SELECT * FROM golden_previsoes"),
      datas = spark.sql("SELECT * FROM golden_datas")))
    Seq(viaSql.dimCidadeAtributos -> an.dimCidadeAtributos,
      viaSql.fatoAggPrevisoesDia -> an.fatoAggPrevisoesDia,
      viaSql.cidadeKpisMensal -> an.cidadeKpisMensal).foreach {
      case (sqlDf, df) =>
        assert(sqlDf.schema.fieldNames === df.schema.fieldNames)
        assert(exactMultiset(sqlDf) === exactMultiset(df))
    }
  }
}
