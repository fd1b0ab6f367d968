package graft.inmet

import graft.SparkSuite

/** The catalog path (S8-S10) must land the same results as the DataFrame
  * pipeline, queryable by name through spark.sql. */
class CatalogSpec extends SparkSuite {

  test("runCatalog: stage saveAsTable + SQL CTAS chain lands queryable tables") {
    val glob = resourcePath("/inmet") + "/*.csv"
    Pipeline.runCatalog(spark, glob)
    assert(spark.sql("SELECT count(*) FROM stage.fato_previsoes")
      .collect()(0).getLong(0) === 13032L)
    assert(spark.sql("SELECT count(*) FROM analitic.dim_cidade_atributos")
      .collect()(0).getLong(0) === 3L)
    assert(spark.sql("SELECT count(*) FROM analitic.fato_agg_previsoes_dia")
      .collect()(0).getLong(0) === 543L)
    val kpi = spark.sql(
      """SELECT mensal_temp_media, dias_com_precip
        |FROM analitic.cidade_kpis_mensal
        |WHERE cidade_sk = 'A507-MG-UBERLANDIA' AND ano = 2025 AND mes = 1
        |""".stripMargin).collect()(0)
    assert(approx(kpi.getDouble(0), 24.20322580645162, 1e-9))
    assert(kpi.getLong(1) === 22L)
    // the three analitic tables are exactly what Pipeline.analytics computes
    val an = Pipeline.analytics(Pipeline.stage(spark, glob))
    Seq("analitic.dim_cidade_atributos" -> an.dimCidadeAtributos,
      "analitic.fato_agg_previsoes_dia" -> an.fatoAggPrevisoesDia,
      "analitic.cidade_kpis_mensal" -> an.cidadeKpisMensal).foreach {
      case (table, df) =>
        assert(spark.table(table).schema.fieldNames === df.schema.fieldNames, table)
        assert(exactMultiset(spark.table(table)) === exactMultiset(df), table)
    }
    // re-run is idempotent (CREATE OR REPLACE semantics)
    Pipeline.runCatalog(spark, glob)
    assert(spark.sql("SELECT count(*) FROM analitic.cidade_kpis_mensal")
      .collect()(0).getLong(0) === 18L)
  }
}
