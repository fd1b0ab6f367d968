package graft.inmet

import graft.SparkSuite
import java.math.MathContext
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame

/** Pipeline.run overlaps its branches and holds the small dimensions on
  * the driver; what it writes must still be what Pipeline.stage and
  * Pipeline.analytics compute, and a failing branch must leave no job or
  * thread of the run behind. */
class PipelineRunSpec extends SparkSuite {

  /** Rows as a multiset; doubles to 12 significant digits, because a sum
    * over the written tables may add the same doubles in another order. */
  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => BigDecimal(d).round(new MathContext(12))
      case v => v
    }).groupBy(identity).view.mapValues(_.size).toMap

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
      assert(multiset(written) === multiset(df), dir)
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
