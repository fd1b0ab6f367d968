package graft.streaming

import graft.SparkSuite
import graft.inmet.{Ingest, Pipeline}
import graft.sources.v2.InmetSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}

/** The streaming INMET ingest (the DSv2 source's micro-batch face) must
  * produce exactly the batch stage rows, including for files that land
  * after the stream starts. */
class InmetStreamingSpec extends SparkSuite {

  private val files = Seq("INMET_SE_MG_A507_UBERLANDIA.csv",
    "INMET_SE_MG_A508_ALMENARA.csv", "INMET_SE_MG_A509_MONTEVERDE.csv")

  /** Copies fixture `f` into `landing`. */
  private def land(landing: Path, f: String): Unit = {
    val _ = Files.copy(Paths.get(resourcePath(s"/inmet/$f")), landing.resolve(f))
  }

  private def stream(glob: String): DataFrame =
    spark.readStream.format(classOf[InmetSource].getName).load(glob)

  private def batchPrevisoes(glob: String): DataFrame =
    Ingest.previsoes(spark, Ingest.readLines(spark, glob))

  test("file-stream ingest == batch previsoes, row for row") {
    val landing = Files.createTempDirectory("inmet_stream")
    files.foreach(land(landing, _))
    val glob = s"$landing/*.csv"
    val q = stream(glob).writeStream.outputMode("append")
      .format("memory").queryName("inmet_stream_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("inmet_stream_out")
      assert(got.count() === 13032L)
      assert(exactMultiset(got) === exactMultiset(batchPrevisoes(glob)),
        "streaming and batch previsoes diverge")
    } finally q.stop()
  }

  test("a file landing after the stream starts is read exactly once") {
    val landing = Files.createTempDirectory("inmet_stream_late")
    land(landing, files.head)
    val glob = s"$landing/*.csv"
    val q = stream(glob).writeStream.outputMode("append")
      .format("memory").queryName("inmet_stream_late").start()
    try {
      q.processAllAvailable()
      land(landing, files(1))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("inmet_stream_late")
      assert(got.filter(col("wmo") === "A508").count() === 4344L)
      assert(exactMultiset(got) === exactMultiset(batchPrevisoes(glob)))
    } finally q.stop()
  }

  test("the stream upsert over late-landing files equals the batch daily rollup") {
    val landing = Files.createTempDirectory("inmet_upsert_late")
    land(landing, files.head)
    val glob = s"$landing/*.csv"
    val work = Files.createTempDirectory("inmet_upsert_work").toString
    val got = StreamingQueries.upsertDaily(spark, glob, work) { q =>
      q.processAllAvailable()
      files.tail.foreach { f => land(landing, f); q.processAllAvailable() }
    }
    val want = Pipeline.analytics(Pipeline.stage(spark, glob)).fatoAggPrevisoesDia
    assert(got.count() === 543L)
    assert(exactMultiset(got) === exactMultiset(want))
  }
}
