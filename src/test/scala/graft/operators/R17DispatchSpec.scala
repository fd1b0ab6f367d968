package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.DataFrame

/** r17 optimization-round dispatch seams: every adaptive branch added
  * this round must be row-identical to the path it replaces.
  *  - winnowPairsCapped's heavy-hash broadcast guard (broadcast vs
  *    shuffled left_anti above the doc gate)
  *  - Star.pin's reliable (persist+materialize) fallback vs the default
  *    localCheckpoint pin
  *  - the IVF trainer's job count: its input is counted once */
class R17DispatchSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("winnowPairsCapped: shuffle anti-join branch equals broadcast branch") {
    val broadcastForm = rows(Dedup.winnowPairsCapped(spark, sf))
    spark.conf.set("spark.graft.winnow.broadcastDocGate", "0")
    try {
      val shuffleForm = rows(Dedup.winnowPairsCapped(spark, sf))
      assert(shuffleForm === broadcastForm)
    } finally spark.conf.unset("spark.graft.winnow.broadcastDocGate")
  }

  test("kmeans/IVF driver-gated trainer equals the distributed Lloyd loop") {
    // q_kmeans surfaces centroids + membership; q_ann_ivf rides the same
    // trainer through the probe/re-rank chain — both must be identical
    // across the dispatch
    val km = rows(Similarity.kmeans(spark, sf))
    val ivf = rows(graft.SparkEntry.queries("q_ann_ivf")(spark, sf))
    spark.conf.set("spark.graft.collectThreshold", "0")
    try {
      assert(rows(Similarity.kmeans(spark, sf)) === km)
      assert(rows(graft.SparkEntry.queries("q_ann_ivf")(spark, sf)) === ivf)
    } finally spark.conf.unset("spark.graft.collectThreshold")
  }

  test("ivfTrained counts its input once: one count, one collect") {
    import org.apache.spark.sql.functions.{col, expr}
    val vecs = Star.pin(Star.table(spark, sf, "embeddings").select(
      col("vec_id"),
      expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * " +
        "1000) AS BIGINT))").as("varr")))
    def jobsOf(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      try { body; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(l)
      jobs.get
    }
    // under the driver gate the trainer reads its input twice: the count
    // that sizes nlist (and gates the branch) and the collect it trains on
    val once = jobsOf(vecs.count()) + jobsOf(vecs.collect())
    assert(once > 0)
    assert(jobsOf(Similarity.ivfTrained(vecs)) === once)
  }

  test("Star.pin reliable branch equals localCheckpoint branch") {
    // tfidf rides the pinned tf aggregate; doc grain keeps the compare cheap
    val q = graft.SparkEntry.queries("q_tfidf_topk")
    val fast = rows(q(spark, sf))
    spark.conf.set("spark.graft.pin.reliable", "true")
    try {
      val reliable = rows(q(spark, sf))
      assert(reliable === fast)
    } finally {
      spark.conf.unset("spark.graft.pin.reliable")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }
  }
}
