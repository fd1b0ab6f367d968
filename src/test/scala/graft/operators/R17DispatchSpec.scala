package graft.operators

import graft.{Harness, SparkSuite}
import org.apache.spark.sql.DataFrame

/** Every adaptive gate of [[Dispatch]] in one table: each row runs
  * registered queries with its gate at both extremes and asserts the
  * same rows, so a gate may only ever change the plan. Plus the two
  * branches behind the fixed bounds, and the IVF trainer's job count. */
class R17DispatchSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  private def q(name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, sf)

  /** In order: a gate may not reorder a sorted result either. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private val Max = Long.MaxValue.toString

  /** (row, gate key, its two extremes, the queries it dispatches) */
  private val gates: Seq[(String, String, (String, String), Seq[String])] = Seq(
    ("winnowPairsCapped: shuffle anti-join branch equals broadcast branch",
      Dispatch.WinnowBroadcastDocGate.key, ("0", Max),
      Seq("q_dedup_winnow_capped")),
    ("kmeans/IVF driver-gated trainer equals the distributed Lloyd loop",
      Dispatch.CollectThreshold.key, ("0", Max),
      Seq("q_kmeans", "q_ann_ivf")),
    ("connected components: driver union-find equals the star rounds",
      Dispatch.CollectThreshold.key, ("0", Max),
      Seq("q_dedup_clusters", "q_dedup_clusters_capped",
        "q_semantic_dedup_keep", "q_dedup_lsh_keep")),
    ("PageRank: driver rounds equal the distributed rounds",
      Dispatch.CollectThreshold.key, ("0", Max), Seq("q_pagerank")),
    ("Star.pin reliable branch equals localCheckpoint branch",
      Dispatch.PinReliableKey, ("true", "false"), Seq("q_tfidf_topk")),
    ("contamination: bucketed join past the doc gate equals the point path",
      Dispatch.ContamPointMaxDocs.key, ("0", Max),
      Seq("q_contamination_point")),
    ("bloom residency: routed shard load equals the whole-family load",
      Dispatch.BloomWholeFamilyBudgetBytes.key, ("0", Max),
      Seq("q_contamination_serve")),
    ("bloom memo: eviction past the byte budget changes no rows",
      Dispatch.BloomCacheBudgetBytes.key, ("0", Max),
      Seq("q_contamination_serve")))

  private def under[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally { spark.conf.unset(key); Harness.cleanup(spark) }
  }

  test("the gate table covers every settable Dispatch key") {
    assert(gates.map(_._2).toSet === Dispatch.keys.toSet)
  }

  gates.foreach { case (row, key, (lo, hi), queries) =>
    test(row) {
      queries.foreach { name =>
        val a = under(key, lo)(rows(q(name)))
        val b = under(key, hi)(rows(q(name)))
        assert(a.nonEmpty, s"$name returned no rows")
        assert(a === b, s"$name differs between $key=$lo and $key=$hi")
      }
    }
  }

  test("kmeans past the literal-map bound: the broadcast-join assignment " +
    "equals the driver trainer") {
    val vecs = Similarity.quantVecs(spark, sf)
    val n = vecs.count()
    val k = Dispatch.KmeansLiteralMapCells + 8
    assert(n > k)
    def trained = {
      val (cent, assign) = Similarity.exactKmeans(vecs, n, k, 2)
      (exactMultiset(cent.selectExpr("cid", "CAST(carr AS STRING)")),
        exactMultiset(assign))
    }
    val driver = trained
    val distributed = under(Dispatch.CollectThreshold.key, "0")(trained)
    assert(driver._1.size > Dispatch.KmeansLiteralMapCells)
    assert(distributed === driver)
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
}
