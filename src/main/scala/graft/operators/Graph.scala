package graft.operators

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond connected components: weighted
  * PageRank over a graph DERIVED from the fact tables. The realistic
  * 100 TB shape: the edge list aggregates out of the fact scan (one
  * keyed shuffle — this is the expensive stage at scale), after which
  * every PageRank iteration runs on the edge relation, which is orders
  * of magnitude smaller; iterations are joins + one small aggregate
  * each.
  *
  * Determinism doctrine: ranks are scaled integers (1e9 units per node)
  * and every update is exact integer arithmetic via the `div` operator
  * (IntegralDivide, not double floor): each edge carries its millionth
  * share of the source's out-weight, contribution = rank × share6 div
  * 1e6, damping = ×85 div 100. Integer addition commutes, so the result
  * is bit-identical across engines, partitionings, and accumulation
  * orders — no float drift. The DuckDB oracle unrolls the same fixed
  * iteration count as chained CTEs. Overflow headroom: rank total
  * ≤ 25×1e9, share6 ≤ 1e6 → products ≤ 2.5e16 ≪ 2^63.
  */
object Graph {

  private val Scale = 1000000000L // 1e9 rank units per node
  private val Iters = 5

  /** Revenue-weighted directed edges cust_nation → supp_nation with each
    * edge's integer millionth-share of its source's out-weight. Weights
    * aggregate in exact cents then coarsen to whole dollars so the
    * share arithmetic keeps far inside 64 bits. Self-loops dropped. */
  private def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val rev = (Star.cents(col("l_extendedprice")) *
      (lit(100L) - Star.cents(col("l_discount"))))
    val nat = Star.table(spark, dir, "nation")
    val l = Star.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), rev.as("rev_c"))
    val o = Star.table(spark, dir, "orders").select("o_orderkey", "o_custkey")
    val c = Star.table(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val s = Star.table(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
    val edges = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat.select(col("n_nationkey").as("cnk"),
        col("n_name").as("src"))), col("c_nationkey") === col("cnk"))
      .join(broadcast(nat.select(col("n_nationkey").as("snk"),
        col("n_name").as("dst"))), col("s_nationkey") === col("snk"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst")
      .agg(expr("sum(rev_c) div 10000").as("w_d"))
    val outW = edges.groupBy(col("src").as("osrc"))
      .agg(sum("w_d").as("wout_d"))
      .filter(col("wout_d") > 0)
    edges.join(outW, col("src") === col("osrc"))
      .select(col("src"), col("dst"),
        expr("(w_d * 1000000) div wout_d").as("share6"))
  }

  /** Weighted PageRank, damping 0.85, [[Iters]] iterations, over the
    * nation trade graph. Output: node, out-degree (edges), final rank
    * (double, rank units / 1e9). Dangling/isolated nodes keep the
    * teleport floor — their outflow is dropped, matching the simple
    * formulation the oracle mirrors. */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    // materialize the edge relation ONCE (same doctrine as the CC rounds:
    // persist the row RDD and rebuild a leaf DataFrame from it). Without
    // this every iteration's subplan embeds the whole fact-scale edge
    // build — measured 78 parquet scans in the 5-iteration plan, ~5x the
    // edge-build work. The aggregated edge list is |nations|²-bounded
    // here (at scale: |nodes| + |edges|, far smaller than the facts); the
    // persisted blocks are freed by ContextCleaner when the frame goes
    // unreferenced, as with the CC label table.
    val ewPlan = tradeEdges(spark, dir)
    // the aggregated edges fit one partition by construction (|nations|²);
    // coalescing the leaf keeps every iteration a single-task stage
    // instead of 32 near-empty tasks per round
    // MEMORY_AND_DISK (r17 spill-safety sweep, guide §5): one-flag
    // insurance against an over-gate edge list pinning heap
    val ewRdd = ewPlan.rdd.coalesce(1).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEdges = ewRdd.count() // force the one materialization job
    val nodesDf = Star.table(spark, dir, "nation")
      .select(col("n_name").as("node"))
    // Small-graph gate (r16, the CC-dispatch doctrine applied to the
    // iteration): the edge relation is ALREADY materialized and counted
    // above; when both it and the node set fit under the gate, the five
    // damping rounds run as driver integer arithmetic — identical by
    // construction (every update is exact positive Long arithmetic whose
    // truncating division equals the plan's IntegralDivide) — instead of
    // 5 × (join + aggregate + left join) jobs over 25-row frames. Above
    // the gate the distributed loop below runs unchanged.
    val gate = Dispatch.CollectThreshold(spark)
    val nodesHead =
      if (nEdges <= gate) nodesDf.take(math.min(gate, Int.MaxValue.toLong).toInt)
      else null
    if (nodesHead != null && nodesHead.length < gate) {
      val edges = ewRdd.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      ewRdd.unpersist(blocking = false)
      val nodes = nodesHead.map(_.getString(0))
      var rank: Map[String, Long] = nodes.map(_ -> Scale).toMap
      for (_ <- 1 to Iters) {
        val inflow = new java.util.HashMap[String, Long]()
        edges.foreach { case (src, dst, share6) =>
          // inner-join semantics: an edge whose src is not a node row
          // contributes nothing (mirrors ew ⋈ rank below)
          rank.get(src).foreach(r =>
            inflow.merge(dst, r * share6 / 1000000L, _ + _))
        }
        rank = nodes.map(n => n ->
          (Scale * 15L / 100L +
            inflow.getOrDefault(n, 0L) * 85L / 100L)).toMap
      }
      val outDeg = edges.groupBy(_._1).map { case (s, es) => s -> es.length }
      val rows: java.util.List[org.apache.spark.sql.Row] =
        new java.util.ArrayList(nodes.length)
      nodes.foreach { n =>
        rows.add(org.apache.spark.sql.Row(
          n, outDeg.getOrElse(n, 0).toLong,
          rank(n).toDouble / Scale.toDouble))
      }
      import org.apache.spark.sql.types._
      spark.createDataFrame(rows, StructType(Seq(
        StructField("node", StringType, nullable = false),
        StructField("out_deg", LongType, nullable = false),
        StructField("rank", DoubleType, nullable = false))))
        .orderBy(col("rank").desc, col("node"))
    } else {
      // the node set and each round's rank are pinned leaves, the way
      // the k-means trainer localizes its model per round: a lazy rank
      // would nest every earlier round, and a node-table scan per
      // round, into the next round's plan
      val ew = spark.createDataFrame(ewRdd, ewPlan.schema)
      val nodes = Star.pin(nodesDf)
      var rank = nodes.withColumn("r", lit(Scale))
      for (_ <- 1 to Iters) {
        val inflow = ew.join(rank, col("src") === col("node"))
          .select(col("dst"), expr("(r * share6) div 1000000").as("c"))
          .groupBy("dst").agg(sum("c").as("inflow"))
        rank = Star.pin(nodes
          .join(inflow, col("node") === col("dst"), "left_outer")
          .select(col("node"),
            (lit(Scale * 15L / 100L) +
              expr("(coalesce(inflow, bigint(0)) * 85) div 100")).as("r")))
      }
      val outDeg = ew.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
      rank.join(outDeg.withColumnRenamed("src", "node"),
          Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("out_deg"), lit(0L)).as("out_deg"),
          (col("r").cast("double") / Scale.toDouble).as("rank"))
        .orderBy(col("rank").desc, col("node"))
    }
  }

  private val pageRankSql: String = {
    val rev =
      s"${Star.Sql.cents("l_extendedprice")} * (100 - ${Star.Sql.cents("l_discount")})"
    val base =
      s"""WITH edges AS (
         |  SELECT cn.n_name AS src, sn.n_name AS dst,
         |    CAST(SUM($rev) // 10000 AS BIGINT) AS w_d
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation cn ON c_nationkey = cn.n_nationkey
         |  JOIN nation sn ON s_nationkey = sn.n_nationkey
         |  WHERE cn.n_name <> sn.n_name
         |  GROUP BY 1, 2),
         |outw AS (SELECT src AS osrc, CAST(SUM(w_d) AS BIGINT) AS wout_d
         |         FROM edges GROUP BY 1 HAVING SUM(w_d) > 0),
         |ew AS (SELECT src, dst, CAST((w_d * 1000000) // wout_d AS BIGINT)
         |         AS share6
         |       FROM edges JOIN outw ON src = osrc),
         |nodes AS (SELECT n_name AS node FROM nation),
         |r0 AS (SELECT node, CAST($Scale AS BIGINT) AS r FROM nodes)""".stripMargin
    val iters = (1 to Iters).map { i =>
      s"""inf$i AS (
         |  SELECT dst, CAST(SUM((r * share6) // 1000000) AS BIGINT) AS inflow
         |  FROM ew JOIN r${i - 1} ON ew.src = r${i - 1}.node
         |  GROUP BY dst),
         |r$i AS (
         |  SELECT node,
         |    CAST(${Scale * 15L / 100L} + (COALESCE(inflow, 0) * 85) // 100
         |      AS BIGINT) AS r
         |  FROM nodes LEFT JOIN inf$i ON node = inf$i.dst)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters,
       |outdeg AS (SELECT src, COUNT(*) AS out_deg FROM ew GROUP BY 1)
       |SELECT node, COALESCE(out_deg, 0) AS out_deg,
       |  CAST(r AS DOUBLE) / $Scale.0 AS rank
       |FROM r$Iters LEFT JOIN outdeg ON node = outdeg.src
       |ORDER BY rank DESC, node""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_pagerank", pageRank, Some(pageRankSql)),
  )
}
