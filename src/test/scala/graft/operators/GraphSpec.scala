package graft.operators

import graft.SparkSuite

/** Specs for the PageRank operator (the DuckDB chained-CTE oracle is the
  * value gate; these assert the algorithm's structural invariants). */
class GraphSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("pageRank: every node present, teleport floor holds, mass bounded") {
    val rows = Graph.pageRank(spark, sf).collect()
    assert(rows.length === 25)
    val ranks = rows.map(_.getDouble(2))
    // teleport floor: a node with zero inflow still scores 0.15
    assert(ranks.forall(_ >= 0.15 - 1e-9))
    // total mass: at most n (floor division only loses rank, never adds)
    val mass = ranks.sum
    assert(mass <= 25.0 + 1e-9 && mass >= 25.0 * 0.15)
    // presentation order: rank descending with node tiebreak
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(2) > b.getDouble(2) ||
        (a.getDouble(2) == b.getDouble(2) &&
          a.getString(0) < b.getString(0)))
    }
  }

  test("pageRank: deterministic across runs (exact integer updates)") {
    val a = Graph.pageRank(spark, sf).collect().map(_.toString)
    val b = Graph.pageRank(spark, sf).collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("pageRank: driver-gated path == forced-distributed iteration") {
    val a = Graph.pageRank(spark, sf).collect().map(_.toString)
    val key = "spark.graft.collectThreshold"
    spark.conf.set(key, "0")
    val b =
      try Graph.pageRank(spark, sf).collect().map(_.toString)
      finally spark.conf.unset(key)
    assert(a.sameElements(b))
  }

  test("kmeans: partitions the corpus, deterministic across runs") {
    val a = Similarity.kmeans(spark, sf).collect()
    assert(a.map(_.getLong(1)).sum ===
      Star.table(spark, sf, "embeddings").count())
    assert(a.map(_.getInt(0)).toSeq === a.map(_.getInt(0)).toSeq.sorted)
    val b = Similarity.kmeans(spark, sf).collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
  }

  test("madOutliers: matches a driver-side median/MAD reference") {
    import org.apache.spark.sql.functions._
    val rows = Analytics.madOutliers(spark, sf).collect()
    val raw = Star.events(spark, sf)
      .select(col("event_type"), round(col("value") * 100).cast("long"))
      .collect().groupBy(_.getString(0))
    def med2(xs: Seq[Long]): Long = {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) 2 * s(n / 2) else s(n / 2 - 1) + s(n / 2)
    }
    rows.foreach { r =>
      val ys = raw(r.getString(0)).map(_.getLong(1)).toSeq
      val m2 = med2(ys)
      val dev2 = ys.map(y => math.abs(2 * y - m2))
      val mad4 = med2(dev2)
      assert(r.getLong(1) === ys.length.toLong)
      assert(r.getDouble(2) === m2 / 2.0)
      assert(r.getDouble(3) === mad4 / 4.0)
      assert(r.getLong(4) === dev2.count(d => 2 * d > 3 * mad4).toLong)
    }
  }

  test("linregPerGroup: matches a driver-side OLS reference at sf0.001") {
    import org.apache.spark.sql.functions._
    val rows = Analytics.linregPerGroup(spark, sf).collect()
    val raw = Star.events(spark, sf)
      .select(col("event_type"),
        floor((unix_micros(col("ts")) -
          unix_micros(lit("2024-01-01").cast("timestamp"))) / 3600000000L)
          .cast("long"),
        round(col("value") * 100).cast("long"))
      .collect().groupBy(_.getString(0))
    rows.foreach { r =>
      val pts = raw(r.getString(0)).map(p => (p.getLong(1), p.getLong(2)))
      val n = pts.length.toLong
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxy = pts.map(p => p._1 * p._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
      assert(r.getLong(1) === n)
      assert(r.getDouble(2) === slope)
      assert(r.getDouble(3) === (sy.toDouble - slope * sx.toDouble) / n.toDouble)
    }
  }

  test("pageRank: rank correlates with weighted in-degree on this graph") {
    val rows = Graph.pageRank(spark, sf).collect()
    // suppliers concentrate in few nations at sf0.001 — nations with no
    // suppliers (no inbound trade) must sit exactly on the damped floor
    // after the final iteration's teleport + zero inflow
    val floor = rows.map(_.getDouble(2)).min
    assert(floor >= 0.15 - 1e-9 && floor < 0.2)
  }
}
