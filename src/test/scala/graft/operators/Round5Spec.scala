package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Specs for the round-5 additions: multi-pass sorted-neighborhood
  * blocking and the packed-array k-means centroid update. */
class Round5Spec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("snmMultipass: superset of the single pass, every pair a true >=0.5 pair") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val single = pairs(Dedup.sortedNeighborhood(spark, sf))
    val multi = pairs(Dedup.snmMultipass(spark, sf))
    // the second key only ADDS neighborhoods — pass 1 is run unchanged
    assert(single.keySet.subsetOf(multi.keySet))
    assert(multi.size >= single.size)
    // every multipass pair is a true >=0.5 pair with the same exact score
    val full = pairs(Dedup.ngramJaccard(spark, sf))
    multi.foreach { case (pair, j) =>
      assert(full.get(pair).contains(j), s"pair $pair missing or score drift")
    }
    assert(multi.keys.forall { case (a, b) => a < b })
  }

  test("substringDedup: verbatim-copy fixture docs show high shared fraction") {
    val rows = Dedup.substringDedup(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (win, shared, frac) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(win > 0 && shared >= 0 && shared <= win)
      assert(frac >= 0.0 && frac <= 1.0)
    }
    // the corpus carries near-dup pairs (the LSH fixtures): their verbatim
    // 8-gram overlap must register as shared spans for at least some docs
    assert(rows.count(_.getDouble(3) > 0.5) >= 2)
    // docs shorter than one window are absent, not zero-row'd
    val short = Star.table(spark, sf, "documents")
      .filter(size(split(trim(col("text")), "\\s+")) < 8).count()
    assert(rows.length + short.toInt ===
      Star.table(spark, sf, "documents").count().toInt)
  }

  test("shuffleShard: a true permutation — every doc once, contiguous " +
    "positions per shard, deterministic across runs") {
    val rows = Training.shuffleShard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val total = Star.table(spark, sf, "documents").count()
    assert(rows.length.toLong === total)
    assert(rows.map(_._1).distinct.length === rows.length, "doc repeated")
    assert(rows.forall { case (_, s, _) => s >= 0 && s < 16 })
    rows.groupBy(_._2).foreach { case (s, g) =>
      val ps = g.map(_._3).sorted
      assert(ps.toSeq === (1L to g.length.toLong), s"shard $s gap")
    }
    // shards are balanced-ish (pseudo-random): no shard hogs the corpus
    val sizes = rows.groupBy(_._2).values.map(_.length)
    assert(sizes.max < total / 4, s"skewed shards: ${sizes.toSeq.sorted}")
    // deterministic: a second evaluation yields the identical permutation
    val again = Training.shuffleShard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq === rows.toSeq)
  }

  test("perplexityBuckets: tertiles partition the held-out set, ordered by likelihood") {
    val rows = Training.perplexityBuckets(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq === rows.map(_.getLong(0)).toSeq.sorted)
    assert(rows.map(_.getLong(0)).forall(b => b >= 0 && b <= 2))
    // tertile sizes differ by at most 1 from each other
    val sizes = rows.map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1)
    // buckets are likelihood-ordered: head's floor >= middle's ceiling, etc.
    rows.sliding(2).foreach { case Array(hi, lo) =>
      assert(hi.getDouble(2) >= lo.getDouble(3)) // min_p(head) >= max_p(next)
    }
  }

  test("kmeans: packed-array update shuffles arrays, not exploded (cid, dim) rows") {
    val df = Similarity.kmeans(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // membership counts cover the whole corpus exactly once
    val n = Star.table(spark, sf, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum === n)
    // vectors stay PACKED end-to-end: never a posexplode of the vector
    // relation. Since r11 the trainer's k-row model is driver-resident
    // (the per-round VecSum update runs eagerly inside exactKmeans, not
    // in the returned plan): the final plan shows the model as a
    // LocalTableScan and the assignment as a per-row codegen argmin
    // (vector_dist_sq against literal centroid structs) — no n×k
    // crossJoin + groupBy(vec_id) exchange remains.
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("posexplode"), plan.take(2000))
    assert(plan.contains("LocalTableScan"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // r17: under the small-corpus gate the whole trainer is
    // driver-resident, so no distance expression remains in the plan;
    // the DISTRIBUTED branch must still show the per-row codegen argmin
    // (vector_dist_sq against literal centroid structs)
    spark.conf.set("spark.graft.collectThreshold", "0")
    try {
      val dplan = Similarity.kmeans(spark, sf)
        .queryExecution.executedPlan.toString
      assert(dplan.contains("vector_dist_sq"), dplan.take(2000))
      assert(!dplan.toLowerCase.contains("posexplode"), dplan.take(2000))
      assert(!dplan.contains("CartesianProduct"), dplan.take(2000))
    } finally spark.conf.unset("spark.graft.collectThreshold")
  }
}
