package graft

/** Benchmark main: times every registered query on
  * `$SPARK_GRAFT_SF_DIR`, printing ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Methodology: a full warm-up pass first (JIT + codegen caches + file
  * footers), then one timed execution per query into the `noop` sink —
  * which executes the complete physical plan (unlike `count()`, which lets
  * Catalyst prune away unreferenced output columns). Set
  * SPARK_GRAFT_WARMUP=0 to skip warm-up. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "2").toInt
    val spark = Harness.session("graft-bench", Harness.cpus(32), "ERROR")

    // Columnar buffer pool (r12 verdict item 1): one analyzed + cached
    // set of star relations shared across the whole bench pass,
    // substituting an InMemoryTableScan for every query's parquet scan.
    // MEASURED A NET LOSS at sf0.1 and OFF by default (honest negative
    // result, r13): 18 of 20 mid-band queries improved 5-10 % and the
    // tiny-query set ~1 %, but two driver-iterated queries collapsed
    // (q_bpe_merges 1.04 → 2.83 s, q_curation_keep 2.96 → 3.45 s —
    // each loop iteration re-decodes the cached batches, and neither
    // compression-off nor broadcast-threshold probes recovered it),
    // erasing the broad win. The OS page cache already serves the
    // parquet bytes; IMR decode is not cheaper than the vectorized
    // parquet reader at this scale. SPARK_GRAFT_PIN=1 re-enables for
    // cluster-style probes (cold object store, no page cache) where the
    // trade reverses.
    val pin = sys.env.getOrElse("SPARK_GRAFT_PIN", "0") == "1"
    val pinnedIds: Set[Int] =
      if (!pin) Set.empty
      else {
        graft.operators.Star.pinTables(spark, sfDir)
        // the pinned DataFrames' columnar-buffer RDDs are what
        // getPersistentRDDs reports — snapshot them so Harness.cleanup
        // releases everything EXCEPT the pool
        spark.sparkContext.getPersistentRDDs.keySet.toSet
      }

    def exec(name: String, gc: Boolean = false): Double = {
      Harness.cleanup(spark, pinnedIds, gc) // untimed
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
    }

    // SPARK_GRAFT_ONLY=q_a,q_b narrows the run for focused iteration.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    (1 to warmup).foreach(_ => names.foreach(n => exec(n)))
    // best-of-N timed runs (default 2): per-query min discards GC/OS noise
    // (±20% run-to-run on identical plans was measured on this host) and
    // reports the plan's capability rather than scheduler luck.
    val timedRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    val all = (1 to timedRuns).map(_ => names.map(n => n -> exec(n, gc = true)))
    val results = names.zipWithIndex.map { case (n, i) =>
      val ts = all.map(_(i)._2)
      n -> (if (ts.forall(_ >= 0)) ts.min else -1.0)
    }
    val total = results.map(_._2).filter(_ >= 0).sum
    // both measurements are reported so rounds compare like-for-like:
    // single_run = the FIRST timed pass (what a cold driver tail sees),
    // value/best_of_n = per-query min across the N passes
    val singleRunTotal = all.head.map(_._2).filter(_ >= 0).sum
    def fmt(v: Double): String = f"$v%.3f"
    // Full per-query detail goes to a FILE: the driver captures only the
    // last ~2000 chars of stdout, and the full 126-query JSON line (~4 KB)
    // does not fit (BENCH_r02/r03 "parsed": null). The printed line stays
    // compact: total + a fixed headline subset, all 3-decimal.
    val full = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // Per-query [min, max, spread%] across the N timed runs: the min-vs-max
    // band is the measurement noise floor, so a cross-round delta smaller
    // than a query's own spread is noise, not a regression. spread% =
    // (max-min)/min*100, -1 when any run errored.
    val minmax = names.zipWithIndex.map { case (n, i) =>
      val ts = all.map(_(i)._2)
      val ok = ts.forall(_ >= 0)
      val lo = if (ok) ts.min else -1.0
      val hi = if (ok) ts.max else -1.0
      val spreadPct = if (ok && lo > 0) (hi - lo) / lo * 100.0 else -1.0
      "\"" + n + "\":[" + fmt(lo) + "," + fmt(hi) + "," + fmt(spreadPct) + "]"
    }.mkString("{", ",", "}")
    // a query that threw in any timed run is left out of the totals above;
    // these fields name it, so a failure cannot pass as a faster run
    val failedNames = results.collect { case (n, v) if v < 0 => n }
    val failed = s""""n_failed":${failedNames.size},"failed":""" +
      failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"runs":$timedRuns,"warmup":$warmup,"single_run":${fmt(singleRunTotal)},"best_of_n":${fmt(total)},"queries":$full,"min_max_spread":$minmax,"sf":"$sfDir",$failed}"""
    // narrowed (SPARK_GRAFT_ONLY) runs write a scratch file so a focused
    // iteration never clobbers the last full-run per-query map
    val detailFile = if (only.isDefined) "bench_narrow.json" else "bench_full.json"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(detailFile),
      (fullJson + "\n").getBytes("UTF-8"))
    val headline = Seq(
      "q_agg_pricing", "q_tpch_q3", "q_tpch_q5", "q_tpch_q10",
      "q_join_multi", "q_window_running", "q_sessionize", "q_topk_per_group",
      "q_asof_join", "q_dedup_minhash", "q_dedup_ngram_jaccard",
      "q_dedup_embedding", "q_ann_bruteforce", "q_ann_lsh", "q_tfidf_topk",
      "q_percentiles", "q_text_quality", "q_lang_id", "q_stream_time_bucket",
      "q_inmet_kpis")
    val resMap = results.toMap
    val qs = headline.filter(resMap.contains)
      .map(k => "\"" + k + "\":" + fmt(resMap(k)))
      .mkString("{", ",", "}")
    // stop FIRST, print LAST: the driver tails combined output, and
    // Spark shutdown logging after the JSON line can push it out of a
    // short tail capture (BENCH_r04 "parsed": null)
    spark.stop()
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"runs":$timedRuns,"warmup":$warmup,"single_run":${fmt(singleRunTotal)},"best_of_n":${fmt(total)},"queries":$qs,"detail":"$detailFile","sf":"$sfDir",$failed}""")
  }
}
