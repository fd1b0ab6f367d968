package graft.tools

import graft.sources.IndexStore
import org.apache.spark.sql.functions._

/** Second-JVM worker for the CROSS-PROCESS lifecycle stress
  * (ConcurrentLifecycleSpec): appends a contiguous range of segments to
  * a shared index lane, compacting every few appends, then promotes the
  * serving alias to its generation as its LAST act before exiting 0.
  * Every coordination primitive under test (staged atomic segment
  * publication, idempotent applied-markers, marker-based retirement with
  * the reader grace window, atomic alias promotion) is exactly the code
  * a concurrent maintenance process would run — the spec drives this
  * main in a real separate JVM against the same tmpdir lane its own
  * threads are hammering.
  *
  * A second mode runs the MAJOR REWRITE from the foreign process while
  * the parent probes — the tombstone-applying compaction's whole
  * coordination surface (build-once generation, companion rebuilds,
  * marker carry, alias promote) exercised cross-process against the
  * MajorRewriteSpec fixture (base rows 0-99, segment a1 rows 200-219,
  * h = doc_id % 10 — the fixture contract is shared with that spec).
  *
  * A third mode appends a stream of one-row segments to a lane that a
  * CONCURRENT major rewrite is sealing — the r14 verdict item 5 race:
  * each append must end up in the serving lineage exactly once (folded
  * if its marker was captured, redirected/re-landed into the new
  * generation otherwise — appendSegment's fence protocol), and the
  * worker prints every id it landed so the parent can audit
  * multiplicity. Rows are ODD doc_ids ≥ 1001, outside the fixture's
  * even-id tombstone set.
  *
  * Usage: runMain graft.tools.LifecycleStressMain
  *   <sfDir> <laneName> <alias> <gen> <loSeg> <hiSeg>
  *   | --rewrite <sfDir> <laneName> <gen>
  *   | --append-loop <sfDir> <laneName> <nSegments>
  */
object LifecycleStressMain {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--rewrite")) { rewriteMain(args); return }
    if (args.headOption.contains("--append-loop")) {
      appendLoopMain(args); return
    }
    val Array(dir, lane, alias, gen, loStr, hiStr) = args.take(6)
    val (lo, hi) = (loStr.toInt, hiStr.toInt)
    val spark = graft.Harness.session("graft-lifecycle-stress", 2, "ERROR")
    try {
      var seg = lo
      while (seg < hi) {
        val s = seg // stable capture for the by-name build
        IndexStore.appendSegment(spark, dir, "documents", lane, s"g$s") {
          spark.range(10).select(lit(s).as("seg"), col("id"))
        }
        if (s % 4 == 3)
          IndexStore.compactAppends(spark, dir, "documents", lane,
            maxSegments = 3)
        seg += 1
      }
      IndexStore.promote(dir, "documents", alias, gen)
      println(s"STRESS_DONE $lane [$lo,$hi)")
    } finally spark.stop()
  }

  private def rewriteMain(args: Array[String]): Unit = {
    val Array(_, dir, lane, gen) = args.take(4)
    val spark = graft.Harness.session("graft-lifecycle-stress", 2, "ERROR")
    try {
      import spark.implicits._
      // fixture contract shared with MajorRewriteSpec: ids 0-99 (base)
      // ∪ 200-219 (segment a1), h = doc_id % 10, tombstones = even ids
      val base = IndexStore.openTable(spark, dir, "documents", lane)
      val tomb = ((0L until 100L) ++ (200L until 220L))
        .filter(_ % 2 == 0).toDF("doc_id")
      IndexStore.majorRewrite(spark, dir, "documents", lane, gen,
        4, Seq("h"), Seq("h"), Seq("doc_id"),
        countsKeyCols = Some(Seq("h")), bloomKeyCol = Some("doc_id"),
        bloomShards = 4)(base)(tomb)
      println(s"REWRITE_DONE $lane $gen")
    } finally spark.stop()
  }

  private def appendLoopMain(args: Array[String]): Unit = {
    val Array(_, dir, lane, nStr) = args.take(4)
    val n = nStr.toInt
    val spark = graft.Harness.session("graft-lifecycle-stress", 2, "ERROR")
    try {
      var i = 0
      while (i < n) {
        val id = 1001L + 2 * i // odd: never in the even-id tombstone set
        IndexStore.appendSegment(spark, dir, "documents", lane, s"r$i") {
          spark.range(1)
            .select(lit(id).as("doc_id"), lit(id % 10).as("h"))
        }
        // printed AFTER appendSegment returns: by the fence protocol the
        // segment is then durably in SOME lineage — the parent audits
        // that it is the SERVING one, exactly once
        println(s"APPENDED r$i $id")
        i += 1
      }
      println(s"APPEND_LOOP_DONE $lane $n")
    } finally spark.stop()
  }
}
