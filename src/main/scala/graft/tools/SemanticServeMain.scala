package graft.tools

/** Second-JVM worker for the persisted-residual-model spec
  * (ConcurrentLifecycleSpec): serves the semantic incremental-dedup
  * chain in a FRESH process — empty catalog, empty in-JVM memos — so
  * the only way it can band correctly is by loading the banding model
  * (centroids + τ²) and the band index from their persisted snapshots.
  * Prints the verdicts and this JVM's physical index-build count; the
  * parent asserts builds == 0 (the trainer never ran here) and verdicts
  * identical to its own.
  *
  * Usage: runMain graft.tools.SemanticServeMain <sfDir>
  */
object SemanticServeMain {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Harness.session("graft-semantic-serve", 4, "ERROR")
    try {
      val rows = graft.operators.Similarity
        .semanticDedupIncremental(spark, dir)
        .collect()
        .map(r => s"${r.getLong(0)}:${r.getString(1)}")
        .mkString(",")
      println(s"SERVE_BUILDS=${graft.sources.IndexStore.buildCount.get}")
      println(s"SERVE_ROWS=$rows")
    } finally spark.stop()
  }
}
