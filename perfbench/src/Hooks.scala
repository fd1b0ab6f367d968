// Package-private seams the benchmark needs from outside the engine: the
// between-op hygiene Bench runs, the index build counter, and a way to wait
// for the listener bus before reading per-layer counters.

package graft {
  object PerfBenchHooks {
    /** Releases the winnow materialize sites' persisted frames, as
      * `Bench.cleanup` does between queries. */
    def releaseMaterialized(): Unit = operators.Dedup.releaseMaterialized()

    /** Physical index builds performed in this JVM. */
    def indexBuilds: Int = sources.IndexStore.buildCount.get
  }
}

package org.apache.spark {
  object PerfBenchBus {
    /** Blocks until every posted listener event has been delivered. */
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}
