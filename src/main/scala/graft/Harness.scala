package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe every entry point and the test suite
  * build their session through, and the between-query cleanup Bench and
  * Verify run. An entry point picks only its master, core count, app
  * name and log level (plus any static conf it owns, such as a warehouse
  * dir); everything else a session needs is set here, once. */
object Harness {

  /** `SPARK_GRAFT_CPUS`, or the entry point's own default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** `SPARK_GRAFT_CONF="k=v;k2=v2"`: extra session confs for A/B runs. */
  def confPairs(value: String): Seq[(String, String)] =
    value.split(";").toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => sys.error(
          s"SPARK_GRAFT_CONF entry '$kv' is not k=v (full value: $value)")
      }
    }

  /** A session on `master` (default `local[cpus]`) with `cpus` shuffle
    * partitions. `conf` holds the caller's own static confs; the
    * `SPARK_GRAFT_CONF` pairs are applied last, so they win. */
  def session(app: String, cpus: Int, logLevel: String,
      master: Option[String] = None,
      conf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Testdata parquet timestamps carry isAdjustedToUTC=false; read them as
      // session-TZ (UTC) TIMESTAMP, not TIMESTAMP_NTZ, so timestamp functions
      // (unix_micros, watermarks) keep their pre-Spark-4-inference semantics.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // ~200 queries x several codegen stages each overflow the default
      // 100-entry generated-class cache, so every timed pass recompiles
      // stages the warm-up already compiled (janino ~10-50 ms/stage —
      // pure context tax on the tiny-query floor). Size it to hold the
      // whole suite. Static conf: must be set before session creation.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
    val extra = sys.env.get("SPARK_GRAFT_CONF").map(confPairs)
    (conf ++ extra.getOrElse(Nil)).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Between-query hygiene, run untimed before each query. Queries are
    * independent, but the streaming replays register memory-sink tables
    * (whole result sets pinned on the heap) and iterative queries persist
    * RDD leaves — left in place they tax every query that runs after them
    * (measured: the alphabetically-adjacent q_string_ and q_text_ blocks
    * ran ~2x slower after the round-4 stream block grew), and over a whole
    * Verify dump they would keep every query's MEMORY_ONLY blocks
    * resident. DataFrame-level persists (the winnow materialize site)
    * release through their registry — df.unpersist removes the
    * CacheManager entry too, which a raw RDD unpersist would leave stale.
    * The persisted RDDs in `keep` (Bench's pinned pool) survive, and a
    * non-empty `keep` also skips the global clearCache that would evict
    * them. */
  def cleanup(spark: SparkSession, keep: Set[Int] = Set.empty,
      gc: Boolean = false): Unit = {
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_stream"))
      .foreach(t => spark.catalog.dropTempView(t.name))
    graft.operators.Dedup.releaseMaterialized()
    if (keep.isEmpty) spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !keep(id) }
      .values.foreach(_.unpersist(blocking = false))
    // Bench's timed passes: a full collection between queries makes each
    // timing start from the same heap state instead of inheriting the
    // allocation debt of ~200 preceding queries (measured as 160-230%
    // second-run spreads on state-heavy neighbors). A/B (r8): -6.4 s
    // single-run / -5.4 s best-of-n together with the codegen cache
    // sizing; a stream-family exclusion variant measured worse (the
    // apparent stream+GC penalty was host drift — streams timed
    // identically with and without it).
    if (gc) System.gc()
  }
}
