package graft.operators

import org.apache.spark.sql.SparkSession

/** Every adaptive gate and budget of the engine, read in one place. A
  * gate picks a branch by what the query observes (a row count, a
  * footprint): the driver-side or whole-load branch at small scale, the
  * distributed or routed one at 100 TB. The settable values are session
  * confs, so `spark.conf.set` and `SPARK_GRAFT_CONF` reach each of them;
  * 0 forces the distributed branch of every numeric gate. Each branch
  * pair is row-identical (R17DispatchSpec runs every gate at both
  * extremes). */
object Dispatch {

  /** A settable numeric gate: its session conf key and default. */
  final case class Gate(key: String, default: Long) {
    def apply(spark: SparkSession): Long =
      spark.conf.getOption(key).fold(default)(_.toLong)
  }

  /** The driver-collect gate of the small-input dispatches (CC
    * union-find, PageRank, the k-means trainer): at or under this many
    * rows the input is collected and finished on the driver. */
  val CollectThreshold = Gate("spark.graft.collectThreshold", 1L << 16)

  /** `Dedup.winnowPairsCapped`: at or under this many corpus docs the
    * heavy-hash anti-join broadcasts its heavy set; above it the planner
    * shuffles the join. */
  val WinnowBroadcastDocGate =
    Gate("spark.graft.winnow.broadcastDocGate", 1L << 21)

  /** `Training.contaminationAdaptiveOf`: an arrival of more docs than
    * this takes the bucketed join at once, with no survivor pin. */
  val ContamPointMaxDocs = Gate("spark.graft.contam.pointMaxDocs", 2000L)

  /** `IndexStore`'s adaptive bloom residency: a family whose footprint
    * is under this many bytes loads whole; past it only the arrival's
    * touched shards load. */
  val BloomWholeFamilyBudgetBytes =
    Gate("spark.graft.bloom.wholeFamilyBudgetBytes", 32L << 20)

  /** `IndexStore`'s family memo: loaded bloom bytes past this budget
    * evict the least-recently-served snapshots. */
  val BloomCacheBudgetBytes =
    Gate("spark.graft.bloom.cacheBudgetBytes", 256L << 20)

  /** `Star.pin`: `true` takes the recompute-safe persist + materialize
    * pin instead of the executor-local `localCheckpoint`. */
  val PinReliableKey = "spark.graft.pin.reliable"

  def pinReliable(spark: SparkSession): Boolean =
    spark.conf.getOption(PinReliableKey).contains("true")

  /** Every settable key. */
  val keys: Seq[String] = Seq(CollectThreshold, WinnowBroadcastDocGate,
    ContamPointMaxDocs, BloomWholeFamilyBudgetBytes,
    BloomCacheBudgetBytes).map(_.key) :+ PinReliableKey

  /** Fixed bound of the k-means assignment: up to this many cells it is
    * one codegen'd projection over literal centroids, past it a
    * broadcast join (k·d literals outgrow janino's 64 KB method). */
  val KmeansLiteralMapCells = 64

  /** Fixed bound of the contamination point path: up to this many
    * bloom-survivor keys are pushed as an IN list, past it the exact
    * join finishes on the pinned survivors. */
  val ContamPointMaxKeys = 20000
}
