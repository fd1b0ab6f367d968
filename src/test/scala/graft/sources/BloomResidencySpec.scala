package graft.sources

import graft.SparkSuite
import graft.functions.BloomFamily
import graft.operators.Dispatch
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Pins the ARRIVAL-SIZED bloom-family residency (r14 verdict item 1):
  * touched-shard loading, the conservative unloaded-shard fallback, the
  * monotone in-place upgrade of the memoized family, the byte-budget
  * cache bound, and the staged (versioned) heal publication that
  * replaced the r14 delete+rewrite-in-place (r14 advice). */
class BloomResidencySpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def freshName(prefix: String): String =
    s"$prefix${java.util.UUID.randomUUID.toString.take(6)}"

  /** Keys deliberately spread across shards (uniform under murmur). */
  private def keysDf(n: Long) = {
    import spark.implicits._
    (0L until n).map(_ * 7919L).toDF("h")
  }

  private def indexOf(name: String, n: Long) =
    IndexStore.cachedBucketTable(
      spark, dir, "documents", name, 8, Seq("h"), Seq("h"))(keysDf(n))

  test("arrival-routed load merges only the touched shards; unloaded " +
    "shards answer the conservative true; a later whole load upgrades " +
    "the SAME memoized instance monotonically") {
    val name = freshName("blmres")
    val index = indexOf(name, 4000L)
    val touched = Set(0, 3)
    val routed = IndexStore.bloomFamilyForArrival(
      spark, dir, "documents", name, "h", 8)(index)(_ => touched)
    assert(routed.shards === 8)
    assert(routed.loadedShards === 2,
      "routed load must read exactly the touched shards' side-files")
    assert(routed.loadedBytes > 0)
    val members = (0L until 4000L).map(_ * 7919L)
    // no false negatives anywhere: members in loaded shards hit their
    // bloom; members in unloaded shards ride the conservative fallback
    members.foreach(k => assert(routed.mightContainLong(k),
      s"member $k rejected by the partial family (false negative)"))
    // unloaded shards pass EVERYTHING (one-sided error: true proves
    // nothing, false proves absence); loaded shards still reject
    val nonMembers = (1L to 4000L).map(_ * 7919L + 3L)
    val (inLoaded, inUnloaded) =
      nonMembers.partition(k => touched(BloomFamily.shardOf(k, 8)))
    inUnloaded.foreach(k => assert(routed.mightContainLong(k),
      s"unloaded shard answered false for $k — the fallback must be " +
        "conservative, a partial family may never prove absence it " +
        "cannot check"))
    val rejected = inLoaded.count(!routed.mightContainLong(_))
    assert(rejected > inLoaded.size * 9 / 10,
      s"loaded shards rejected only $rejected/${inLoaded.size} " +
        "non-members — the loaded portion must actually filter")
    // capture BEFORE the upgrade: the whole load below fills the SAME
    // instance's slots, so the partial figures vanish afterwards
    val routedBytes = routed.loadedBytes
    // whole load returns the SAME instance (memo contract: BloomFamily
    // comparisons stay O(1) by reference) with every slot now filled
    val whole = IndexStore.bloomFamilyFor(
      spark, dir, "documents", name, "h", 8)(index)
    assert(whole eq routed,
      "whole load after a routed load must upgrade the memoized " +
        "instance, not mint a second family")
    assert(whole.loadedShards === 8)
    assert(whole.loadedBytes >= routedBytes * 3,
      "upgrade must have loaded the remaining shards' bytes")
    // the upgrade must be VISIBLE through the previously-partial
    // reference: the probes above forced deserialization while shards
    // were unloaded, and a whole-array cache would freeze those slots
    // at the conservative fallback — non-members of the upgraded
    // shards would keep passing forever (r15 review)
    val upgradedRejects = inUnloaded.count(!routed.mightContainLong(_))
    assert(upgradedRejects > inUnloaded.size * 9 / 10,
      s"only $upgradedRejects/${inUnloaded.size} non-members rejected " +
        "through the upgraded reference — the partial-family probe " +
        "cache froze the unloaded slots")
  }

  test("a deliberately WRONG (empty) touched set still serves exactly: " +
    "the fallback passes everything through to the exact join") {
    val name = freshName("blmcons")
    val index = indexOf(name, 1000L)
    val none = IndexStore.bloomFamilyForArrival(
      spark, dir, "documents", name, "h", 8)(index)(_ => Set.empty)
    assert(none.loadedShards === 0)
    import spark.implicits._
    val probe = ((0L until 1000L).map(_ * 7919L) ++
      (1L to 1000L).map(_ * 7919L + 3L)).toDF("h")
    val exact = probe
      .filter(graft.functions.BloomOps.familyMightContainLong(col("h"), none))
      .join(index, Seq("h"))
      .count()
    assert(exact === 1000L,
      "serve through an all-fallback family must equal the exact join " +
        "— the prefilter may only ever shrink the join input, never " +
        "change its result")
  }

  test("adaptive residency loads whole under the footprint budget and " +
    "routes past it") {
    val name = freshName("blmadp")
    val index = indexOf(name, 2000L)
    // force the budget to zero: every family is 'too big' -> routed
    val key = Dispatch.BloomWholeFamilyBudgetBytes.key
    try {
      spark.conf.set(key, "0")
      var routedCalls = 0
      val fam = IndexStore.bloomFamilyAdaptive(
        spark, dir, "documents", name, "h", 8)(index) { shards =>
        routedCalls += 1
        Set(1, 2)
      }
      assert(routedCalls === 1, "past the budget the routing must run")
      assert(fam.loadedShards === 2)
      // relax the budget: adaptive must now fill the family WITHOUT
      // invoking the routing pass (the arrival-sized pass is pure cost
      // when the whole family fits)
      spark.conf.set(key, (1L << 30).toString)
      val fam2 = IndexStore.bloomFamilyAdaptive(
        spark, dir, "documents", name, "h", 8)(index) { _ =>
        routedCalls += 1
        Set.empty
      }
      assert(routedCalls === 1,
        "under the budget the routing pass must be skipped")
      assert((fam2 eq fam) && fam2.loadedShards === 8)
    } finally spark.conf.unset(key)
  }

  test("the family memo is bounded by BYTES: loading a second snapshot " +
    "past the budget evicts the least-recently-served one, never the " +
    "one being loaded") {
    val key = Dispatch.BloomCacheBudgetBytes.key
    try {
      spark.conf.set(key, "1")
      val nameA = freshName("blmbgtA")
      val famA = IndexStore.bloomFamilyFor(
        spark, dir, "documents", nameA, "h", 8)(indexOf(nameA, 1000L))
      assert(famA.loadedShards === 8,
        "the snapshot being served must load even when it alone " +
          "exceeds the budget — eviction may only shed OTHER roots")
      val afterA = IndexStore.bloomCacheLoadedBytes
      assert(afterA >= famA.loadedBytes)
      val nameB = freshName("blmbgtB")
      val famB = IndexStore.bloomFamilyFor(
        spark, dir, "documents", nameB, "h", 8)(indexOf(nameB, 1000L))
      val afterB = IndexStore.bloomCacheLoadedBytes
      assert(afterB < afterA + famB.loadedBytes,
        s"second load must evict past the budget: $afterA + " +
          s"${famB.loadedBytes} vs $afterB")
      assert(afterB >= famB.loadedBytes,
        "the just-loaded family must survive its own eviction pass")
    } finally spark.conf.unset(key)
  }

  test("a heal publishes a complete NEW version and swaps the pointer — " +
    "the superseded version's files survive for in-flight readers " +
    "(no delete+rewrite-in-place window)") {
    val name = freshName("blmheal")
    val index = indexOf(name, 500L)
    IndexStore.bloomFamilyFor(spark, dir, "documents", name, "h", 8)(index)
    // locate the snapshot's blooms dir the way IndexStore lays it out
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_idx_${name}_${FixtureCache.sourceTag(dir, "documents")}")
    val blooms = root.resolve("blooms")
    val ptr = blooms.resolve("_PTR")
    val v1 = java.nio.file.Files.readString(ptr).trim
    val v1Files = {
      val walk = java.nio.file.Files.walk(blooms.resolve(v1))
      try walk.iterator().asScala.toList
      finally walk.close()
    }
    assert(v1Files.exists(_.getFileName.toString.startsWith("p")),
      "fixture must have shard files to protect")
    // corrupt the pointer -> the next read heals by REBUILDING
    java.nio.file.Files.delete(ptr)
    val healed = IndexStore.bloomFamilyFor(
      spark, dir, "documents", name, "h", 8)(index)
    (0L until 500L).map(_ * 7919L).foreach(k =>
      assert(healed.mightContainLong(k), s"healed family lost member $k"))
    val v2 = java.nio.file.Files.readString(ptr).trim
    assert(v2 !== v1, "heal must publish a NEW version dir")
    v1Files.foreach(f => assert(java.nio.file.Files.exists(f),
      s"superseded version file $f deleted during the heal — a reader " +
        "that resolved v1 a moment earlier would fail mid-merge; old " +
        "versions may only be reaped past the grace window"))
  }
}
