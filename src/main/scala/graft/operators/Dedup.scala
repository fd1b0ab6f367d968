package graft.operators

import graft.QueryDef
import graft.sources.IndexStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines, over the
  * `documents` table.
  *
  * Scale architecture (the part that matters at 100 TB):
  *   - exact dedup is a hash group-by — one shuffle keyed on the 128-bit
  *     content hash, never on the text itself;
  *   - near-dup candidate generation NEVER compares all pairs: both the
  *     n-gram-Jaccard and MinHash-LSH paths explode documents into
  *     (signature-fragment, doc) rows and self-join on the fragment, so the
  *     shuffle carries only fragment matches (inverted-index join). Skewed
  *     hot fragments are the known hazard: the winnowing path applies a
  *     document-frequency cap (see winnowPairs); the exact-Jaccard path is
  *     kept cap-free because it is the oracle-matched reference —
  *     production deployments would apply the same cap there.
  */
object Dedup {

  /** DataFrame-level persists handed out by the materialize branch below
    * — the ONE site in main source that caches through the CacheManager
    * (everything else pins raw RDD leaves). Registered so a multi-query
    * harness can release them PROPERLY (df.unpersist drops both the
    * buffers and the CacheManager entry) without a global clearCache,
    * which would also evict deliberately pinned relations
    * ([[Star.pinTables]]). */
  private[graft] val materializedRegistry =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Release every registered materialized relation (between-query
    * harness hygiene — the winnowPairs caching contract). */
  private[graft] def releaseMaterialized(): Unit = {
    var df = materializedRegistry.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = materializedRegistry.poll()
    }
  }

  /** Word 3-gram shingle set per doc: (doc_id, shingle) exploded rows.
    * `try_element_at` (null out of bounds, ANSI-safe) + concat_ws's
    * null-skipping means a doc shorter than 3 tokens yields its full text
    * as the single shingle — identical to the DuckDB formulation, where
    * out-of-range list indexing returns NULL. */
  private def shingles(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tokenize + 100x shingle explode is the heavy map side — fan it out.
    // The fan-out repartition keys on doc_id (not round-robin) so every
    // downstream per-doc operation — the window count below, minhash's
    // groupBy(doc_id) — reuses the partitioning with ZERO extra exchange.
    // The shingle array is deliberately INLINED into explode() rather than
    // projected to a column first: explode over an attribute triggers
    // InferFiltersFromGenerate, whose size(...)>0 filter gets
    // predicate-pushed below the fan-out repartition and re-evaluates the
    // whole shingle transform serially on the scan side (measured 4-12x
    // slower; SPARK-33544 infers only for cheap/attribute inputs).
    // The distinct-shingle count `c` (the Jaccard denominator) is a window
    // count over the exploded rows: computing it as `size(arr)` next to
    // the explode re-evaluates the whole transform PER SHINGLE ROW (~50x
    // redundant array builds — measured 4-20x slower with GC-stall
    // variance); the window is a sort within already-co-partitioned data.
    shingleRows(docs)
      .withColumn("c", count(lit(1)).over(Window.partitionBy("doc_id")))
  }

  /** Exploded (doc_id, shingle) rows WITHOUT the per-doc count — for
    * paths that filter the shingle space before counting (DF cap). Keeps
    * the doc_id-keyed fan partitioning so downstream per-doc windows and
    * group-bys run exchange-free. */
  private def shingleRows(docs: DataFrame): DataFrame = {
    val arr =
      "array_distinct(transform(sequence(1, greatest(size(w) - 2, 1)), " +
        "i -> concat_ws(' ', try_element_at(w, i), try_element_at(w, i + 1), try_element_at(w, i + 2))))"
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), explode(expr(arr)).as("s"))
  }

  /** Shared inverted-index pair scorer: explode rows (doc_id, token) ->
    * candidate pairs by token equality -> shared-count -> score =
    * shared / denom(ca, cb, shared), kept when >= threshold. The one
    * pair-join implementation behind both the Jaccard and winnowing paths. */
  /** When `exploded` already carries a per-doc token count column `c`
    * (constant within a doc), the denominators ride the pair shuffle as
    * max(c) — no count pass or post-join. Otherwise counts are derived
    * with a group-by + two joins. */
  private[operators] def similarityPairs(
      exploded: DataFrame, tokenCol: String, scoreName: String,
      denom: (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
      threshold: Double, hasCountCol: Boolean = false,
      materialize: Boolean = false, ordered: Boolean = true): DataFrame = {
    // materialize = compute the exploded-token relation ONCE before the
    // self-join: both join sides otherwise re-evaluate the full upstream
    // lineage. Worth it exactly when that lineage is the expensive half
    // (the uncapped winnow path: fingerprint expression + TWO window
    // shuffles — measured 3.9 s → 1.9 s at sf0.1); a net LOSS for cheap
    // lineages, where the persist write costs more than the re-eval
    // (winnowPairsCapped measured 1.9 s → 2.5 s) — hence opt-in.
    // MEMORY_AND_DISK so pressure spills instead of failing; the
    // relation is sketch-sized and DF-capped by the callers. Harnesses
    // unpersist between queries.
    val renamed = exploded.withColumnRenamed(tokenCol, "__tok")
    val f =
      if (materialize) {
        val p = renamed
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        materializedRegistry.add(p)
        p
      } else renamed
    val withCounts =
      if (hasCountCol) {
        f.as("a")
          .join(f.as("b"), col("a.__tok") === col("b.__tok") &&
            col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(count(lit(1)).as("shared"),
            max(col("a.c")).as("ca"), max(col("b.c")).as("cb"))
      } else {
        val cnt = f.groupBy("doc_id").agg(count(lit(1)).as("c"))
        f.as("a")
          .join(f.as("b"), col("a.__tok") === col("b.__tok") &&
            col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(count(lit(1)).as("shared"))
          .join(cnt.withColumnRenamed("doc_id", "id_a")
            .withColumnRenamed("c", "ca"), "id_a")
          .join(cnt.withColumnRenamed("doc_id", "id_b")
            .withColumnRenamed("c", "cb"), "id_b")
      }
    val scored = withCounts
      .select(col("id_a"), col("id_b"), col("shared"),
        Star.ratio6(col("shared"), denom(col("ca"), col("cb"), col("shared")))
          .as(scoreName))
      .filter(col(scoreName) >= threshold)
    // ordered=false for edge-set consumers (the CC chains): their
    // materialization throws the range exchange + sort away
    if (ordered) scored.orderBy("id_a", "id_b") else scored
  }

  /** Exact dedup: canonical id + multiplicity per distinct content hash. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Star.table(spark, dir, "documents")
      .groupBy(md5(col("text")).as("fp"))
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy("canonical_id")

  private val dedupExactSql =
    """SELECT md5(text) AS fp, MIN(doc_id) AS canonical_id,
      |  COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY canonical_id""".stripMargin

  /** Normalization-layer dedup (between exact and near-dup): documents
    * identical AFTER casefold + whitespace collapse + trim share a
    * canonical id. Same one-shuffle hash-group shape as exact dedup —
    * only the key changes; emits one row per normalized class with its
    * multiplicity so the exact/normalized delta is visible. */
  def dedupNormalized(spark: SparkSession, dir: String): DataFrame =
    Star.table(spark, dir, "documents")
      .groupBy(md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
        .as("norm_fp"))
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_members"),
        countDistinct(md5(col("text"))).as("n_exact_classes"))
      .orderBy("canonical_id")

  private val dedupNormalizedSql =
    """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
      |    AS norm_fp,
      |  MIN(doc_id) AS canonical_id, COUNT(*) AS n_members,
      |  COUNT(DISTINCT md5(text)) AS n_exact_classes
      |FROM documents
      |GROUP BY 1 ORDER BY canonical_id""".stripMargin

  /** Exact n-gram Jaccard near-dup pairs via inverted-index join (no
    * all-pairs compare). Emits pairs with similarity >= 0.5.
    *
    * The self-join keys on xxhash64(shingle), not the shingle string: the
    * pair shuffle carries 8-byte keys instead of multi-word text and the
    * join compares longs. Shared counts are identical unless two DISTINCT
    * shingles of a candidate pair collide in 64 bits (p ~ n_distinct^2 /
    * 2^64 — at 100 TB-scale vocabularies this is the standard accepted
    * trade; the oracle cross-check would surface any collision as a hash
    * mismatch). */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(spark, dir, ordered = true)

  private def ngramJaccardPairs(
      spark: SparkSession, dir: String, ordered: Boolean): DataFrame = {
    val sh = shingles(Star.table(spark, dir, "documents"))
      .select(col("doc_id"), col("c"), xxhash64(col("s")).as("s"))
    similarityPairs(sh, "s",
      "jaccard", (ca, cb, shared) => ca + cb - shared, 0.5,
      hasCountCol = true, ordered = ordered)
  }

  private val ngramJaccardSql =
    """WITH words AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(greatest(len(w) - 2, 1)),
      |    i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])))) AS s
      |  FROM words),
      |cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, shared,
      |  (CAST((CAST(shared AS BIGINT) * 1000000)
      |    // CAST(ca.c + cb.c - shared AS BIGINT) AS DOUBLE) / 1000000.0)
      |    AS jaccard
      |FROM pairs
      |JOIN cnt ca ON ca.doc_id = id_a
      |JOIN cnt cb ON cb.doc_id = id_b
      |WHERE (CAST((CAST(shared AS BIGINT) * 1000000)
      |    // CAST(ca.c + cb.c - shared AS BIGINT) AS DOUBLE) / 1000000.0) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** Exact n-gram Jaccard with a DOCUMENT-FREQUENCY CAP: shingles present
    * in more than max(n_docs/100, 5) documents (boilerplate, stopword
    * grams) are dropped before pairing, and Jaccard is computed over the
    * capped shingle space (denominators count kept shingles only).
    *
    * This is the quadratic-blowup guard for the exact path at 100 TB: a
    * shingle with DF=d contributes d^2/2 candidate pairs, so a handful of
    * boilerplate grams can dominate the whole pair shuffle. The heavy set
    * itself is tiny (few distinct values by definition), so the cap is a
    * BROADCAST anti-join — a map-side filter at scan parallelism — rather
    * than the window-count form the winnowing path uses (that one shuffles
    * the full sketch by hash first). The per-doc kept-count then rides the
    * already-doc-keyed partitioning as a window, and the pair join
    * proceeds exactly as [[ngramJaccard]]. */
  def ngramJaccardCapped(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardCappedPairs(spark, dir, ordered = true)

  private def ngramJaccardCappedPairs(
      spark: SparkSession, dir: String, ordered: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Star.table(spark, dir, "documents")
    val sh = shingleRows(docs).select(col("doc_id"), xxhash64(col("s")).as("s"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val heavy = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") > greatest(Star.idiv(col("n_docs"), lit(100L)), lit(5L)))
      .select("s")
    val kept = sh.join(broadcast(heavy), Seq("s"), "left_anti")
      .withColumn("c", count(lit(1)).over(Window.partitionBy("doc_id")))
    similarityPairs(kept, "s",
      "jaccard", (ca, cb, shared) => ca + cb - shared, 0.5,
      hasCountCol = true, ordered = ordered)
  }

  private val ngramJaccardCappedSql =
    """WITH words AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(greatest(len(w) - 2, 1)),
      |    i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])))) AS s
      |  FROM words),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |heavy AS (
      |  SELECT s FROM sh CROSS JOIN n GROUP BY s, n.n_docs
      |  HAVING COUNT(*) > greatest(n.n_docs // 100, 5)),
      |kept AS (
      |  SELECT sh.doc_id, sh.s FROM sh
      |  WHERE sh.s NOT IN (SELECT s FROM heavy)),
      |cnt AS (SELECT doc_id, COUNT(*) AS c FROM kept GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      |  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, shared,
      |  (CAST((CAST(shared AS BIGINT) * 1000000)
      |    // CAST(ca.c + cb.c - shared AS BIGINT) AS DOUBLE) / 1000000.0)
      |    AS jaccard
      |FROM pairs
      |JOIN cnt ca ON ca.doc_id = id_a
      |JOIN cnt cb ON cb.doc_id = id_b
      |WHERE (CAST((CAST(shared AS BIGINT) * 1000000)
      |    // CAST(ca.c + cb.c - shared AS BIGINT) AS DOUBLE) / 1000000.0) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  val numHashes = 16
  val numBands = 4 // 4 rows per band

  // --- portable sketch-hash family -----------------------------------
  // Polynomial codepoint fold mod a 30-bit prime, computable identically
  // by Spark (`aggregate` higher-order function) and the DuckDB oracle
  // (`list_reduce`): H(s) = fold over chars of (acc*B + code(ch)) % P.
  // 30-bit primes keep every intermediate product under 2^61 so both
  // engines stay in exact int64 arithmetic. The MinHash family on top is
  // the standard universal construction mh_j = min((a_j*H + b_j) % P).
  // This makes the sketches ENGINE-PORTABLE — the signatures, band keys,
  // and SimHash values hash-match in the oracle gate, unlike xxhash64,
  // which no other engine reproduces. The hash is a seam: a deployment
  // that doesn't need cross-engine parity swaps the fold for codegen'd
  // xxhash64 (the band/verify structure above it is hash-agnostic).
  private[operators] val HashP1 = 1000000007L
  private[operators] val HashP2 = 999999937L
  private val BandB = 1000003L
  private def mhA(j: Int): Long = (j * 2654435761L + 1000003L) % HashP1
  private def mhB(j: Int): Long = (j * 40503L + 12345L) % HashP1

  private def portableHash(c: Column, b: Long, p: Long): Column =
    graft.functions.HashFunctions.polyHash(c, b, p)

  private def portableHashSql(e: String, b: Long, p: Long): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(" +
      s"string_split($e, ''), c -> unicode(c)::BIGINT)), " +
      s"(acc, c) -> (acc * $b + c) % $p)"

  /** Shared oracle CTE: shingles -> portable hash -> 16 universal
    * min-hashes per doc. The words/sh CTEs are the same formulation the
    * oracled exact-Jaccard chain uses. */
  private def minhashSigCte: String = {
    val mins = (0 until numHashes)
      .map(j => s"MIN((H * ${mhA(j)} + ${mhB(j)}) % $HashP1) AS mh$j")
      .mkString(", ")
    s"""WITH words AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(greatest(len(w) - 2, 1)),
       |    i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])))) AS s
       |  FROM words),
       |hh AS (SELECT doc_id, ${portableHashSql("s", 131L, HashP1)} AS H
       |  FROM sh),
       |sig AS (SELECT doc_id, $mins FROM hh GROUP BY doc_id)""".stripMargin
  }

  /** Band-key fold (band id seeds the fold so bands never collide across
    * band positions): mirrored exactly by [[bandKeySql]]. Distinct
    * min-hash 4-tuples can collide mod P (~n²/2P expected spurious
    * band matches — <1 per million docs per band); both engines compute
    * the identical key, so the gate is unaffected, and in the keep
    * chain the exact-Jaccard verify filters any false candidate. */
  private def bandKey(b: Int): Column =
    (0 until numHashes / numBands)
      .map(r => col(s"mh${b * (numHashes / numBands) + r}"))
      .foldLeft(lit(b.toLong): Column)(
        (acc, m) => (acc * lit(BandB) + m) % lit(HashP1))

  private def bandKeySql(b: Int): String =
    (0 until numHashes / numBands)
      .map(r => s"mh${b * (numHashes / numBands) + r}")
      .foldLeft(s"$b::BIGINT")(
        (acc, m) => s"((($acc) * $BandB + $m) % $HashP1)")

  /** Per-doc MinHash signature (16 portable universal min-hashes)
    * collapsed into 4 band keys — the LSH sketch. Hash-oracled: the
    * DuckDB oracle computes the identical fold/family, so the gate
    * compares full band values, not just row counts. */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    // the output sort lives HERE, on the registered query only: it is
    // presentation order, and leaving it inside withMinhashBands taxed
    // every band consumer (LSH pairs, index builds, per-trigger streaming
    // bands) with a range exchange + sort the next join threw away
    withMinhashBands(shingleRows(Star.table(spark, dir, "documents")))
      .orderBy("doc_id")

  /** (doc_id, band_0..band_{numBands-1}) from exploded shingle rows.
    * UNORDERED — callers that surface it as query output sort it
    * themselves. */
  def withMinhashBands(sh: DataFrame): DataFrame = {
    val h = portableHash(col("s"), 131L, HashP1)
    val mins = (0 until numHashes).map(j =>
      min((h * lit(mhA(j)) + lit(mhB(j))) % lit(HashP1)).as(s"mh$j"))
    val sig = sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    val bands = (0 until numBands).map(b => bandKey(b).as(s"band$b"))
    sig.select(col("doc_id") +: bands: _*)
  }

  private val minhashSignaturesSql = {
    val bands = (0 until numBands)
      .map(b => s"${bandKeySql(b)} AS band$b").mkString(", ")
    s"$minhashSigCte\nSELECT doc_id, $bands FROM sig ORDER BY doc_id"
  }

  /** (doc_id, band0..band3) wide signature -> exploded (doc_id, band_id,
    * h) rows — the layout the LSH joins and the persisted band index
    * share. */
  private[operators] def bandRows(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(array(
      (0 until numBands).map(b =>
        struct(lit(b).as("band_id"), col(s"band$b").as("h"))): _*)).as("e"))
      .select(col("doc_id"), col("e.band_id"), col("e.h"))

  /** MinHash-LSH near-dup candidate pairs: docs sharing >= 1 band. The
    * banded self-join is the 100 TB path — candidates are generated per
    * band bucket, never all-pairs. Hash-oracled (portable family). */
  def minhashLshPairs(spark: SparkSession, dir: String): DataFrame =
    minhashLshCandidates(spark, dir).orderBy("id_a", "id_b")

  /** Unordered LSH candidate pairs — the keep chain's input (its verify
    * join and CC edge materialization do not need the pair sort). */
  private def minhashLshCandidates(
      spark: SparkSession, dir: String): DataFrame = {
    // unordered band form: the pair join does not need the signature sort
    val exploded = Star.pin(bandRows(
      withMinhashBands(shingleRows(Star.table(spark, dir, "documents")))))
    exploded.as("a")
      .join(exploded.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  private val minhashLshPairsSql = {
    val bands = (0 until numBands)
      .map(b => s"SELECT doc_id, $b AS band_id, ${bandKeySql(b)} AS h FROM sig")
      .mkString(" UNION ALL ")
    s"""$minhashSigCte,
       |bands AS ($bands)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM bands a JOIN bands b
       |  ON a.band_id = b.band_id AND a.h = b.h AND a.doc_id < b.doc_id
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** 60-bit SimHash per doc: per-token portable hash (two independent
    * 30-bit folds packed into one 60-bit value), per-bit majority vote as
    * pure column expressions (60 conditional sums in one aggregate pass).
    * 60 bits (not 64) so the packed value and every bit mask stay inside
    * exact nonnegative int64 in both engines — which is what makes the
    * sketch hash-oracled rather than rows-only. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashSigs(spark, dir).orderBy("doc_id")

  /** (doc_id, simhash) without the presentation sort — the reusable form
    * the pair queries join on (identical subtrees keyed on simhash, so
    * ReuseExchange materializes the signature aggregate once). */
  private def simhashSigs(spark: SparkSession, dir: String): DataFrame = {
    val d = Star.table(spark, dir, "documents")
    val tok = d.select(col("doc_id"),
      explode(split(trim(col("text")), "\\s+")).as("t"))
      .select(col("doc_id"),
        (portableHash(col("t"), 131L, HashP1) +
          portableHash(col("t"), 137L, HashP2) * lit(1L << 30)).as("h"))
    val votes: Seq[Column] = (0 until 60).map(i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0, 1).otherwise(-1))
        .as(s"v$i"))
    val agg = tok.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val bits = (0 until 60).map(i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(0L))
    agg.select(col("doc_id"),
      bits.reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** Shared oracle CTE for the simhash queries: tokens (multiset — votes
    * are term-frequency-weighted) -> packed 60-bit hash -> majority bits. */
  private def simhashSigCte: String = {
    val votes = (0 until 60)
      .map(i => s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i")
      .mkString(", ")
    val bits = (0 until 60)
      .map(i => s"CASE WHEN v$i > 0 THEN (1::BIGINT << $i) ELSE 0 END")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
       |  FROM documents),
       |hh AS (SELECT doc_id,
       |  ${portableHashSql("t", 131L, HashP1)}
       |    + ${portableHashSql("t", 137L, HashP2)} * (1::BIGINT << 30) AS h
       |  FROM tok),
       |v AS (SELECT doc_id, $votes FROM hh GROUP BY doc_id),
       |sig AS (SELECT doc_id, $bits AS simhash FROM v)""".stripMargin
  }

  private val simhashSql =
    s"$simhashSigCte\nSELECT doc_id, simhash FROM sig ORDER BY doc_id"

  /** Near-dup pairs via winnowing sketches (the custom Catalyst expression
    * graft.functions.WinnowFingerprint): inverted-index join on sketch
    * hashes, containment = shared / min(|a|, |b|). The sketch is ~1/w the
    * size of the shingle set, so the candidate join shuffles proportionally
    * less than the exact-Jaccard path at the same recall point.
    *
    * CACHING CONTRACT: the exploded-sketch relation is persisted
    * (MEMORY_AND_DISK) so the self-join's two sides share one
    * fingerprint evaluation, and the blocks are NOT released here — the
    * returned frame is lazy, so an eager unpersist would re-trigger the
    * double evaluation it exists to avoid. Callers own cleanup after
    * executing the result: `spark.catalog.clearCache()` +
    * `sparkContext.getPersistentRDDs.values.foreach(_.unpersist(...))`
    * (what the Bench/Verify harnesses run between queries). */
  def winnowPairs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.WinnowFunctions
    import org.apache.spark.sql.expressions.Window
    // doc_id-keyed fan (the shingleRows doctrine): the per-doc
    // denominator window below then runs exchange-free on the fanned
    // partitioning instead of paying its own full-row exchange.
    val all = Star.table(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        explode(WinnowFunctions.winnowFingerprint(col("text"), 12, 4))
          .as("h"))
    // Document-frequency cap: a sketch hash present in >1% of the corpus
    // (stopword grams) carries no near-dup signal but quadratically
    // explodes the candidate join — drop such hashes before pairing.
    // r16 reshape (guide §2.3 "aggregate before you shuffle", §2.4):
    // the cap is a HEAVY-HASH list (map-side partial groupBy — shuffles
    // one (h, count) row per distinct hash) broadcast-anti-joined onto
    // the exploded rows, the ngramJaccardCapped shape, replacing a
    // WINDOW count by h that shuffled and sorted every exploded row.
    // The per-doc kept-hash count (the containment denominator, over
    // the SAME filtered hash space on both sides) stays a window on the
    // doc_id-fanned lineage — zero extra exchange. Measured at sf0.1
    // (narrowed best-of-3, same window, with winnow_capped):
    // 3.83 → 2.29 s over the pair; plan: 4 full-row exchanges +
    // 4 window-by-h sorts → 2 full-row exchanges, fingerprint evaluated
    // 3× (2 self-join sides + the tiny heavy branch, whose broadcast is
    // reused across sides) instead of 4×.
    val total = Star.table(spark, dir, "documents")
      .agg(count(lit(1)).as("n_docs"))
    val heavy = all.groupBy("h").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(total))
      .filter(col("df") >
        greatest(lit(16L), (col("n_docs") / 100).cast("long")))
      .select("h")
    val f = all.join(broadcast(heavy), Seq("h"), "left_anti")
      .withColumn("c", count(lit(1)).over(Window.partitionBy("doc_id")))
    similarityPairs(f, "h", "containment",
      (ca, cb, _) => least(ca, cb), 0.6, hasCountCol = true)
      .drop("shared")
  }

  /** Oracle for [[winnowPairs]]: the fingerprint is recomputed from first
    * principles — per-position k-gram polynomial folds (the SAME portable
    * family as the MinHash/SimHash oracles; the engine's rolling update is
    * an optimization of the identical polynomial), window minima over w=4
    * consecutive grams (ROWS window; truncation at the partition tail
    * matches the engine's single-partial-window case when nGrams < w),
    * distinct minima per doc, then the DF cap + containment chain. */
  private val winnowPairsSql = {
    val gh = portableHashSql("substr(text, i, 12)", 131L, HashP1)
    val cont = Star.Sql.ratio6("shared", "least(ca.c, cb.c)")
    s"""WITH gr AS (
       |  SELECT doc_id, text,
       |    unnest(range(1, greatest(length(text) - 11, 0) + 1)) AS i,
       |    greatest(length(text) - 11, 0) AS ng
       |  FROM documents),
       |hh AS (SELECT doc_id, i, ng, $gh AS h0 FROM gr),
       |wm AS (
       |  SELECT doc_id, i, ng,
       |    MIN(h0) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS h
       |  FROM hh),
       |sel AS (SELECT DISTINCT doc_id, h FROM wm
       |  WHERE i <= greatest(ng - 4, 0) + 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |f AS (
       |  SELECT doc_id, h FROM (
       |    SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS df, n_docs
       |    FROM sel CROSS JOIN n) t
       |  WHERE df <= greatest(16, n_docs // 100)),
       |cnt AS (SELECT doc_id, COUNT(*) AS c FROM f GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
       |  FROM f a JOIN f b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, $cont AS containment
       |FROM pairs JOIN cnt ca ON ca.doc_id = id_a
       |JOIN cnt cb ON cb.doc_id = id_b
       |WHERE $cont >= 0.6
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** [[winnowPairs]] with an ABSOLUTE fingerprint-bucket DF cap (16):
    * the scale-bounded production form, with the uncapped query as its
    * recall gate — the same split the Jaccard family uses
    * (q_dedup_jaccard_capped / q_dedup_ngram_jaccard).
    *
    * Two structural changes versus the uncapped path, both aimed at the
    * 100 TB bound:
    *  - the cap is absolute, not max(16, n_docs/100): a RELATIVE cap lets
    *    the admissible bucket size — and with it the per-bucket candidate
    *    quadratic df^2/2 — grow with the corpus, so the pair shuffle's
    *    constant keeps climbing at scale. An absolute cap bounds every
    *    bucket's contribution at 16^2/2 pairs regardless of corpus size;
    *    candidates are then ∝ distinct fingerprints with a fixed, small
    *    constant.
    *  - the containment denominators come from a kept-hash GROUP-BY
    *    (map-side partial combine; shuffles one (doc_id, count) row per
    *    doc) joined onto the — post-threshold, tiny — pair set, instead
    *    of riding a second full-row window shuffle by doc_id. The
    *    uncapped path's window-by-doc shape shuffles every exploded
    *    sketch row a second time; at 10x corpus that second full-data
    *    exchange is pure constant-factor tax. */
  def winnowPairsCapped(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.WinnowFunctions
    import org.apache.spark.sql.expressions.Window
    // same r16 reshape as [[winnowPairs]] (heavy-hash aggregate +
    // broadcast anti-join + exchange-free doc window on the
    // doc_id-keyed fan), absolute df > 16 cap. The fingerprint is
    // inlined into explode(): projecting it to a column first triggered
    // InferFiltersFromGenerate, whose size(..)>0 ∧ isnotnull(..) filter
    // was predicate-pushed below the fan exchange and re-evaluated the
    // winnowing rolling-hash transform twice more per branch on the
    // scan side (visible in the r16 before-plan: Filter(2) carries two
    // winnow_fingerprint(text) calls under the exchange — 12
    // evaluations per query across the 4 branches).
    val all = Star.table(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        explode(WinnowFunctions.winnowFingerprint(col("text"), 12, 4))
          .as("h"))
    val heavy = all.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > lit(16L))
      .select("h")
    // Broadcast GUARD (r17, closing the r16 advice item): unlike
    // winnowPairs' 1%-of-corpus cap (whose heavy set is bounded by
    // ~100 × avg doc length regardless of corpus size), the absolute
    // df > 16 cap admits a heavy set that grows linearly with the
    // corpus — an unguarded forced broadcast is an executor/driver OOM
    // cliff at scale. Dispatch on the corpus row count (parquet
    // metadata-speed count): under the gate the anti-join stays the
    // measured map-side broadcast filter; above it the planner shuffles
    // the (h)-keyed anti-join like any other join. Results identical on
    // either path (left_anti semantics; spec-pinned).
    val docCount = Star.table(spark, dir, "documents").count()
    val anti =
      if (docCount <= Dispatch.WinnowBroadcastDocGate(spark))
        all.join(broadcast(heavy), Seq("h"), "left_anti")
      else all.join(heavy, Seq("h"), "left_anti")
    val f = anti
      .withColumn("c", count(lit(1)).over(Window.partitionBy("doc_id")))
    similarityPairs(f, "h", "containment",
      (ca, cb, _) => least(ca, cb), 0.6, hasCountCol = true)
      .drop("shared")
  }

  /** Oracle for [[winnowPairsCapped]]: identical fingerprint
    * reconstruction to [[winnowPairsSql]], absolute df <= 16 cap,
    * denominators counted over the capped hash space. */
  private val winnowPairsCappedSql = {
    val gh = portableHashSql("substr(text, i, 12)", 131L, HashP1)
    val cont = Star.Sql.ratio6("shared", "least(ca.c, cb.c)")
    s"""WITH gr AS (
       |  SELECT doc_id, text,
       |    unnest(range(1, greatest(length(text) - 11, 0) + 1)) AS i,
       |    greatest(length(text) - 11, 0) AS ng
       |  FROM documents),
       |hh AS (SELECT doc_id, i, ng, $gh AS h0 FROM gr),
       |wm AS (
       |  SELECT doc_id, i, ng,
       |    MIN(h0) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS h
       |  FROM hh),
       |sel AS (SELECT DISTINCT doc_id, h FROM wm
       |  WHERE i <= greatest(ng - 4, 0) + 1),
       |f AS (
       |  SELECT doc_id, h FROM (
       |    SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS df
       |    FROM sel) t
       |  WHERE df <= 16),
       |cnt AS (SELECT doc_id, COUNT(*) AS c FROM f GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
       |  FROM f a JOIN f b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, $cont AS containment
       |FROM pairs JOIN cnt ca ON ca.doc_id = id_a
       |JOIN cnt cb ON cb.doc_id = id_b
       |WHERE $cont >= 0.6
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** The 4×15-bit band explosion of a signature relation (any column set
    * containing `simhash`): by pigeonhole, a pair within hamming distance
    * 3 of a 60-bit signature shares at least one of the 4 bands. */
  private[graft] def simhashBands(sigRel: DataFrame): DataFrame = {
    val keep = sigRel.columns.map(col).toSeq
    sigRel.select(keep :+
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band_id"),
          shiftright(col("simhash"), 15 * b).bitwiseAND(lit(0x7FFFL))
            .as("bv"))): _*)).as("e"): _*)
      .select(keep :+ col("e.band_id") :+ col("e.bv"): _*)
  }

  /** SimHash near-dup pairs by banded hamming join: the 60-bit simhash
    * splits into 4×15-bit bands; by pigeonhole, any pair within hamming
    * distance 3 shares at least one band, so the band-bucket self-join is
    * a COMPLETE candidate generator for d<=3 — never all-pairs. Distance
    * itself is the codegen'd bit_count(xor). Hash-oracled (portable
    * family); completeness additionally spec-tested via exact-dup groups
    * (distance-0 pairs must all appear).
    *
    * The join runs at the DISTINCT-SIGNATURE level, not the doc level,
    * with the hamming predicate INSIDE the join; doc pairs are recovered
    * by output-sized equi-joins afterwards. Rationale (measured on the
    * 10× ratio corpus): frequency-weighted majority votes converge on
    * homogeneous text, so whole 15-bit bands go corpus-constant — the
    * doc-level band self-join then shuffles ~2·C(n,2) candidate rows
    * through distinct (2.5e9 at 50 k docs, 226 s) while the true d<=3
    * output is ~30 M rows. Collapsing to distinct signatures first (a)
    * shrinks the quadratic base from docs to distinct sigs, (b) dedups
    * hamming-0 groups into single band rows, and (c) keeps the candidate
    * explosion inside the join operator (codegen'd bit_count filter, no
    * candidate shuffle): same output, 3 s candidate pass at 10×. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // The signature relation feeds five branches (distinct-sig bands ×2,
    // cross expansion ×2, intra self-join ×2 sides) and the expansion
    // joins broadcast their tiny pair side — so without pinning, Catalyst
    // re-runs the whole token aggregate per branch. Materialize it once
    // as a persisted-RDD leaf (same doctrine as the serve-path candidate
    // sets / k-means vector relation): one corpus scan + one aggregate,
    // and the leaf is 16 bytes/doc — ~1e-4 of corpus bytes at any scale.
    val plan = simhashSigs(spark, dir)
    // localCheckpoint, NOT .rdd.persist (r16): InternalRows, no Row
    // converter round-trip, plan stats kept (the bandProbeDropIds lesson)
    val sh = Star.pin(plan)
    expandSigPairs(sh, simhashSigPairs(sh))
  }

  /** [[simhashPairs]] with an ABSOLUTE band-bucket cap (64 distinct
    * signatures): the scale-bounded production form, with the uncapped
    * query as its recall gate — the same split the Jaccard and winnowing
    * families use. A 15-bit band that goes corpus-constant (homogeneous
    * text makes frequency-weighted majority votes converge — measured on
    * the 10× ratio corpus, where two of the four bands held ONE bucket of
    * all 50 k docs) carries no discriminative information; dropping its
    * oversized buckets bounds every bucket's candidate contribution at
    * 64²/2 while exact-duplicate (hamming-0) pairs are still found
    * completely via the signature-equality self-join, which never touches
    * bands. A cross-sig pair is lost only when EVERY band it shares is
    * hot — exactly the information-free case. The cap is absolute, not
    * relative, for the winnowPairsCapped reason: a relative cap lets the
    * per-bucket quadratic grow with the corpus. */
  def simhashPairsCapped(spark: SparkSession, dir: String): DataFrame = {
    val plan = simhashSigs(spark, dir)
    // localCheckpoint — see simhashPairs
    val sh = Star.pin(plan)
    expandSigPairs(sh, simhashSigPairs(sh, bucketCap = Some(64L)))
  }

  /** Distinct-signature pairs within hamming 3, banded, hamming predicate
    * evaluated inside the join (candidates never leave the join operator).
    * `bucketCap`: drop (band_id, bv) buckets holding more than this many
    * distinct signatures before the self-join (None = complete). */
  private[graft] def simhashSigPairs(
      sh: DataFrame, bucketCap: Option[Long] = None): DataFrame = {
    // Explicit hash-partitioning on the band key + a merge hint: the sig
    // relation is tiny BY BYTES (distinct 8-byte sigs), so AQE would
    // broadcast it and coalesce the probe side to ~1 partition — which
    // serializes the hot-bucket quadratic (measured 131 s vs 6.5 s at the
    // 10× ratio corpus). Candidate cost here is per-bucket-count², not
    // bytes; byte-based planner heuristics mis-size it, so pin the shape.
    val parts = sh.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val allBands = simhashBands(sh.select("simhash").distinct())
    val kept = bucketCap.fold(allBands) { cap =>
      import org.apache.spark.sql.expressions.Window
      allBands
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy("band_id", "bv")))
        .filter(col("n") <= lit(cap))
        .drop("n")
    }
    val bands = kept
      .repartition(parts, col("band_id"), col("bv"))
      .hint("SHUFFLE_MERGE")
    bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.bv") === col("b.bv") &&
          col("a.simhash") < col("b.simhash") &&
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= 3)
      .select(col("a.simhash").as("s_a"), col("b.simhash").as("s_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .distinct()
  }

  /** Signature pairs → doc pairs: cross-signature expansion plus the
    * intra-signature (hamming-0) self-join, both equi-joins on simhash —
    * shuffle and output are both proportional to the TRUE pair count. */
  private def expandSigPairs(sh: DataFrame, sigPairs: DataFrame): DataFrame = {
    val cross = sigPairs
      .join(sh.as("x"), col("x.simhash") === col("s_a"))
      .join(sh.as("y"), col("y.simhash") === col("s_b"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("id_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("id_b"),
        col("hamming"))
    val intra = sh.as("a")
      .join(sh.as("b"),
        col("a.simhash") === col("b.simhash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        lit(0L).as("hamming"))
    intra.unionByName(cross).orderBy("id_a", "id_b")
  }

  private val simhashPairsSql =
    s"""$simhashSigCte,
       |bands AS (
       |  SELECT doc_id, simhash, b.range AS band_id,
       |    (simhash >> (15 * b.range)) & 32767 AS bv
       |  FROM sig CROSS JOIN range(4) b)
       |SELECT * FROM (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |WHERE hamming <= 3
       |ORDER BY id_a, id_b""".stripMargin

  /** Oracle for [[simhashPairsCapped]]: distinct-signature bands, bucket
    * size capped at 64 via a window count, plus the complete
    * signature-equality (hamming-0) self-join. */
  private val simhashPairsCappedSql =
    s"""$simhashSigCte,
       |ds AS (SELECT DISTINCT simhash FROM sig),
       |bands AS (
       |  SELECT simhash, b.range AS band_id,
       |    (simhash >> (15 * b.range)) & 32767 AS bv
       |  FROM ds CROSS JOIN range(4) b),
       |fb AS (SELECT simhash, band_id, bv FROM (
       |  SELECT simhash, band_id, bv,
       |    COUNT(*) OVER (PARTITION BY band_id, bv) AS n
       |  FROM bands) t WHERE n <= 64),
       |sp AS (
       |  SELECT DISTINCT a.simhash AS s_a, b.simhash AS s_b,
       |    bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
       |  FROM fb a JOIN fb b
       |    ON a.band_id = b.band_id AND a.bv = b.bv AND a.simhash < b.simhash
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |cross_pairs AS (
       |  SELECT least(x.doc_id, y.doc_id) AS id_a,
       |    greatest(x.doc_id, y.doc_id) AS id_b, hamming
       |  FROM sp JOIN sig x ON x.simhash = sp.s_a
       |  JOIN sig y ON y.simhash = sp.s_b),
       |intra AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, 0::BIGINT AS hamming
       |  FROM sig a JOIN sig b
       |    ON a.simhash = b.simhash AND a.doc_id < b.doc_id)
       |SELECT * FROM intra UNION ALL SELECT * FROM cross_pairs
       |ORDER BY id_a, id_b""".stripMargin

  /** Driver union-find over a bounded edge array: every endpoint labeled
    * with the min id reachable from it — the same (doc_id, cluster_id)
    * relation the iterative forms converge to. Path-halving find keeps
    * the scan linear-ish; the result enters the plan as a LocalRelation,
    * which downstream anti-joins broadcast without an exchange. */
  private def smallComponents(
      spark: SparkSession, edges: Array[(Long, Long)]): DataFrame = {
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp) // path halving
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      // ensure both endpoints exist as nodes even when already same root
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val minOf = new java.util.HashMap[Long, Long]()
    val nodes = new Array[Long](parent.size())
    val it = parent.keySet().iterator()
    var i = 0
    while (it.hasNext) { nodes(i) = it.next(); i += 1 }
    nodes.foreach { n =>
      val r = find(n)
      val cur = minOf.getOrDefault(r, Long.MaxValue)
      if (n < cur) minOf.put(r, n)
    }
    val rows: java.util.List[org.apache.spark.sql.Row] =
      new java.util.ArrayList(nodes.length)
    nodes.foreach { n =>
      rows.add(org.apache.spark.sql.Row(n, minOf.get(find(n))))
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("cluster_id", LongType, nullable = false))))
  }

  /** Small-graph components gate (r16): near-dup edge sets are
    * O(duplicate pairs), and at harness scale a few hundred rows — yet
    * every CC consumer paid several rounds of join+groupBy+materialize
    * jobs (~0.1 s of pure scheduling each) to label them. The edge
    * lineage is materialized ONCE (the job the distributed rounds need
    * anyway), its row count read off the persisted blocks, and under
    * [[Dispatch.CollectThreshold]] (default 2^16 edges ≈ 1 MB of longs)
    * the components are resolved by the driver union-find over the
    * collected pairs — one job in all. The min-id-per-component labels
    * are exactly the distributed fixpoint, so both branches give the
    * same rows (ConnectedComponentsPropertySpec runs both). At 100 TB
    * dup rates the dispatch always takes the distributed branch.
    * Returns Left(result) when the graph was resolved on the driver,
    * Right(materialized frame, its release, sum(u + v)) — persisted,
    * counted and summed in the one pass — for the distributed rounds to
    * consume without re-evaluating the lineage. */
  private def componentsDispatch(edges: DataFrame)
      : Either[DataFrame, (DataFrame, () => Unit, Long)] = {
    val spark = edges.sparkSession
    // MEMORY_AND_DISK (r17 spill-safety sweep, guide §5): an un-gated
    // MEMORY_ONLY Row pin is an OOM seam at 100 TB edge counts
    val rdd = edges.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materializes the (expensive) edge lineage once: row count for the
    // gate, sum(u + v) for the first round's convergence test
    val (n, metric) = sumEdges(rdd)
    if (n <= Dispatch.CollectThreshold(spark)) {
      val arr = rdd.map(r => (r.getLong(0), r.getLong(1))).collect()
      rdd.unpersist(blocking = false)
      Left(smallComponents(spark, arr))
    } else Right((
      spark.createDataFrame(rdd, edges.schema),
      () => { rdd.unpersist(blocking = false); () }, metric))
  }

  /** (row count, sum(u + v)) of an edge RDD, in one job. */
  private def sumEdges(
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]): (Long, Long) =
    rdd.mapPartitions { it =>
      var (n, acc) = (0L, 0L)
      while (it.hasNext) {
        val r = it.next(); n += 1; acc += r.getLong(0) + r.getLong(1)
      }
      Iterator((n, acc))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))

  /** Connected components over an undirected edge list (id_a, id_b) →
    * (doc_id, cluster_id = min doc_id reachable), by alternating
    * large-star / small-star rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). It converges in
    * O(log n) rounds on ANY graph, so an adversarial chain of
    * almost-identical documents does not cost the diameter + 1 rounds
    * of a min-label propagation. Both phases are (per-center min)
    * joins, never collected adjacency lists, so a high-degree node
    * costs a groupBy + join, not a buffered row. Self-loops carry no
    * connectivity and are dropped.
    *
    * Each phase rewires edges (u,v) to (v, m) with m <= the endpoint it
    * replaces, so sum(u+v) over the edge multiset strictly decreases on
    * any change: the round's materialization job is also its
    * convergence test (no extra compare join). Each round is pinned, so
    * the plan does not grow with the round count. Small graphs resolve
    * on the driver ([[componentsDispatch]]). */
  def connectedComponents(edges0: DataFrame): DataFrame = {
    def canon(df: DataFrame): DataFrame =
      df.filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()
    // materialize an edge frame; metric = sum(u + v), strictly decreasing
    def mat(df: DataFrame): (DataFrame, () => Unit, Long) = {
      // MEMORY_AND_DISK — see componentsDispatch
      val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (df.sparkSession.createDataFrame(rdd, df.schema),
        () => { rdd.unpersist(blocking = false); () }, sumEdges(rdd)._2)
    }
    // large-star: around each center u, every BIG neighbor (v > u) rewires
    // to m = min(neighborhood ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val dir = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val m = dir.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      canon(dir.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }
    // small-star: around each center u, every SMALL neighbor (v < u) and u
    // itself rewire to m = min(small neighborhood ∪ {u})
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("u").agg(min(col("v")).as("m"))
      val moved = e.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
      val center = m.select(col("u"), col("m").as("v"))
      canon(moved.union(center))
    }
    componentsDispatch(canon(
      edges0.select(col("id_a").as("u"), col("id_b").as("v")))) match {
      case Left(result) => result
      case Right(canonEdges) =>
        var (cur, free, metric) = canonEdges
        var converged = false
        while (!converged) {
          val (next, freeNext, nextMetric) = mat(smallStar(largeStar(cur)))
          converged = nextMetric == metric
          free(); cur = next; free = freeNext; metric = nextMetric
        }
        // fixed point is a star forest rooted at each component's min id
        cur.select(col("u").as("doc_id"), col("v").as("cluster_id"))
          .union(cur.select(col("v"), col("v")))
          .distinct()
    }
  }

  /** Dedup cluster resolution: near-dup PAIRS are only half a dedup
    * pipeline — keep-one-per-group needs transitive closure (a~b, b~c ⇒
    * {a,b,c} one cluster). Components over the exact-Jaccard edge set,
    * which keeps the whole chain (shingle → pair → cluster)
    * oracle-checkable in SQL (DuckDB recursive CTE).
    *
    * This is the ORACLE GATE for the cluster family — the uncapped
    * shingle self-join is quadratic in hot-shingle document frequency,
    * so production consumers (dedupKeep, dedupClusterStats,
    * curationKeep) source [[dedupClustersCapped]] instead and this
    * exact chain exists to cross-check them at test scale. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(
      ngramJaccardPairs(spark, dir, ordered = false).select("id_a", "id_b"))
      .orderBy("doc_id")

  /** Production cluster resolution: components over the DF-CAPPED
    * exact-Jaccard edges ([[ngramJaccardCapped]]) — boilerplate shingles
    * (DF > max(n_docs/100, 5)) are dropped before pairing, killing the
    * d²/2 hot-shingle candidate blowup that makes the uncapped chain a
    * scale hazard. Everything a 100 TB run consumes downstream
    * (dedupKeep, dedupClusterStats, curationKeep) sits on this chain. */
  def dedupClustersCapped(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(ngramJaccardCappedPairs(spark, dir, ordered = false)
      .select("id_a", "id_b"))
      .orderBy("doc_id")

  private val dedupClustersSql =
    """WITH RECURSIVE words AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(greatest(len(w) - 2, 1)),
      |    i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])))) AS s
      |  FROM words),
      |cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |edges AS (
      |  SELECT id_a, id_b FROM pairs
      |  JOIN cnt ca ON ca.doc_id = id_a
      |  JOIN cnt cb ON cb.doc_id = id_b
      |  WHERE (CAST((CAST(shared AS BIGINT) * 1000000)
      |    // CAST(ca.c + cb.c - shared AS BIGINT) AS DOUBLE) / 1000000.0) >= 0.5),
      |und AS (
      |  SELECT id_a AS s, id_b AS d FROM edges
      |  UNION ALL SELECT id_b, id_a FROM edges),
      |reach(id, r) AS (
      |  SELECT s, s FROM (SELECT DISTINCT s FROM und)
      |  UNION
      |  SELECT u.d, reach.r FROM reach JOIN und u ON u.s = reach.id)
      |SELECT id AS doc_id, MIN(r) AS cluster_id
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** Oracle for [[dedupClustersCapped]]: the capped pair CTEs
    * (n/heavy/kept, exactly the q_dedup_ngram_capped formulation)
    * feeding the same recursive-CTE components. */
  private val dedupClustersCappedSql =
    """WITH RECURSIVE words AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(greatest(len(w) - 2, 1)),
      |    i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])))) AS s
      |  FROM words),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |heavy AS (
      |  SELECT s FROM sh CROSS JOIN n GROUP BY s, n.n_docs
      |  HAVING COUNT(*) > greatest(n.n_docs // 100, 5)),
      |kept AS (
      |  SELECT sh.doc_id, sh.s FROM sh
      |  WHERE sh.s NOT IN (SELECT s FROM heavy)),
      |cnt AS (SELECT doc_id, COUNT(*) AS c FROM kept GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      |  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |edges AS (
      |  SELECT id_a, id_b FROM pairs
      |  JOIN cnt ca ON ca.doc_id = id_a
      |  JOIN cnt cb ON cb.doc_id = id_b
      |  WHERE (CAST((CAST(shared AS BIGINT) * 1000000)
      |    // CAST(ca.c + cb.c - shared AS BIGINT) AS DOUBLE) / 1000000.0) >= 0.5),
      |und AS (
      |  SELECT id_a AS s, id_b AS d FROM edges
      |  UNION ALL SELECT id_b, id_a FROM edges),
      |reach(id, r) AS (
      |  SELECT s, s FROM (SELECT DISTINCT s FROM und)
      |  UNION
      |  SELECT u.d, reach.r FROM reach JOIN und u ON u.s = reach.id)
      |SELECT id AS doc_id, MIN(r) AS cluster_id
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** A cluster SQL with its final SELECT swapped — shared recursive-CTE
    * prefix, different consumer. */
  private def reachPrefix(sql: String, finalSelect: String): String = {
    val marker = "SELECT id AS doc_id"
    val prefix = sql.substring(0, sql.indexOf(marker))
    require(prefix.nonEmpty, "reach CTE prefix not found")
    prefix + finalSelect
  }

  /** [[dedupClustersCappedSql]]'s CTE prefix + a different consumer —
    * the production keep/stats oracles sit on the capped chain. */
  private def withCappedReachCtes(finalSelect: String): String =
    reachPrefix(dedupClustersCappedSql, finalSelect)

  /** End of the dedup pipeline: keep one canonical document per near-dup
    * cluster (the min-id member) plus every unclustered doc — an anti-join
    * of the corpus against non-canonical cluster members. This is the
    * operation a 100 TB curation run actually ships, so it sits on the
    * DF-CAPPED cluster chain ([[dedupClustersCapped]]) — the uncapped
    * shingle self-join stays behind as the oracle gate. No broadcast
    * hint on the drop set: it is O(duplicates) — at a high dup rate it
    * is corpus-sized and a forced broadcast would OOM the driver. AQE
    * picks broadcast itself whenever the set is small. */
  def dedupKeep(spark: SparkSession, dir: String): DataFrame = {
    val drop = dedupClustersCapped(spark, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    Star.table(spark, dir, "documents")
      .join(drop, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  private val dedupKeepSql = withCappedReachCtes(
    """SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE doc_id NOT IN (
      |  SELECT id FROM (
      |    SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id) comp
      |  WHERE id <> cluster_id)
      |ORDER BY doc_id""".stripMargin)

  /** Cluster diagnostics: size, language purity, and length spread per
    * near-dup cluster — the report a curation run reviews before deciding
    * keep-thresholds. Sits on the capped production chain like dedupKeep;
    * the cluster-label side is O(clustered docs), so the join is left to
    * the planner (AQE broadcasts it when small) rather than hinted. */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame =
    Star.table(spark, dir, "documents")
      .join(dedupClustersCapped(spark, dir), Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("cluster_id")

  private val dedupClusterStatsSql = withCappedReachCtes(
    """SELECT cluster_id, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT lang) AS n_langs,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM documents
      |JOIN (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id) comp
      |  ON doc_id = comp.id
      |GROUP BY cluster_id ORDER BY cluster_id""".stripMargin)

  /** Shingle CONTAINMENT pairs: shared / min(|A|, |B|) — catches a short
    * doc wholly embedded in a longer one, which Jaccard misses (the union
    * denominator dilutes asymmetric overlap). Same inverted-index pair
    * join as [[ngramJaccard]] (one implementation, different denominator),
    * so the scale path is identical: candidates come from shingle-key
    * equality, never an all-pairs product. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(Star.table(spark, dir, "documents"))
      .select(col("doc_id"), col("c"), xxhash64(col("s")).as("s"))
    similarityPairs(sh, "s",
      "containment", (ca, cb, _) => least(ca, cb), 0.6,
      hasCountCol = true)
  }

  private val containmentPairsSql =
    """WITH words AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(greatest(len(w) - 2, 1)),
      |    i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])))) AS s
      |  FROM words),
      |cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, shared,
      |  (CAST((CAST(shared AS BIGINT) * 1000000)
      |    // CAST(least(ca.c, cb.c) AS BIGINT) AS DOUBLE) / 1000000.0)
      |    AS containment
      |FROM pairs
      |JOIN cnt ca ON ca.doc_id = id_a
      |JOIN cnt cb ON cb.doc_id = id_b
      |WHERE (CAST((CAST(shared AS BIGINT) * 1000000)
      |    // CAST(least(ca.c, cb.c) AS BIGINT) AS DOUBLE) / 1000000.0) >= 0.6
      |ORDER BY id_a, id_b""".stripMargin

  /** The 100 TB dedup chain end-to-end: MinHash-LSH band join generates
    * CANDIDATE pairs (never all-pairs, never full inverted-index);
    * exact Jaccard is verified on candidates only (the shingle join is
    * keyed by candidate doc ids, so its cost scales with candidates, not
    * corpus^2); verified edges cluster via the O(log n)-round
    * large-star/small-star components; the corpus anti-joins the
    * non-canonical members. This is the pipeline that actually ships at
    * scale — the exact-Jaccard chain (q_dedup_keep) is its correctness
    * reference: keep(LSH) ⊇ keep(exact) always (LSH can only miss
    * edges), spec-asserted, with equality whenever band recall is total.
    * Hash-oracled end-to-end since the sketch family went portable: the
    * DuckDB oracle computes the identical band candidates, verifies the
    * same candidate-restricted exact Jaccard, and resolves components
    * with the recursive CTE the exact chain already uses. */
  def dedupLshKeep(spark: SparkSession, dir: String): DataFrame = {
    val cand = minhashLshCandidates(spark, dir)
    val sh = shingles(Star.table(spark, dir, "documents"))
      .select(col("doc_id"), col("c"), xxhash64(col("s")).as("s"))
    val verified = cand
      .join(sh.select(col("doc_id").as("id_a"), col("s"),
        col("c").as("ca")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("s"),
        col("c").as("cb")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"), max("ca").as("ca"), max("cb").as("cb"))
      .filter(Star.ratio6(col("shared"),
        col("ca") + col("cb") - col("shared")) >= 0.5)
      .select("id_a", "id_b")
    val drop = connectedComponents(verified)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    // no broadcast hint: the drop set is O(duplicates) — at a high dup
    // rate it is corpus-sized and a forced broadcast would OOM the
    // driver. AQE picks broadcast itself whenever the set is small.
    Star.table(spark, dir, "documents")
      .join(drop, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Oracle for [[dedupLshKeep]]: the portable-band candidate pairs,
    * candidate-restricted exact-Jaccard verify, recursive-CTE
    * components, and the keep anti-join — the whole scale chain in one
    * checkable statement. */
  private val dedupLshKeepSql = {
    val mins = (0 until numHashes)
      .map(j => s"MIN((H * ${mhA(j)} + ${mhB(j)}) % $HashP1) AS mh$j")
      .mkString(", ")
    val bandSelects = (0 until numBands)
      .map(b => s"SELECT doc_id, $b AS band_id, ${bandKeySql(b)} AS h FROM sig")
      .mkString(" UNION ALL ")
    s"""WITH RECURSIVE words AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(greatest(len(w) - 2, 1)),
       |    i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])))) AS s
       |  FROM words),
       |hh AS (SELECT doc_id, ${portableHashSql("s", 131L, HashP1)} AS H
       |  FROM sh),
       |sig AS (SELECT doc_id, $mins FROM hh GROUP BY doc_id),
       |bands AS ($bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.h = b.h AND a.doc_id < b.doc_id),
       |cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT c.id_a, c.id_b, COUNT(*) AS shared
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.id_a
       |  JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT id_a, id_b FROM pairs
       |  JOIN cnt ca ON ca.doc_id = id_a
       |  JOIN cnt cb ON cb.doc_id = id_b
       |  WHERE (CAST((CAST(shared AS BIGINT) * 1000000)
       |    // CAST(ca.c + cb.c - shared AS BIGINT) AS DOUBLE) / 1000000.0)
       |    >= 0.5),
       |und AS (
       |  SELECT id_a AS s, id_b AS d FROM edges
       |  UNION ALL SELECT id_b, id_a FROM edges),
       |reach(id, r) AS (
       |  SELECT s, s FROM (SELECT DISTINCT s FROM und)
       |  UNION
       |  SELECT u.d, reach.r FROM reach JOIN und u ON u.s = reach.id)
       |SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE doc_id NOT IN (
       |  SELECT id FROM (
       |    SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id) comp
       |  WHERE id <> cluster_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** INCREMENTAL dedup against a PERSISTED MinHash band index — the
    * capability a 100 TB training pipeline actually runs day to day.
    * Batch-global dedup (corpus -> pairs -> components -> keep) is the
    * bootstrap; after it, new shards arrive and must be deduped against
    * everything already accepted WITHOUT re-sketching the corpus.
    *
    * Shape: the base corpus's exploded band rows (doc_id, band_id, h)
    * are persisted ONCE as a bucketed table keyed exactly like the probe
    * join ([[IndexStore]]; build cost amortizes across every arriving
    * shard — and across bench runs, mirroring production). The arriving
    * shard — modeled as doc_id % 10 = 0 — is sketched fresh (it is the
    * only text that gets shingled), its bands probe the index (plus the
    * shard's own bands, so intra-shard dups are caught), candidates are
    * verified by exact Jaccard computed over ONLY the candidate docs'
    * shingles (semi-join pruned — verify cost scales with candidates,
    * not corpus), and each shard doc gets a keep/drop verdict.
    *
    * Verdict semantics (the streaming-arrival rule, exactly mirrored by
    * the oracle): a shard doc is dropped iff some EARLIER document
    * (smaller doc_id, base or shard) is a verified near-dup (band match
    * + Jaccard >= 0.5). First-seen wins; no connected components —
    * components would need base-vs-base edges, which is precisely the
    * recompute incrementality forbids.
    *
    * Scale: index side is a pruned scan of a bucketed table (never
    * re-derived); probe side is shard-sized; candidate verify is
    * O(candidates). At 1000 executors the band join co-locates on the
    * index's bucketing and the shard side alone shuffles. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Star.table(spark, dir, "documents")
    arrivalVerdicts(docs, mhband(spark, dir, docs))
  }

  /** Test seam: the serve path's candidate-generation plan BEFORE its
    * materialization (the final plan shows only the ExistingRDD leaf, so
    * the index-scan / no-re-sketch properties are asserted here). */
  private[graft] def dedupIncrementalCandPlan(
      spark: SparkSession, dir: String): DataFrame = {
    val docs = Star.table(spark, dir, "documents")
    val index = mhband(spark, dir, docs)
    val newBands = bandsOf(docs.filter(isArrival))
    bandCandidatePlan(Seq(index, newBands), newBands)
  }

  /** The arriving shard of the band-index lifecycle. */
  private def isArrival: Column = col("doc_id") % 10 === 0

  /** Exploded (doc_id, band_id, h) MinHash band rows of `docs`. */
  private def bandsOf(docs: DataFrame): DataFrame =
    bandRows(withMinhashBands(shingleRows(docs)))

  /** `mhband`, the persisted MinHash band index: the band rows of every
    * doc but the arriving shard, in 8 buckets on (band_id, h) so the
    * probe join co-locates on its bucketing. Built once per corpus by
    * whichever user runs first: [[dedupIncremental]] and its plan seam,
    * [[streamDedupIndex]], [[dedupIndexAppend]], [[dedupIndexRetract]],
    * and [[dedupIndexCompact]], which also appends arrival segments to
    * its lane. */
  private def mhband(spark: SparkSession, dir: String,
      docs: DataFrame): DataFrame =
    IndexStore.cachedBucketTable(spark, dir, "documents", "mhband", 8,
      Seq("band_id", "h"), Seq("band_id", "h")) {
      bandsOf(docs.filter(!isArrival))
    }

  /** Keep/drop verdict per arriving doc: drop iff it is in `dropIds`. */
  private def verdicts(arrivals: DataFrame, dropIds: DataFrame): DataFrame =
    arrivals.join(dropIds.withColumn("__d", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        when(col("__d").isNotNull, lit("drop")).otherwise(lit("keep"))
          .as("verdict"))

  /** The batch serve: the arriving shard's bands probe `index` (the band
    * index as served) and themselves, so intra-shard dups are caught;
    * verdicts ordered by doc_id. */
  private def arrivalVerdicts(docs: DataFrame, index: DataFrame): DataFrame = {
    val newBands = bandsOf(docs.filter(isArrival))
    verdicts(docs.filter(isArrival),
      bandProbeDropIds(docs, Seq(index, newBands), newBands))
      .orderBy("doc_id")
  }

  /** (A ∪ B) ⋈ probe ≡ (A ⋈ probe) ∪ (B ⋈ probe); the split form lets
    * each earlier relation keep its own physical join strategy. */
  private def bandCandidatePlan(
      earlier: Seq[DataFrame], probe: DataFrame): DataFrame =
    earlier.map { e =>
      e.as("a")
        .join(probe.as("b"),
          col("a.band_id") === col("b.band_id") &&
            col("a.h") === col("b.h") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    }.reduce(_.unionByName(_)).distinct()

  /** Shared serve-side verify: band rows of every EARLIER doc (the
    * `earlier` relations, kept SEPARATE so the persisted bucketed index
    * joins the probe directly — a pre-join union would force the index
    * rows through a shuffle and waste the bucketing) probed by the
    * arriving docs' band rows (`probe`), candidates verified by exact
    * Jaccard computed over ONLY the candidate docs' shingles (semi-join
    * pruned from `docs`). Returns the arriving doc_ids with a verified
    * earlier near-dup — the drop set. Used by both the batch serve path
    * ([[arrivalVerdicts]]) and the streaming arrival path
    * ([[streamDedupIndex]]). */
  private def bandProbeDropIds(
      docs: DataFrame, earlier: Seq[DataFrame], probe: DataFrame): DataFrame = {
    val candPlan = bandCandidatePlan(earlier, probe)
    // materialized ONCE: three downstream branches reference the
    // candidate set (both candIds projections + the verified-pair join)
    // and Catalyst would otherwise re-run the whole band-probe join per
    // branch. localCheckpoint (NOT .rdd.persist) — the RDD round-trip
    // re-encodes every row through the Row converter both ways, which
    // measured 3x slower than re-evaluation on large candidate sets;
    // the checkpoint stores compact InternalRows. O(duplicates).
    val cand = Star.pin(candPlan)
    val candIds = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id"))).distinct()
    // also materialized: the pair join references the candidate-shingle
    // relation TWICE (id_a and id_b sides), which would re-run the
    // semi-join + shingle explode per side. O(candidate docs' shingles).
    val sh = shingles(docs.join(candIds, Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), col("c"), xxhash64(col("s")).as("s"))
      .transform(Star.pin)
    cand
      .join(sh.select(col("doc_id").as("id_a"), col("s"),
        col("c").as("ca")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("s"),
        col("c").as("cb")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"), max("ca").as("ca"), max("cb").as("cb"))
      .filter(Star.ratio6(col("shared"),
        col("ca") + col("cb") - col("shared")) >= 0.5)
      .select(col("id_b").as("doc_id")).distinct()
  }

  /** STREAMING incremental dedup against the persisted band index — the
    * online form of [[dedupIncremental]], and the shape a 100 TB ingest
    * actually runs: documents arrive as micro-batches, each batch is
    * sketched fresh, probed against (a) the persisted base-corpus band
    * index ([[mhband]]), never re-derived, and (b) the accumulated band
    * rows of all earlier arrivals, then verified by candidate-pruned
    * exact Jaccard, and the batch's bands are appended to the arrival
    * state for the next trigger.
    *
    * Replay fixture: the arriving shard (doc_id % 10 = 0) split into 3
    * CONTIGUOUS doc_id ranges written with strictly increasing mtimes,
    * so the file source replays arrivals in doc_id order and the
    * first-seen-wins verdict rule is exactly the batch twin's — shared
    * oracle with q_dedup_incremental. (The ntile window here is
    * build-once test fixture machinery; production arrivals are already
    * file-granular shards.)
    *
    * Scale: per trigger the work is batch-sized — batch bands probe the
    * bucketed index (its own join, exchange-free on the index side) and
    * the arrival-band state, which grows with ALL arrivals so far (kept
    * and dropped alike — a dropped doc is still an EARLIER doc under the
    * batch twin's first-seen-wins rule, so its bands must stay
    * probe-able; index only accepted docs instead iff the dedup policy
    * is transitive-keep). Verify cost is O(candidates). Nothing
    * re-reads or re-sketches the base corpus.
    *
    * State lifecycle: per-trigger writes are IDEMPOTENT (each
    * micro-batch's bands and verdicts land in their own batchId-named
    * subdir with overwrite semantics, so an at-least-once foreachBatch
    * retry REPLACES its partial output instead of double-appending) and
    * the arrival-band state is COMPACTED in-trigger once its segment
    * count exceeds the bound ([[compactSegments]]): a long-running
    * deployment would otherwise grow one small-file segment per trigger
    * forever. */
  def streamDedupIndex(spark: SparkSession, dir: String): DataFrame =
    streamDedupIndexRun(spark, dir)._1

  /** Test seam: also returns the arrival-band state dir so the state
    * spec can assert the segment bound held across the replay. */
  private[graft] def streamDedupIndexRun(
      spark: SparkSession, dir: String): (DataFrame, String) = {
    import org.apache.spark.sql.types._
    val docs = Star.table(spark, dir, "documents")
    val index = mhband(spark, dir, docs)
    val base = graft.sources.FixtureCache.buildReplayShards(
      spark, "graft_stream_dedupidx", dir, "documents", 3)(
      docs.filter(isArrival), "doc_id")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "q*.parquet")
      .parquet(base.toString)
    graft.streaming.StreamingQueries.replayIndexedDedup(
      spark, src, "dedupidx", "dedupidx_work", "doc_id",
      bandsOf,
      (batch, state, probe) =>
        verdicts(batch, bandProbeDropIds(docs, Seq(index, state), probe)),
      Seq("doc_id", "lang", "source", "verdict"))
  }

  /** Arrival-band state compaction (the q_compaction byte-target logic
    * applied to streaming state): when more than `maxSegments` segment
    * dirs exist, rewrite them all into ONE `c<batchId>` segment sized at
    * actual-bytes / target-file-bytes files, then drop the originals.
    * Runs inside the trigger that crossed the bound, so the state's file
    * count stays O(maxSegments) across an unbounded replay instead of
    * growing by one small-file segment per trigger.
    *
    * Crash safety: the rewrite lands in an `_ctmp<batchId>` staging dir —
    * invisible to state reads (underscore-prefixed dirs are hidden to
    * Spark's file listing AND unmatched by the `{b*,c*}` glob) — which is
    * renamed to `c<batchId>` BEFORE the originals are deleted. A crash
    * before the rename leaves only stage litter (reaped at the top of the
    * next call); a crash between rename and deletes leaves the band rows
    * duplicated (compacted segment ∪ originals), which state reads
    * tolerate — candidate pairs are DISTINCT'd before verification — and
    * the next compaction collapses. The reverse order (delete first)
    * would LOSE state on a crash. */
  private[graft] def compactSegments(spark: SparkSession, stateDir: String,
      batchId: Long, maxSegments: Int): Unit = {
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // reap stage dirs orphaned by a crash mid-compaction (each attempt
    // stages under its own batchId, so nothing else ever cleans these).
    // Unconditional (no age guard, unlike IndexStore.compactAppends):
    // safe ONLY because a streaming state dir is PROCESS-PRIVATE — it is
    // derived from the replay's own checkpoint location, so no concurrent
    // compactor can be mid-write here. A shared state dir would need the
    // same modification-time cutoff the append-lane compactor applies.
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_ctmp"))
      .foreach(s => fs.delete(s.getPath, true))
    val segs = fs.listStatus(root).filter { s =>
      val n = s.getPath.getName
      s.isDirectory && (n.startsWith("b") || n.startsWith("c"))
    }
    if (segs.length > maxSegments) {
      val bytes = segs.flatMap(s => fs.listStatus(s.getPath))
        .filter(_.getPath.getName.startsWith("part-")).map(_.getLen).sum
      val targetFileBytes = 4L << 20 // 4 MiB locally; 128 MiB+ on a lake
      val nFiles =
        math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val stage = new org.apache.hadoop.fs.Path(root, s"_ctmp$batchId")
      // DISTINCT: band rows are set-semantics (identical deterministic
      // tuples), so the duplicates a crash between rename and deletes
      // leaves behind COLLAPSE here instead of compounding across crashes
      spark.read.parquet(s"$stateDir/{b*,c*}").distinct()
        .repartition(nFiles)
        .write.mode("overwrite").parquet(stage.toString)
      // target name carries a UUID: a crash after the rename followed by
      // an at-least-once RETRY of the same batchId must not rename onto
      // the existing c<batchId> (local-FS rename onto an existing dir
      // NESTS the stage inside it and the subsequent delete of the old
      // segment would take the fresh rewrite with it — total state loss)
      val target = new org.apache.hadoop.fs.Path(root,
        s"c${batchId}u${java.util.UUID.randomUUID.toString.take(8)}")
      // delete originals ONLY once the rename has made the compacted
      // segment visible — a failed rename (stage stays hidden to the
      // {b*,c*} glob) must leave the state untouched, not lose it
      if (fs.rename(stage, target))
        segs.foreach(s => fs.delete(s.getPath, true))
      ()
    }
  }

  /** Oracle for [[dedupIncremental]]: the batch twin — bands over the
    * FULL corpus (index ∪ shard is exactly bands(all docs)), candidates
    * restricted to shard docs on the larger-id side, exact-Jaccard
    * verify, first-seen-wins verdict per shard doc. */
  private val dedupIncrementalSql = {
    val bandSelects = (0 until numBands)
      .map(b => s"SELECT doc_id, $b AS band_id, ${bandKeySql(b)} AS h FROM sig")
      .mkString(" UNION ALL ")
    val jac = Star.Sql.ratio6("shared", "ca.c + cb.c - shared")
    s"""$minhashSigCte,
       |bands AS ($bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.h = b.h AND a.doc_id < b.doc_id
       |  WHERE b.doc_id % 10 = 0),
       |cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT c.id_a, c.id_b, COUNT(*) AS shared
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.id_a
       |  JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
       |  GROUP BY 1, 2),
       |drops AS (
       |  SELECT DISTINCT id_b AS doc_id FROM pairs
       |  JOIN cnt ca ON ca.doc_id = id_a
       |  JOIN cnt cb ON cb.doc_id = id_b
       |  WHERE $jac >= 0.5)
       |SELECT d.doc_id, d.lang, d.source,
       |  CASE WHEN dr.doc_id IS NOT NULL THEN 'drop' ELSE 'keep' END
       |    AS verdict
       |FROM documents d LEFT JOIN drops dr ON dr.doc_id = d.doc_id
       |WHERE d.doc_id % 10 = 0
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Sorted-neighborhood blocking (the classic entity-resolution third
    * way next to LSH banding and winnowing): sort the corpus by a cheap
    * blocking key — here the first 3 sorted distinct tokens — and score
    * only pairs within a fixed window (w=3 ⇒ rank offsets 1 and 2) by
    * exact shingle Jaccard. Linear candidate count by construction (≤
    * 2n pairs), no quadratic hot-fragment hazard at all.
    *
    * Scale shape: the sort is Spark's range-partitioned global orderBy
    * (parallel — NOT a single-task window; the contiguous global rank
    * comes from zipWithIndex over the sorted partitions, which preserves
    * the total order deterministically). The neighbor pairing is an
    * equi-join on rank. The known blind spot — near-dups whose blocking
    * keys land far apart — is the standard SNM trade; multi-pass with a
    * second key is the production answer. */
  /** Shingle+token base relation for SNM passes: doc_id, shingle set
    * `s`, its size `c`, and the token array `w` the blocking keys are
    * cut from. */
  private def snmBase(spark: SparkSession, dir: String): DataFrame = {
    val arr =
      "array_distinct(transform(sequence(1, greatest(size(w) - 2, 1)), " +
        "i -> concat_ws(' ', try_element_at(w, i), try_element_at(w, i + 1), try_element_at(w, i + 2))))"
    Star.fan(spark, Star.table(spark, dir, "documents"), "doc_id")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), expr(arr).as("s"), col("w"))
      .select(col("doc_id"), col("s"), size(col("s")).as("c"), col("w"))
  }

  /** One SNM pass over a blocking key: range-partitioned global sort on
    * (k, doc_id), contiguous rank via zipWithIndex, neighbors at rank
    * offsets 1..w-1 scored by exact shingle Jaccard. */
  private def snmPass(spark: SparkSession, keyed: DataFrame): DataFrame = {
    // Star.globalRank (r16: deduplicated into the shared helper; the
    // zipWithIndex idiom itself stands — BOTH pin variants measured
    // worse here: .rdd.persist 1.51 → 2.45 s (deserialized rows with
    // shingle arrays), and the checkpointed offset+position reshape
    // +0.09-0.11 s per consumer — see the globalRank note)
    val ranked = Star.globalRank(spark,
      keyed.select("doc_id", "s", "c", "k"), "rk", col("k"), col("doc_id"))
    val right = ranked.select(col("rk").as("rkb"), col("doc_id").as("idb"),
      col("s").as("sb"), col("c").as("cb"))
    val shared = size(array_intersect(col("sa"), col("sb")))
    val jac = Star.ratio6(shared, col("ca") + col("cb") - shared)
    ranked
      .select(col("rk"), col("doc_id").as("ida"), col("s").as("sa"),
        col("c").as("ca"))
      .withColumn("off", explode(array(lit(1L), lit(2L))))
      .join(right, col("rk") + col("off") === col("rkb"))
      .filter(jac >= 0.5)
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"),
        shared.as("shared"), jac.as("jaccard"))
  }

  private def snmFirstKey(df: DataFrame): DataFrame = df.withColumn("k",
    array_join(slice(sort_array(array_distinct(col("w"))), 1, 3), " "))

  def sortedNeighborhood(spark: SparkSession, dir: String): DataFrame =
    snmPass(spark, snmFirstKey(snmBase(spark, dir))).orderBy("id_a", "id_b")

  /** Multi-pass SNM — the production answer to the single-key blind
    * spot (near-dups whose keys land far apart in one sort order): a
    * SECOND pass blocks on the descending-sorted token prefix, so a
    * pair differing in its smallest tokens but sharing its largest
    * still lands adjacent somewhere. Candidates stay linear (≤ 2n per
    * pass); the union dedups on the pair key. Both passes score the
    * same exact Jaccard, so the union is a set-union of identical
    * scored rows — `distinct`, not a re-score. */
  def snmMultipass(spark: SparkSession, dir: String): DataFrame = {
    val base = snmBase(spark, dir)
    val pass1 = snmPass(spark, snmFirstKey(base))
    val pass2 = snmPass(spark, base.withColumn("k",
      array_join(slice(sort_array(array_distinct(col("w")), asc = false), 1, 3), " ")))
    pass1.union(pass2).distinct().orderBy("id_a", "id_b")
  }

  private val sortedNeighborhoodSql =
    s"""WITH w AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(greatest(len(w) - 2, 1)),
       |      i -> concat_ws(' ', w[i+1], w[i+2], w[i+3]))) AS s,
       |    array_to_string(list_sort(list_distinct(w))[1:3], ' ') AS k
       |  FROM w),
       |r AS (
       |  SELECT doc_id, s, len(s) AS c,
       |    ROW_NUMBER() OVER (ORDER BY k, doc_id) - 1 AS rk
       |  FROM sh),
       |p AS (
       |  SELECT a.doc_id AS ia, b.doc_id AS ib,
       |    len(list_intersect(a.s, b.s)) AS shared, a.c AS ca, b.c AS cb
       |  FROM r a JOIN r b ON b.rk - a.rk IN (1, 2))
       |SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b,
       |  CAST(shared AS INT) AS shared,
       |  ${Star.Sql.ratio6("shared", "ca + cb - shared")} AS jaccard
       |FROM p
       |WHERE ${Star.Sql.ratio6("shared", "ca + cb - shared")} >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  /** Exact substring-span dedup signal (the Lee et al. "Deduplicating
    * Training Data Makes Language Models Better" shape, at n-gram-window
    * granularity): for every document, the fraction of its 8-token
    * windows that also occur verbatim in at least one OTHER document.
    * Downstream curation drops or trims high-overlap docs; this query
    * emits the per-doc signal (windows, shared windows, shared
    * fraction).
    *
    * Scale shape: ONE scan, one explode, three slim exchanges. Windows
    * are hashed (xxhash64 — 8-byte shuffle keys instead of ~50-byte
    * strings; the oracle groups the raw strings, counts match barring a
    * 2^-64-scale collision, the same trade the oracled shingle-Jaccard
    * chain already makes) and partially aggregated map-side to
    * (h, doc_id, cnt). The per-gram doc count is a partitionBy(h)
    * WINDOW over that aggregate — not a self-join, which would
    * recompute the whole scan+explode lineage on the build side (the
    * first cut did exactly that; the plan dump caught it). h is
    * corpus-cardinality, so the window is fully partitioned — never the
    * single-task shape. */
  def substringDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = 8
    val grams = Star.fan(spark, Star.table(spark, dir, "documents"), "doc_id")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      // sub-window docs contribute no rows (Spark's sequence(1, 0) is the
      // DESCENDING [1, 0], not empty — the filter, not greatest(), is
      // what mirrors DuckDB's empty range here)
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(w, i, $n)))")).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
    val perDoc = grams.groupBy("h", "doc_id").agg(count(lit(1)).as("cnt"))
    perDoc
      .withColumn("n_docs", count(lit(1)).over(Window.partitionBy("h")))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_windows"),
        sum(when(col("n_docs") >= 2, col("cnt")).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_windows"), col("n_shared"),
        Star.ratio6(col("n_shared"), col("n_windows")).as("shared_frac"))
      .orderBy("doc_id")
  }

  private val substringDedupSql =
    s"""WITH w AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM documents),
       |g AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(greatest(len(w) - 7, 0)),
       |      i -> array_to_string(w[i+1:i+8], ' '))) AS g
       |  FROM w),
       |pd AS (SELECT g, doc_id, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
       |pg AS (SELECT g, COUNT(*) AS n_docs FROM pd GROUP BY 1)
       |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_windows,
       |  CAST(SUM(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END) AS BIGINT)
       |    AS n_shared,
       |  ${Star.Sql.ratio6("SUM(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END)",
             "SUM(cnt)")} AS shared_frac
       |FROM pd JOIN pg USING (g)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val snmMultipassSql =
    s"""WITH w AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(greatest(len(w) - 2, 1)),
       |      i -> concat_ws(' ', w[i+1], w[i+2], w[i+3]))) AS s,
       |    array_to_string(list_sort(list_distinct(w))[1:3], ' ') AS k1,
       |    array_to_string(list_reverse_sort(list_distinct(w))[1:3], ' ') AS k2
       |  FROM w),
       |r1 AS (
       |  SELECT doc_id, s, len(s) AS c,
       |    ROW_NUMBER() OVER (ORDER BY k1, doc_id) - 1 AS rk
       |  FROM sh),
       |r2 AS (
       |  SELECT doc_id, s, len(s) AS c,
       |    ROW_NUMBER() OVER (ORDER BY k2, doc_id) - 1 AS rk
       |  FROM sh),
       |p AS (
       |  SELECT least(a.doc_id, b.doc_id) AS id_a,
       |    greatest(a.doc_id, b.doc_id) AS id_b,
       |    len(list_intersect(a.s, b.s)) AS shared, a.c + b.c AS cc
       |  FROM r1 a JOIN r1 b ON b.rk - a.rk IN (1, 2)
       |  UNION
       |  SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id),
       |    len(list_intersect(a.s, b.s)), a.c + b.c
       |  FROM r2 a JOIN r2 b ON b.rk - a.rk IN (1, 2))
       |SELECT id_a, id_b, CAST(shared AS INT) AS shared,
       |  ${Star.Sql.ratio6("shared", "cc - shared")} AS jaccard
       |FROM p
       |WHERE ${Star.Sql.ratio6("shared", "cc - shared")} >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  /** Index MAINTENANCE after an incremental dedup pass — the append half
    * of build-once/probe-many: the updated band index is the persisted
    * v1 scan ∪ the ACCEPTED shard docs' bands (dropped arrivals never
    * enter the index, so future probes dedup against exactly the kept
    * corpus). Nothing outside the shard is ever re-sketched — the base
    * side remains a plain scan of the persisted table, which is the
    * entire point of maintaining the index instead of rebuilding it.
    * Output is the updated index's per-band profile (doc rows, distinct
    * buckets, hottest-bucket DF — the quantity the DF-capped pair
    * generators key on), an order-independent exact aggregate. */
  def dedupIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    val docs = Star.table(spark, dir, "documents")
    val index = mhband(spark, dir, docs)
    val kept = dedupIncremental(spark, dir)
      .filter(col("verdict") === "keep").select("doc_id")
    bandProfile(index.unionByName(bandsOf(
      docs.filter(isArrival).join(kept, Seq("doc_id"), "left_semi"))))
  }

  /** Per-band profile of band rows: doc rows, distinct buckets and the
    * hottest bucket's DF, ordered by band. */
  private def bandProfile(bands: DataFrame): DataFrame =
    bands.groupBy("band_id", "h").agg(count(lit(1)).as("df"))
      .groupBy("band_id")
      .agg(sum("df").cast("long").as("n_docs"),
        count(lit(1)).as("n_buckets"),
        max("df").as("max_df"))
      .orderBy("band_id")

  /** Oracle: the incremental-dedup oracle's keep set, then bands over
    * (base ∪ kept shard) profiled per band. */
  private val dedupIndexAppendSql = {
    val bandSelects = (0 until numBands)
      .map(b => s"SELECT doc_id, $b AS band_id, ${bandKeySql(b)} AS h FROM sig")
      .mkString(" UNION ALL ")
    val jac = Star.Sql.ratio6("shared", "ca.c + cb.c - shared")
    s"""$minhashSigCte,
       |bands AS ($bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.h = b.h AND a.doc_id < b.doc_id
       |  WHERE b.doc_id % 10 = 0),
       |cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT c.id_a, c.id_b, COUNT(*) AS shared
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.id_a
       |  JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
       |  GROUP BY 1, 2),
       |drops AS (
       |  SELECT DISTINCT id_b AS doc_id FROM pairs
       |  JOIN cnt ca ON ca.doc_id = id_a
       |  JOIN cnt cb ON cb.doc_id = id_b
       |  WHERE $jac >= 0.5),
       |updated AS (
       |  SELECT b.* FROM bands b
       |  WHERE b.doc_id % 10 <> 0
       |     OR b.doc_id NOT IN (SELECT doc_id FROM drops)),
       |bybucket AS (
       |  SELECT band_id, h, COUNT(*) AS df FROM updated GROUP BY 1, 2)
       |SELECT band_id, CAST(SUM(df) AS BIGINT) AS n_docs,
       |  COUNT(*) AS n_buckets, MAX(df) AS max_df
       |FROM bybucket GROUP BY band_id ORDER BY band_id""".stripMargin
  }

  /** Index RETRACTION — the takedown / right-to-be-forgotten half of
    * index lifecycle (append is [[dedupIndexAppend]]): a doc set must
    * stop influencing dedup verdicts WITHOUT rebuilding the index. The
    * persisted band index is IMMUTABLE (bucketed files shared by every
    * serving process), so retraction is a TOMBSTONE list: serve probes
    * anti-join the index scan against the retracted doc_ids before
    * banding candidates. Tombstones are takedown events — bounded by
    * policy, not by corpus — so the anti-join broadcasts by design and
    * the index side keeps its bucketed, exchange-free layout. Physical
    * removal happens at the next index rewrite (the same maintenance
    * window as [[compactSegments]]-style compaction), amortized across
    * retractions.
    *
    * Modeled retraction set: base docs with doc_id % 10 IN (5, 8) —
    * residues chosen so the takedown demonstrably FLIPS verdicts on the
    * harness corpus at every scale (sole blockers retracted at
    * sf0.001/0.01/0.1), not just filters rows nobody probed. Verdicts
    * must equal the batch twin computed on the REDUCED corpus (base
    * minus retracted; shard unchanged) — a retracted doc no longer
    * blocks any arrival (additionally spec-pinned on a planted pair). */
  def dedupIndexRetract(spark: SparkSession, dir: String): DataFrame = {
    val docs = Star.table(spark, dir, "documents")
    val tombstones = docs.filter((col("doc_id") % 10).isin(5, 8))
      .select("doc_id")
    arrivalVerdicts(docs, mhband(spark, dir, docs)
      .join(broadcast(tombstones), Seq("doc_id"), "left_anti"))
  }

  /** Oracle: the incremental-dedup twin on the reduced corpus — the
    * retracted base docs are excluded from the EARLIER side (bands and
    * verify alike; they can no longer block an arrival). */
  private val dedupIndexRetractSql = {
    val bandSelects = (0 until numBands)
      .map(b => s"SELECT doc_id, $b AS band_id, ${bandKeySql(b)} AS h FROM sig")
      .mkString(" UNION ALL ")
    val jac = Star.Sql.ratio6("shared", "ca.c + cb.c - shared")
    s"""$minhashSigCte,
       |bands AS ($bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.h = b.h AND a.doc_id < b.doc_id
       |  WHERE b.doc_id % 10 = 0 AND a.doc_id % 10 NOT IN (5, 8)),
       |cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT c.id_a, c.id_b, COUNT(*) AS shared
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.id_a
       |  JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
       |  GROUP BY 1, 2),
       |drops AS (
       |  SELECT DISTINCT id_b AS doc_id FROM pairs
       |  JOIN cnt ca ON ca.doc_id = id_a
       |  JOIN cnt cb ON cb.doc_id = id_b
       |  WHERE $jac >= 0.5)
       |SELECT d.doc_id, d.lang, d.source,
       |  CASE WHEN dr.doc_id IS NOT NULL THEN 'drop' ELSE 'keep' END
       |    AS verdict
       |FROM documents d LEFT JOIN drops dr ON dr.doc_id = d.doc_id
       |WHERE d.doc_id % 10 = 0
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Index MAJOR REWRITE — the tombstone-APPLYING compaction every
    * tombstone serve path ([[dedupIndexRetract]] and its ANN/semantic
    * siblings) defers to with "physical removal happens at the next
    * major rewrite". Here that rewrite actually runs
    * ([[graft.sources.IndexStore.majorRewrite]]): a snapshot whose
    * content arrived in two installments (a bucketed base over doc_id
    * % 10 ∉ {0, 1} plus an appended segment of the % 10 == 1 docs —
    * the lane-folding half of the contract) is rewritten MINUS the
    * tombstoned docs into a new generation, published by swapping the
    * serving alias, and probes then run against the new generation
    * with NO tombstone anti-join anywhere in the plan — the takedown
    * is physical, the per-serve anti-join cost and the dead keys'
    * storage are both gone. Idempotent under re-runs (build-once
    * generation + re-promote); in-flight probes keep the old
    * generation's immutable files.
    *
    * Verdicts must equal [[dedupIndexRetract]]'s (the reduced-corpus
    * batch twin — same tombstone set, same probes): retract-by-
    * tombstone and retract-by-rewrite are the SAME logical operation
    * at two maintenance stages, so they share the oracle verbatim. */
  def dedupIndexRewrite(spark: SparkSession, dir: String): DataFrame = {
    val docs = Star.table(spark, dir, "documents")
    // own snapshot identity: mhband's lane receives arrival segments
    // from the compaction query, which would make the rewrite's folded
    // content depend on query execution order
    val base = IndexStore.cachedBucketTable(
      spark, dir, "documents", "mhbandrw", 8,
      Seq("band_id", "h"), Seq("band_id", "h")) {
      bandsOf(docs.filter(col("doc_id") % 10 =!= 0 &&
        col("doc_id") % 10 =!= 1))
    }
    IndexStore.appendSegment(spark, dir, "documents", "mhbandrw", "s1") {
      bandsOf(docs.filter(col("doc_id") % 10 === 1))
    }
    IndexStore.majorRewrite(spark, dir, "documents", "mhbandrw", "g2",
      8, Seq("band_id", "h"), Seq("band_id", "h"), Seq("doc_id"))(base) {
      docs.filter((col("doc_id") % 10).isin(5, 8)).select("doc_id")
    }
    arrivalVerdicts(docs, IndexStore.openTable(spark, dir, "documents",
      IndexStore.servingName(dir, "documents", "mhbandrw")))
  }

  /** Persisted-index APPEND COMPACTION — the maintenance half
    * [[dedupIndexAppend]] leaves open: repeated appends add one small
    * segment per arriving shard next to the immutable base snapshot, and
    * after N appends the serve path would read N+1 sources forever. Here
    * three modeled arrival slices land as append segments
    * ([[graft.sources.IndexStore.appendSegment]] — atomic-rename
    * publication, applied-marker idempotence under at-least-once
    * maintenance jobs), the minor compactor
    * ([[graft.sources.IndexStore.compactAppends]]) rewrites them into one
    * byte-target-sized segment behind a staged rename, and the probe
    * surface is the per-band profile of base ∪ append lane — which must
    * be IDENTICAL before and after compaction (spec-pinned, along with
    * the segment-count bound and re-run idempotence). The base bucketed
    * table is never touched; folding the lane back into a re-bucketed
    * base is a major rewrite = new snapshot generation +
    * [[graft.sources.IndexStore.promote]]. Oracle: bands over the FULL
    * corpus profiled per band (base ∪ all three slices = every doc). */
  def dedupIndexCompact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Star.table(spark, dir, "documents")
    val index = mhband(spark, dir, docs)
    // three modeled arrival shards: the arriving docs sliced by residue
    // (doc_id % 10 == 0, so % 30 partitions them into 0/10/20)
    (0 to 2).foreach { k =>
      IndexStore.appendSegment(spark, dir, "documents", "mhband", s"arr$k") {
        bandsOf(docs.filter(isArrival && col("doc_id") % 30 === k * 10))
      }
    }
    IndexStore.compactAppends(
      spark, dir, "documents", "mhband", maxSegments = 2)
    bandProfile(index.unionByName(
      IndexStore.readAppends(spark, dir, "documents", "mhband").get))
  }

  /** Oracle: bands over every doc (base ∪ the three arrival slices),
    * profiled per band. */
  private val dedupIndexCompactSql = {
    val bandSelects = (0 until numBands)
      .map(b => s"SELECT doc_id, $b AS band_id, ${bandKeySql(b)} AS h FROM sig")
      .mkString(" UNION ALL ")
    s"""$minhashSigCte,
       |bands AS ($bandSelects),
       |bybucket AS (
       |  SELECT band_id, h, COUNT(*) AS df FROM bands GROUP BY 1, 2)
       |SELECT band_id, CAST(SUM(df) AS BIGINT) AS n_docs,
       |  COUNT(*) AS n_buckets, MAX(df) AS max_df
       |FROM bybucket GROUP BY band_id ORDER BY band_id""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_sorted_neighborhood", sortedNeighborhood,
      Some(sortedNeighborhoodSql)),
    QueryDef("q_snm_multipass", snmMultipass, Some(snmMultipassSql)),
    QueryDef("q_substring_dedup", substringDedup, Some(substringDedupSql)),
    QueryDef("q_dedup_lsh_keep", dedupLshKeep, Some(dedupLshKeepSql)),
    QueryDef("q_dedup_containment", containmentPairs,
      Some(containmentPairsSql)),
    QueryDef("q_dedup_exact", dedupExact, Some(dedupExactSql)),
    QueryDef("q_dedup_cluster_stats", dedupClusterStats,
      Some(dedupClusterStatsSql)),
    QueryDef("q_dedup_normalized", dedupNormalized, Some(dedupNormalizedSql)),
    QueryDef("q_dedup_clusters", dedupClusters, Some(dedupClustersSql)),
    QueryDef("q_dedup_clusters_capped", dedupClustersCapped,
      Some(dedupClustersCappedSql)),
    QueryDef("q_dedup_keep", dedupKeep, Some(dedupKeepSql)),
    QueryDef("q_dedup_ngram_jaccard", ngramJaccard, Some(ngramJaccardSql)),
    QueryDef("q_dedup_jaccard_capped", ngramJaccardCapped,
      Some(ngramJaccardCappedSql)),
    QueryDef("q_dedup_minhash", minhashSignatures, Some(minhashSignaturesSql)),
    QueryDef("q_dedup_minhash_pairs", minhashLshPairs,
      Some(minhashLshPairsSql)),
    QueryDef("q_dedup_simhash", simhash, Some(simhashSql)),
    QueryDef("q_dedup_simhash_pairs", simhashPairs, Some(simhashPairsSql)),
    QueryDef("q_dedup_simhash_capped", simhashPairsCapped,
      Some(simhashPairsCappedSql)),
    QueryDef("q_dedup_winnow_pairs", winnowPairs, Some(winnowPairsSql)),
    QueryDef("q_dedup_winnow_capped", winnowPairsCapped,
      Some(winnowPairsCappedSql)),
    QueryDef("q_dedup_incremental", dedupIncremental,
      Some(dedupIncrementalSql)),
    // the streaming arrival path converges to the batch serve path's
    // verdicts exactly (chronological replay, first-seen-wins) — shared
    // oracle
    QueryDef("q_stream_dedup_index", streamDedupIndex,
      Some(dedupIncrementalSql)),
    QueryDef("q_dedup_index_append", dedupIndexAppend,
      Some(dedupIndexAppendSql)),
    QueryDef("q_dedup_index_retract", dedupIndexRetract,
      Some(dedupIndexRetractSql)),
    // retract-by-rewrite: same tombstones, same probes, physically
    // reduced snapshot — shares the retract oracle verbatim
    QueryDef("q_dedup_index_rewrite", dedupIndexRewrite,
      Some(dedupIndexRetractSql)),
    QueryDef("q_dedup_index_compact", dedupIndexCompact,
      Some(dedupIndexCompactSql)),
  )
}
