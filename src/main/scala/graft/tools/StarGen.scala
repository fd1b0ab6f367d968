package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic distributed star-schema generator for scale benches.
  *
  * The driver testdata stops at sf0.1 (~600k lineitem), so scale evidence
  * for the full suite needs a larger corpus. This generator produces all
  * ten harness tables — star schema + events + documents + embeddings,
  * the last two with planted duplicate/near-dup structure whose cluster
  * sizes stay bounded as the corpus grows (like a real bigger crawl) —
  * with the same schema and value distributions at an arbitrary
  * multiple of sf0.1 — sf1 = `mult 10` ≈ 6M lineitem rows —
  * entirely as Spark jobs: `spark.range` + hash-mix column expressions,
  * no driver-side row loop, so the identical program would generate
  * 100 TB on a cluster. Every value is a pure function of the row id and
  * a fixed seed (xxhash64 mixing), so output content is deterministic and
  * independent of partitioning; big tables are written as 32 files so
  * local scans split the way a cluster scan would.
  *
  * PROBE-ONLY: these corpora feed `Bench` ratio runs (BASELINE.md scale
  * table). Oracle correctness stays gated on the read-only driver
  * testdata at sf0.001/0.01/0.1.
  *
  * Usage: runMain graft.tools.StarGen <outDir> [mult]
  */
object StarGen {

  private val Seed = 42L

  /** Uniform nonnegative long in [0, m) as a pure function of (cols, tag). */
  private def h(m: Long, tag: Int, cols: Column*): Column =
    pmod(xxhash64(cols :+ lit(Seed) :+ lit(tag): _*), lit(m))

  /** Uniform 2-decimal double in [lo, hi). */
  private def money(lo: Double, hi: Double, tag: Int, cols: Column*): Column =
    (lit(lo) + h(((hi - lo) * 100).toLong, tag, cols: _*) / lit(100.0))

  private def pick(values: Seq[String], tag: Int, cols: Column*): Column =
    element_at(array(values.map(lit): _*), (h(values.size, tag, cols: _*) + 1).cast("int"))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_sf1")
    val mult = if (args.length > 1) args(1).toInt else 10
    val spark = graft.Harness.session("graft-stargen",
      graft.Harness.cpus(32), "ERROR")
    generate(spark, out, mult)
    spark.stop()
  }

  def generate(spark: SparkSession, out: String, mult: Int): Unit = {
    val nCust = 15000L * mult
    val nSupp = 1000L * mult
    val nPart = 20000L * mult
    val nOrd = 150000L * mult
    val nEvt = 100000L * mult
    val nUser = 1500L * mult

    def id = col("id")
    def write(df: DataFrame, name: String, files: Int): Unit = {
      df.repartition(files)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"$name: written")
    }

    write(spark.range(5).select(
      id.cast("int").as("r_regionkey"),
      pickAt(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), id)
        .as("r_name")), "region", 1)

    write(spark.range(25).select(
      id.cast("int").as("n_nationkey"),
      format_string("NATION_%d", id).as("n_name"),
      pmod(id, lit(5)).cast("int").as("n_regionkey")), "nation", 1)

    write(spark.range(nCust).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      h(25, 1, id).cast("int").as("c_nationkey"),
      money(-1000.0, 10000.0, 2, id).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"), 3, id).as("c_mktsegment")), "customer", 4)

    write(spark.range(nSupp).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      h(25, 4, id).cast("int").as("s_nationkey"),
      money(-1000.0, 10000.0, 5, id).as("s_acctbal")), "supplier", 1)

    write(spark.range(nPart).select(
      id.as("p_partkey"),
      concat(
        pick(Seq("blue", "cold", "hot", "large", "new", "old", "red",
          "small"), 6, id), lit(" "),
        pick(Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
          "widget"), 7, id)).as("p_name"),
      format_string("Brand#%d", h(25, 8, id) + 1).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
        9, id).as("p_type"),
      (h(50, 10, id) + 1).cast("int").as("p_size"),
      money(900.0, 1000.0, 11, id).as("p_retailprice")), "part", 4)

    val orders = spark.range(nOrd).select(
      id.as("o_orderkey"),
      h(nCust, 12, id).as("o_custkey"),
      pick(Seq("O", "P", "F"), 13, id).as("o_orderstatus"),
      money(1000.0, 500000.0, 14, id).as("o_totalprice"),
      timestamp_seconds(
        lit(java.time.Instant.parse("1995-01-01T00:00:00Z").getEpochSecond) +
          h(2405, 15, id) * 86400L).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        16, id).as("o_orderpriority"))
    write(orders, "orders", 16)

    // lineitem fans out of orders: 1..7 lines/order (avg 4, matching the
    // driver data), per-line values mixed from (orderkey, linenumber)
    val ok = col("o_orderkey")
    val ln = col("l_linenumber")
    val li = orders
      .select(ok, col("o_orderdate"),
        explode(sequence(lit(1), (h(7, 17, ok) + 1).cast("int")))
          .as("l_linenumber"))
      .select(
        ok.as("l_orderkey"),
        h(nPart, 18, ok, ln).as("l_partkey"),
        h(nSupp, 19, ok, ln).as("l_suppkey"),
        ln.cast("int").as("l_linenumber"),
        (h(50, 20, ok, ln) + 1).cast("double").as("l_quantity"),
        (money(900.0, 1000.0, 21, ok, ln) *
          (h(50, 20, ok, ln) + 1).cast("double")).as("l_extendedprice"),
        (h(11, 22, ok, ln) / lit(100.0)).as("l_discount"),
        (h(9, 23, ok, ln) / lit(100.0)).as("l_tax"),
        pick(Seq("R", "N", "A"), 24, ok, ln).as("l_returnflag"),
        pick(Seq("O", "F"), 25, ok, ln).as("l_linestatus"),
        timestamp_seconds(
          unix_timestamp(col("o_orderdate")) + (h(95, 26, ok, ln) + 1) * 86400L)
          .as("l_shipdate"))
    write(li, "lineitem", 32)

    write(spark.range(nEvt).select(
      id.as("event_id"),
      timestamp_micros(
        lit(java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
          * 1000000L) + h(30L * 86400 * 1000000, 27, id)).as("ts"),
      h(nUser, 28, id).as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view"), 29, id)
        .as("event_type"),
      money(0.0, 561.0, 30, id).as("value"),
      format_string("{\"k\": %d}", h(100, 31, id)).as("props")),
      "events", 8)

    // documents: same shape as the driver corpus at x1 — the 31-word
    // vocabulary, uniform 10..100 words/doc, lang 40/15 split, 20
    // uniform sources — plus PLANTED duplicates: ~1% of docs copy a doc
    // at most 20 ids back (text is a pure function of seedId, so a dup
    // pair is bit-identical), keeping near-dup CLUSTERS bounded while
    // doc count grows. The vocabulary GROWS with the corpus (Heaps'
    // law, beta = 0.5: V = 31·sqrt(mult), exactly the base 31 at ×1):
    // a bigger crawl brings new n-grams, so per-shingle document
    // frequency grows sub-linearly. A FIXED vocabulary at ×10 is the
    // wrong model — it multiplies every shingle's DF by 10 and drives
    // every shingle-inverted-index operator quadratic (measured before
    // this fix: q_dedup_ngram_jaccard 10× exponent 1.47 — and the DF
    // caps scale with n_docs, so they admit it; the density regime is
    // recorded in BASELINE.md as an adversarial probe, with the
    // MinHash-band chain as the operator family that survives it).
    // Everything is a pure function of (id, seed): no driver rows, no
    // replica seams.
    val nDoc = 5000L * mult
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
      "data", "dup", "fast", "filter", "group", "hash", "join", "key",
      "line", "merge", "order", "part", "query", "row", "scan", "slow",
      "small", "sort", "spark", "stream", "table", "the", "value",
      "vector", "window")
    val vocabN = math.max(vocab.size,
      math.round(vocab.size * math.sqrt(mult.toDouble)).toInt)
    val seedId = when(h(100, 32, id) === 0, greatest(lit(0L),
      id - 1L - h(20, 33, id))).otherwise(id)
    val nWords = (h(91, 34, seedId) + lit(10)).cast("int")
    val text = concat_ws(" ", transform(sequence(lit(1), nWords),
      i => {
        val w = h(vocabN, 35, seedId, i).cast("int")
        when(w < vocab.size, element_at(array(vocab.map(lit): _*), w + 1))
          .otherwise(concat(lit("w"), w))
      }))
    write(spark.range(nDoc).select(
      id.as("doc_id"),
      text.as("text"),
      when(h(10, 36, id) < 4, "en").otherwise(
        pick(Seq("de", "es", "fr", "zh"), 37, id)).as("lang"),
      format_string("src%d", h(20, 38, id)).as("source"),
      length(text).cast("long").as("n_chars")), "documents", 8)

    // embeddings: 64-dim float vectors around 10 label centroids
    // (component = centroid(label, d) + per-vector noise, values within
    // the driver corpus's ±0.58 envelope) plus ~1% planted near-dups —
    // the partner's components re-jittered by ±0.001, cosine ≈ 1 — so
    // the semantic-dedup family has scale-invariant cluster structure.
    val nVec = 2000L * mult
    val vecSeed = when(h(100, 39, id) === 0, greatest(lit(0L),
      id - 1L - h(20, 40, id))).otherwise(id)
    val lbl = h(10, 41, vecSeed).cast("int")
    val emb = transform(sequence(lit(0), lit(63)), d =>
      ((h(2000, 42, lbl.cast("long"), d) - 1000L).cast("double") / 5000.0 +
        (h(2000, 43, vecSeed, d) - 1000L).cast("double") / 2750.0 +
        (h(100, 44, id, d) - 50L).cast("double") / 50000.0).cast("float"))
    write(spark.range(nVec).select(
      id.as("vec_id"), emb.as("embedding"), lbl.as("label")),
      "embeddings", 4)

    println(s"star schema x$mult written to $out")
  }

  /** element_at by id for the tiny fixed tables (id is already the key). */
  private def pickAt(values: Seq[String], idx: Column): Column =
    element_at(array(values.map(lit): _*), (idx + 1).cast("int"))
}
