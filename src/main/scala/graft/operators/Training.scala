package graft.operators

import graft.QueryDef
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond the reference's warehouse
  * surface: overlapping-window document chunking, BM25 relevance ranking,
  * bloom-prefiltered joins, hash-based dataset splits, and declarative
  * data-quality expectations. All are oracle-gated (DuckDB hash match) —
  * scores use the integer-rational doctrine from [[Star]] so results are
  * bit-identical across engines and partitionings.
  */
object Training {

  // ------------------------------------------------------------ chunking

  /** Overlapping token chunks for LLM context windows: size 40, stride 30
    * (10-token overlap). A doc with n tokens yields
    * `1 + ceil(max(n-40,0)/30)` chunks — the last chunk is the only one
    * shorter than `size`, and every token lands in >=1 chunk.
    *
    * Scale shape: pure map-side (tokenize -> explode chunk indexes ->
    * slice); no shuffle at all until the presentation sort. On a cluster
    * this runs at scan parallelism, and the chunk rows stream straight
    * into the next stage (tokenizer/packer) without an exchange. */
  def chunkOverlap(spark: SparkSession, dir: String): DataFrame = {
    val chunkSize = 40
    val stride = 30
    Star.fan(spark, Star.table(spark, dir, "documents"), "doc_id")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .withColumn("n_chunks",
        lit(1L) + Star.idiv(
          greatest(size(col("w")) - chunkSize, lit(0)) + (stride - 1),
          lit(stride)))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .select(
        col("doc_id"), col("chunk_idx"),
        slice(col("w"), (col("chunk_idx") * stride + 1).cast("int"),
          lit(chunkSize)).as("cw"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("cw")).cast("long").as("chunk_tokens"),
        concat_ws(" ", col("cw")).as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  private val chunkOverlapSql =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, w,
      |    1 + ((greatest(len(w) - 40, 0) + 29) // 30) AS n_chunks
      |  FROM t),
      |c AS (
      |  SELECT doc_id, w, unnest(range(n_chunks)) AS chunk_idx FROM n),
      |s AS (
      |  SELECT doc_id, chunk_idx,
      |    w[chunk_idx * 30 + 1 : chunk_idx * 30 + 40] AS cw
      |  FROM c)
      |SELECT doc_id, chunk_idx,
      |  CAST(len(cw) AS BIGINT) AS chunk_tokens,
      |  array_to_string(cw, ' ') AS chunk_text
      |FROM s ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------- BM25

  /** Per-doc top-3 terms by BM25 (k1=1.2, b=0.75) — tf-idf with
    * term-frequency saturation and document-length normalization, the
    * standard retrieval scorer for corpus search/curation.
    *
    * Integer-rational scoring (every division is a floor over positive
    * integers, mirrored verbatim in the oracle):
    *   avgdl_u = (total_tokens * 1e6) // n_docs            [1e6 scale]
    *   norm_u  = (1-b)*1e6 + (b*1e6 * dl * 1e6) // avgdl_u [1e6 scale]
    *   sat_m   = (tf * (k1+1)*1e3 * 1e6) //
    *             (tf*1e6 + (k1*10 * norm_u) // 10)         [1e3 scale]
    *   idf_m   = (n_docs * 1e3) // df                      [1e3 scale]
    *   score   = idf_m * sat_m                             [1e6 scale]
    * Products stay < 2^53 for sf <= 10 (dl < ~1e4, n_docs < ~5e9/1e3),
    * within [[Star.idiv]]'s exactness bound.
    *
    * Scale shape: same single-exchange layout as [[Breadth.tfidfTopk]] —
    * the doc-keyed fan serves the (doc_id, term) tf aggregate AND the
    * per-doc rank window; df and the corpus-level (n_docs, total_tokens,
    * avgdl) row reduce to tiny relations and broadcast, so the doc x term
    * relation is never shuffled by term. */
  def bm25Topk(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Star.table(spark, dir, "documents")
    val tok = docs
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("term"))
    // tf pinned once (r16): the relation is referenced 4× (dl, df,
    // corpus-via-dl, the scored join) and each branch re-ran the
    // tokenize + explode + aggregate lineage; localCheckpoint keeps
    // the doc_id partitioning the downstream join/window reuse.
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .transform(Star.pin)
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"),
        sum("dl").as("total_tokens"))
      .withColumn("avgdl_u",
        Star.idiv(col("total_tokens") * 1000000L, col("n_docs")))
    val scored = tf
      .join(dl, "doc_id") // doc-keyed: reuses the fan partitioning
      .join(broadcast(df_), "term")
      .crossJoin(broadcast(corpus))
      .withColumn("norm_u",
        lit(250000L) +
          Star.idiv(lit(750000L) * col("dl") * 1000000L, col("avgdl_u")))
      .withColumn("sat_m",
        Star.idiv(col("tf") * 2200L * 1000000L,
          col("tf") * 1000000L + Star.idiv(lit(12L) * col("norm_u"), lit(10L))))
      .withColumn("idf_m", Star.idiv(col("n_docs") * 1000L, col("df")))
      .withColumn("score", col("idf_m") * col("sat_m"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select("doc_id", "term", "tf", "score", "rnk")
      .orderBy("doc_id", "rnk")
  }

  private val bm25TopkSql =
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
      |       FROM tf GROUP BY 1),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |corpus AS (
      |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_tokens,
      |    ((CAST(SUM(dl) AS BIGINT) * 1000000) // COUNT(*)) AS avgdl_u
      |  FROM dl),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf,
      |    ((corpus.n_docs * 1000) // df.df) *
      |    ((tf.tf * 2200 * 1000000) //
      |      (tf.tf * 1000000 +
      |        ((12 * (250000 + ((750000 * dl.dl * 1000000) // corpus.avgdl_u)))
      |          // 10)))
      |      AS score
      |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term)
      |  CROSS JOIN corpus),
      |r AS (SELECT *, CAST(ROW_NUMBER() OVER (
      |        PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rnk
      |      FROM scored)
      |SELECT doc_id, term, tf, score, rnk FROM r WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin

  // ------------------------------------------------- hybrid retrieval (RRF)

  /** Hybrid retrieval by reciprocal-rank fusion — the standard RAG
    * serving pattern: a lexical ranking and a vector ranking are
    * computed independently per query and fused by
    * RRF(d) = Σ 1/(60 + rank_i(d)), which needs only RANKS, never
    * cross-scorer score calibration. Items are the ids carrying BOTH a
    * text and an embedding; queries are items 0..4 (query = the item
    * itself, matching the ANN family's convention; the item is excluded
    * from its own rankings).
    *
    * Lexical side: idf-weighted distinct-token overlap — Σ over shared
    * distinct terms of idf_m = (n_items·1000)//df, the integer-rational
    * BM25 idf reused from [[bm25Topk]]. Vector side: the rounded-cosine
    * ranking of the ANN family. Both fused as
    * rrf_u = Σ 1e9//(60 + rank), exact integers end-to-end; a document
    * ranked by only one side contributes only that term (standard RRF
    * over unioned candidate sets).
    *
    * Scale shape: the query side is tiny and broadcasts; the lexical
    * score is an inverted-index join (never all-pairs); the vector side
    * here scores all items per query (5 queries — brute force is the
    * exact baseline, the IVF serve path is the drop-in at corpus scale);
    * rank windows partition per query. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val items = Star.table(spark, dir, "embeddings")
      .select(col("vec_id").as("id"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
    val docs = Star.table(spark, dir, "documents")
      .join(items.select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
    // materialized ONCE (persisted-RDD leaf, same doctrine as quantVecs):
    // three branches reference this relation (the df aggregate, the
    // broadcast query tokens, the inverted-index probe) and Catalyst
    // would otherwise re-tokenize the corpus once per branch
    val tokPlan = docs
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id").as("id"),
        explode(split(trim(col("text")), "\\s+")).as("term"))
      .distinct()
    // localCheckpoint, NOT .rdd.persist (r16): InternalRows, no Row
    // converter round-trip, plan stats kept (the bandProbeDropIds lesson)
    val tok = Star.pin(tokPlan)
    val nItems = items.count()
    val df_ = tok.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("idf_m", Star.idiv(lit(nItems) * 1000L, col("df")))
    val qtok = tok.filter(col("id") < 5)
      .select(col("id").as("q_id"), col("term"))
    val lex = tok.join(broadcast(qtok), Seq("term"))
      .filter(col("id") =!= col("q_id"))
      .join(broadcast(df_.select("term", "idf_m")), Seq("term"))
      .groupBy("q_id", "id")
      .agg(sum("idf_m").as("lex_score"))
      .withColumn("lex_rank", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("lex_score").desc, col("id"))).cast("long"))
      .select("q_id", "id", "lex_rank")
    // codegen vector_dot (same left-to-right fold as the zip_with form —
    // doubles identical), norms computed ONCE per side instead of one
    // interpreted-lambda aggregate per (query, item) pair per side
    val dotC = graft.functions.VectorFunctions.vectorDot _
    val withNrm = items.withColumn("nrm", sqrt(dotC(col("v"), col("v"))))
    val qv = withNrm.filter(col("id") < 5)
      .select(col("id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val vec = withNrm.crossJoin(broadcast(qv))
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id"),
        round(dotC(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 6)
          .as("cosine"))
      .withColumn("vec_rank", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("id"))).cast("long"))
      .select("q_id", "id", "vec_rank")
    val fused = lex.join(vec, Seq("q_id", "id"), "full_outer")
      .select(col("q_id"), col("id"),
        (coalesce(Star.idiv(lit(1000000000L), col("lex_rank") + 60L),
          lit(0L)) +
         coalesce(Star.idiv(lit(1000000000L), col("vec_rank") + 60L),
           lit(0L))).as("rrf_u"))
    fused.withColumn("rnk", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("rrf_u").desc, col("id"))).cast("long"))
      .filter(col("rnk") <= 5)
      .orderBy("q_id", "rnk")
  }

  private val hybridRrfSql =
    """WITH items AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |docs AS (
      |  SELECT d.doc_id AS id, d.text FROM documents d
      |  JOIN items i ON i.id = d.doc_id),
      |tok AS (
      |  SELECT DISTINCT id,
      |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |  FROM docs),
      |n AS (SELECT COUNT(*) AS n_items FROM items),
      |df AS (
      |  SELECT term, ((n.n_items * 1000) // COUNT(*)) AS idf_m
      |  FROM tok CROSS JOIN n GROUP BY term, n.n_items),
      |lex AS (
      |  SELECT q.id AS q_id, t.id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q.id
      |      ORDER BY SUM(df.idf_m) DESC, t.id) AS BIGINT) AS lex_rank
      |  FROM tok q
      |  JOIN tok t ON t.term = q.term AND t.id <> q.id
      |  JOIN df ON df.term = q.term
      |  WHERE q.id < 5
      |  GROUP BY q.id, t.id),
      |vec AS (
      |  SELECT q.id AS q_id, i.id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY
      |      round(list_dot_product(q.v, i.v)
      |        / (sqrt(list_dot_product(q.v, q.v))
      |           * sqrt(list_dot_product(i.v, i.v))), 6) DESC, i.id)
      |      AS BIGINT) AS vec_rank
      |  FROM items q JOIN items i ON i.id <> q.id
      |  WHERE q.id < 5),
      |fused AS (
      |  SELECT COALESCE(l.q_id, v.q_id) AS q_id,
      |    COALESCE(l.id, v.id) AS id,
      |    COALESCE(1000000000 // (l.lex_rank + 60), 0)
      |      + COALESCE(1000000000 // (v.vec_rank + 60), 0) AS rrf_u
      |  FROM lex l FULL OUTER JOIN vec v
      |    ON v.q_id = l.q_id AND v.id = l.id),
      |r AS (
      |  SELECT q_id, id, rrf_u,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY rrf_u DESC, id) AS BIGINT) AS rnk
      |  FROM fused)
      |SELECT q_id, id, rrf_u, rnk FROM r WHERE rnk <= 5
      |ORDER BY q_id, rnk""".stripMargin

  // -------------------------------------------------- bloom prefilter join

  /** Join with an explicit bloom prefilter on the probe side: build a
    * bloom filter over the (already filtered) dim keys, drop non-matching
    * fact rows BEFORE the join shuffle, then run the exact join. The
    * filter is one-sided-error, so post-join results are identical to the
    * plain join — the oracle is simply the unfiltered SQL.
    *
    * This is the manual form of runtime row-level filtering: at 100 TB a
    * selective dim predicate (here: one nation's customers) means most
    * fact rows shuffle only to be dropped by the join; the O(small-side)
    * bloom ships to every task and eliminates them at the scan. The
    * driver-side build collects ~1 bit-array, same cost class as a
    * broadcast. (Spark can inject this itself when
    * `spark.sql.optimizer.runtime.bloomFilter.enabled` fires; the explicit
    * operator covers plans/thresholds the injection rule skips.)
    *
    * The build and the probe are Spark's NATIVE bloom expressions
    * (BloomFilterAggregate / BloomFilterMightContain — the same pair the
    * runtime-filter rule injects), not a Scala UDF: might_contain
    * participates in whole-stage codegen, so the probe filter fuses into
    * the scan stage instead of breaking it at a black-box UDF call. */
  def bloomPrefilterJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    val cust = Star.table(spark, dir, "customer")
      .filter(col("c_nationkey") === 7)
      .select(col("c_custkey"), col("c_name"))
    // ~9.6M bits = the optimal sizing for 1M items at 1% fpp (any fpp is
    // correctness-neutral: the exact join drops false positives)
    val bfAgg = new BloomFilterAggregate(
      Bridge.expression(xxhash64(col("c_custkey"))),
      Literal(1000000L), Literal(9585059L)).toAggregateExpression()
    val bfBytes = cust.select(Bridge.column(bfAgg).as("bf"))
      .head.getAs[Array[Byte]](0)
    val mightContain = Bridge.column(BloomFilterMightContain(
      Literal(bfBytes), Bridge.expression(xxhash64(col("o_custkey")))))
    Star.table(spark, dir, "orders")
      .filter(mightContain)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(count(lit(1)).as("n_orders"),
        sum(Star.cents(col("o_totalprice"))).as("total_c"))
      .orderBy("c_custkey")
  }

  private val bloomPrefilterJoinSql =
    s"""SELECT c_custkey, c_name, COUNT(*) AS n_orders,
       |  CAST(SUM(${Star.Sql.cents("o_totalprice")}) AS BIGINT) AS total_c
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |WHERE c_nationkey = 7
       |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------- dataset split

  /** Deterministic 80/10/10 train/val/test split by multiplicative key
    * hash (same portable hash as the sampling family) — reproducible
    * across runs, engines, and cluster sizes, and pure map-side: each row
    * computes its own split with zero coordination. Emits per
    * (lang, split) counts plus min/max doc_id as membership witnesses. */
  def trainSplit(spark: SparkSession, dir: String): DataFrame =
    Star.table(spark, dir, "documents")
      .withColumn("bucket",
        (col("doc_id") * lit(2654435761L)) % lit(4294967296L) % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("lang", "split")

  private val trainSplitSql =
    """WITH b AS (
      |  SELECT lang, doc_id,
      |    (doc_id * 2654435761) % 4294967296 % 100 AS bucket
      |  FROM documents),
      |s AS (
      |  SELECT lang, doc_id,
      |    CASE WHEN bucket < 80 THEN 'train'
      |         WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      |  FROM b)
      |SELECT lang, split, COUNT(*) AS n_docs,
      |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |FROM s GROUP BY lang, split ORDER BY lang, split""".stripMargin

  // ------------------------------------------------- quality expectations

  /** Declarative data-contract checks, one row per rule:
    * (rule, n_checked, n_violations). Single-pass where the rule is
    * row-local (one aggregate over each table computes all its rules via
    * count_if); set-level rules (uniqueness, referential integrity) each
    * cost one key-grained aggregate/join. At 100 TB the row-local pass
    * piggybacks on any existing full scan; the RI check is a broadcast
    * anti-join when the parent side is dimensional. */
  def qualityExpectations(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    def cnt(c: org.apache.spark.sql.Column) =
      sum(when(c, 1L).otherwise(0L))
    val li = Star.table(spark, dir, "lineitem")
    val rowLocal = li.agg(
      count(lit(1)).as("n"),
      cnt(col("l_quantity").isNull || col("l_quantity") <= 0 ||
        col("l_quantity") > 50).as("v_qty"),
      cnt(col("l_discount") < 0 || col("l_discount") > 0.6).as("v_disc"),
      cnt(col("l_shipdate").isNull).as("v_ship"))
    val rowRules = rowLocal.select(explode(array(
      struct(lit("lineitem.quantity_in_(0,50]").as("rule"),
        col("n").as("n_checked"), col("v_qty").as("n_violations")),
      struct(lit("lineitem.discount_in_[0,0.6]").as("rule"),
        col("n").as("n_checked"), col("v_disc").as("n_violations")),
      struct(lit("lineitem.shipdate_not_null").as("rule"),
        col("n").as("n_checked"), col("v_ship").as("n_violations"))))
      .as("r")).select("r.*")
    val ordersT = Star.table(spark, dir, "orders")
    val custKeys = Star.table(spark, dir, "customer").select("c_custkey")
    val orphans = ordersT.join(broadcast(custKeys),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
    val nOrders = ordersT.agg(count(lit(1)).as("n_checked"))
    val ri = nOrders.crossJoin(orphans)
      .select(lit("orders.custkey_in_customer").as("rule"),
        col("n_checked"), col("n_violations"))
    val dupKeys = li.groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("m"))
    val uniq = dupKeys.agg(count(lit(1)).as("n_checked"),
        sum(when(col("m") > 1, col("m")).otherwise(0L)).as("n_violations"))
      .select(lit("lineitem.pk_unique").as("rule"),
        col("n_checked"), col("n_violations"))
    rowRules.unionByName(ri).unionByName(uniq).orderBy("rule")
  }

  private val qualityExpectationsSql =
    """WITH row_local AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(COUNT_IF(l_quantity IS NULL OR l_quantity <= 0
      |      OR l_quantity > 50) AS BIGINT) AS v_qty,
      |    CAST(COUNT_IF(l_discount < 0 OR l_discount > 0.6) AS BIGINT)
      |      AS v_disc,
      |    CAST(COUNT_IF(l_shipdate IS NULL) AS BIGINT) AS v_ship
      |  FROM lineitem),
      |row_rules AS (
      |  SELECT 'lineitem.quantity_in_(0,50]' AS rule, n AS n_checked,
      |    v_qty AS n_violations FROM row_local
      |  UNION ALL
      |  SELECT 'lineitem.discount_in_[0,0.6]', n, v_disc FROM row_local
      |  UNION ALL
      |  SELECT 'lineitem.shipdate_not_null', n, v_ship FROM row_local),
      |ri AS (
      |  SELECT 'orders.custkey_in_customer' AS rule,
      |    (SELECT COUNT(*) FROM orders) AS n_checked,
      |    (SELECT COUNT(*) FROM orders
      |     WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
      |      AS n_violations),
      |uniq AS (
      |  SELECT 'lineitem.pk_unique' AS rule, COUNT(*) AS n_checked,
      |    CAST(SUM(CASE WHEN m > 1 THEN m ELSE 0 END) AS BIGINT)
      |      AS n_violations
      |  FROM (SELECT COUNT(*) AS m FROM lineitem
      |        GROUP BY l_orderkey, l_linenumber) t)
      |SELECT rule, n_checked, n_violations FROM row_rules
      |UNION ALL SELECT * FROM ri
      |UNION ALL SELECT * FROM uniq
      |ORDER BY rule""".stripMargin

  // -------------------------------------------- test-set contamination

  /** Train→test contamination: the share of each TEST document's word
    * 3-gram shingles that also occur anywhere in the TRAIN split (the
    * standard decontamination measure before evaluation). Uses the same
    * multiplicative-hash split as [[trainSplit]] and the same shingle
    * formulation as the dedup family.
    *
    * Scale shape: the train shingle set is distinct-aggregated (map-side
    * combine shrinks it to unique shingles) and the test⋈train match is
    * ONE equi-shuffle on the shingle key — both sides arrive partitioned
    * by shingle, the natural high-cardinality key, so AQE can split any
    * hot boilerplate shingle. Spark joins on xxhash64(shingle) to ship
    * 8-byte keys instead of strings (collision odds ~n²/2⁶⁴ — the same
    * documented trade as the Jaccard pair join); the oracle joins on the
    * raw string. */
  /** Split-bucketed documents + their hashed-3-gram explode — the one
    * shingle formulation behind BOTH contamination forms (a drifting
    * copy would silently desynchronize the serve path from the in-query
    * form they share an oracle with). */
  private def contamDocs(spark: SparkSession, dir: String): DataFrame =
    Star.table(spark, dir, "documents")
      .withColumn("bucket",
        (col("doc_id") * lit(2654435761L)) % lit(4294967296L) % 100)

  /** The one shingle-array SQL expression behind every contamination
    * form (a drifting copy would desynchronize the serve path from the
    * in-query form they share an oracle with). */
  private val contamArrExpr =
    "array_distinct(transform(sequence(1, greatest(size(w) - 2, 1)), " +
      "i -> concat_ws(' ', try_element_at(w, i), try_element_at(w, i + 1), try_element_at(w, i + 2))))"

  // the explode stays INLINE in the select: a measured 5× regression
  // (1.14 → 5.49 s at sf0.1) follows from splitting it into
  // Project[array] + explode(column) — the inline generator keeps the
  // array construction fused into the generate stage
  private def contamShingled(spark: SparkSession, d: DataFrame): DataFrame =
    Star.fan(spark, d, "doc_id")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), explode(expr(contamArrExpr)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))

  /** Per-test-doc contamination score against `train`'s distinct shingle
    * set — the shared tail of both contamination forms. */
  private def contamScore(test: DataFrame, train: DataFrame): DataFrame =
    test
      .join(train.withColumn("hit", lit(1L)), Seq("h"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum("hit"), lit(0L)).as("n_contaminated"))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        Star.ratio6(col("n_contaminated"), col("n_shingles"))
          .as("contamination"))
      .orderBy("doc_id")

  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = contamDocs(spark, dir)
    contamScore(
      contamShingled(spark, docs.filter(col("bucket") >= 90)),
      contamShingled(spark, docs.filter(col("bucket") < 80))
        .select("h").distinct())
  }

  /** [[contamination]] split into BUILD and SERVE — decontamination as a
    * pipeline actually runs it: the benchmark (train-side) n-gram hash
    * set is persisted ONCE as a bucketed index (hash-keyed, so the probe
    * join co-locates on the index's bucketing), and each arriving shard
    * is shingled fresh and probed against it. Nothing re-shingles the
    * benchmark corpus per shard — the build cost amortizes across every
    * arrival, and at 1000 executors only the shard side shuffles.
    * Same train/test split and scoring as the in-query form → shared
    * oracle. */
  def contaminationServe(spark: SparkSession, dir: String): DataFrame =
    contaminationServeOf(spark, dir, col("bucket") >= 90, FamilyAdaptive)

  /** [[contaminationServe]] with FORCED arrival-routed family residency
    * (r14 verdict item 1): the serve routes the arriving shard's keys to
    * their family shards first and loads ONLY those side-files — at
    * harness scales the adaptive production serve ships the whole
    * (tiny) family, so this registration is what keeps the routed
    * machinery (touched-shard load, partial family, conservative
    * unloaded-shard fallback) under the driver's hash oracle at every
    * scale. Same oracle as the in-query contamination form. */
  def contaminationRouted(spark: SparkSession, dir: String): DataFrame =
    contaminationServeOf(spark, dir, col("bucket") >= 90, FamilyRouted)

  /** [[contaminationServe]] at DISTRIBUTED residency — the registered
    * face of the per-task shard-local probe (no merged family anywhere;
    * see [[FamilyDistributed]]). Same oracle as every serve form. */
  def contaminationDistributed(spark: SparkSession,
      dir: String): DataFrame =
    contaminationServeOf(spark, dir, col("bucket") >= 90,
      FamilyDistributed)

  /** Test seam: the distributed serve at a capped arrival, with the
    * per-task resident-bytes accumulator wired out. */
  private[graft] def contaminationDistributedFixedShard(
      spark: SparkSession, dir: String, cap: Long,
      residentAcc: Option[org.apache.spark.util.CollectionAccumulator[
        java.lang.Long]] = None): DataFrame =
    contaminationServeOf(spark, dir,
      col("bucket") >= 90 && col("doc_id") < cap, FamilyDistributed,
      residentAcc)

  /** Test seam (BASELINE fixed-shard campaign, r11 verdict item 5):
    * [[contaminationServe]] with the arriving eval shard TRUNCATED to
    * doc_id < cap — constant-size arrival at any corpus scale, isolating
    * the persisted-n-gram-index probe cost from the fixture's
    * 10 %-of-corpus shard. Index untouched. */
  private[graft] def contaminationServeFixedShard(
      spark: SparkSession, dir: String, cap: Long): DataFrame =
    contaminationServeOf(spark, dir,
      col("bucket") >= 90 && col("doc_id") < cap, FamilyWhole)

  /** The persisted benchmark n-gram index (bucketed on the shingle
    * hash) — one build shared by every contamination serve form. */
  private def contamIndex(spark: SparkSession, dir: String): DataFrame = {
    val docs = contamDocs(spark, dir)
    val nb = contamBucketsFor(spark, dir)
    graft.sources.IndexStore.cachedBucketTable(
      spark, dir, "documents", "bench_ngrams", nb, Seq("h"), Seq("h")) {
      contamShingled(spark, docs.filter(col("bucket") < 80))
        .select("h").distinct()
    }
  }

  /** The contamination index's bucketed snapshot + its sharded bloom
    * family, ALL shards loaded — the very family the serve uses. */
  private[graft] def contamIndexAndBloom(spark: SparkSession, dir: String)
      : (DataFrame, graft.functions.BloomFamily) = {
    val index = contamIndex(spark, dir)
    (index, graft.sources.IndexStore.bloomFamilyFor(
      spark, dir, "documents", "bench_ngrams", "h",
      contamBucketsFor(spark, dir))(index))
  }

  /** Family RESIDENCY of a contamination serve (r14 verdict item 1).
    * [[FamilyWhole]] loads every shard (the pre-r15 behavior — O(index)
    * bytes resident per JVM); [[FamilyRouted]] routes the arriving
    * batch's keys to their shards first and loads ONLY those (O(arrival)
    * residency; unloaded shards answer the conservative "might
    * contain"); [[FamilyAdaptive]] is the production setting — whole
    * while the family's footprint is under the 32 MB budget (skips the
    * routing pass at small corpus scales), routed past it (a serving
    * JVM's residency must not scale with index size). */
  private[graft] sealed trait FamilyResidency
  /** The residencies that load a family into the serving JVM
    * ([[contamBloom]]); [[FamilyDistributed]] never does. */
  private[graft] sealed trait LoadedResidency extends FamilyResidency
  private[graft] case object FamilyWhole extends LoadedResidency
  private[graft] case object FamilyRouted extends LoadedResidency
  private[graft] case object FamilyAdaptive extends LoadedResidency

  /** [[FamilyDistributed]] is the 1000-executor form (r14 verdict item
    * 1's endgame): NO merged family exists anywhere — the arriving
    * keys REPARTITION by their shard id and each task OR-merges and
    * probes only the shards its partition hosts, read straight from
    * the side-files. Per-task residency = hosted shards × one shard's
    * bytes (family_bytes / shards per task on average), so no JVM ever
    * holds O(index) bits — the property the touched-shard form cannot
    * give LARGE arrivals, whose keys hash into every shard (measured:
    * a 50-doc arrival already touches all 200 shards at ×1000). Price:
    * one extra shuffle of the arrival's 16-byte (doc_id, h) rows —
    * exactly the trade a 100 TB serve wants against shipping a
    * ~100 GB family to every executor. */
  private[graft] case object FamilyDistributed extends FamilyResidency

  /** The DISTINCT family shards an arriving key column touches:
    * `pmod(hash(h), shards)` IS `BloomFamily.shardOf` bit-for-bit
    * (Spark's `hash` on one BIGINT is `Murmur3_x86_32.hashLong(v, 42)`
    * — property-pinned in BloomOpsSpec), evaluated as one arrival-sized
    * pass whose result is ≤ shards ints. That pass is the price of
    * family residency dropping from O(index) to O(arrival). */
  private def touchedShards(test: DataFrame, shards: Int): Set[Int] =
    test.select(pmod(hash(col("h")), lit(shards)).as("s"))
      .distinct().collect().map(_.getInt(0)).toSet

  /** The serve family at the requested residency. */
  private def contamBloom(spark: SparkSession, dir: String,
      test: DataFrame, residency: LoadedResidency)
      : graft.functions.BloomFamily = {
    import graft.sources.IndexStore
    val nb = contamBucketsFor(spark, dir)
    def index = contamIndex(spark, dir)
    residency match {
      case FamilyWhole =>
        IndexStore.bloomFamilyFor(
          spark, dir, "documents", "bench_ngrams", "h", nb)(index)
      case FamilyRouted =>
        IndexStore.bloomFamilyForArrival(
          spark, dir, "documents", "bench_ngrams", "h", nb)(index)(
          touchedShards(test, _))
      case FamilyAdaptive =>
        IndexStore.bloomFamilyAdaptive(
          spark, dir, "documents", "bench_ngrams", "h", nb)(index)(
          touchedShards(test, _))
    }
  }

  /** Exact-membership serve THROUGH THE APPEND LANE — the contamination
    * twin of q_semantic_dedup_capped_append (r12): the benchmark n-gram
    * index arrives in two installments (a bucketed base over the
    * bucket < 70 docs' shingles, then the bucket 70-80 expansion as an
    * append-lane segment IN LOCKSTEP with its bloom side-file), and the
    * arriving shard probes base ∪ segment behind the MERGED family —
    * so the bloom companion's whole append machinery (per-segment
    * sides, spec-geometry deltas, the listing-guarded per-shard
    * OR-merge) is gated by the hash oracle, not only the lifecycle
    * specs. Hits count DISTINCT matched keys per doc: the lane's union
    * can carry a shingle on both sides (base and segment build their
    * distinct sets independently), and a join-multiplicity count would
    * double-bill exactly those — the distinct runs over matched
    * survivors only, shard-sized. Oracle: the in-query contamination
    * form verbatim (base ∪ segment ≡ the bucket < 80 train split). */
  def contaminationAppend(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexStore
    val docs = contamDocs(spark, dir)
    val nb = contamBucketsFor(spark, dir)
    val name = "bench_ngrams_a"
    val index = IndexStore.cachedBucketTable(
      spark, dir, "documents", name, nb, Seq("h"), Seq("h")) {
      contamShingled(spark, docs.filter(col("bucket") < 70))
        .select("h").distinct()
    }
    // base family first (segment sides must share its shard geometry),
    // then the lockstep pair, then the merged read
    IndexStore.bloomFamilyFor(spark, dir, "documents", name, "h", nb)(index)
    IndexStore.appendSegment(spark, dir, "documents", name, "b7080") {
      contamShingled(spark,
          docs.filter(col("bucket") >= 70 && col("bucket") < 80))
        .select("h").distinct()
    }
    IndexStore.appendBloomSegment(
      spark, dir, "documents", name, "b7080", "h") {
      contamShingled(spark,
          docs.filter(col("bucket") >= 70 && col("bucket") < 80))
        .select("h").distinct()
    }
    val lane = IndexStore.readAppends(spark, dir, "documents", name)
      .map(index.unionByName(_)).getOrElse(index)
    val shard = docs.filter(col("bucket") >= 90)
    val test = contamShingled(spark, shard)
    // serve-side family read at production (adaptive) residency: whole
    // under the footprint budget, arrival-routed past it — the merged
    // base∪segment family must never be O(index) resident per JVM
    val bloom = IndexStore.bloomFamilyAdaptive(
      spark, dir, "documents", name, "h", nb)(index)(
      touchedShards(test, _))
    val survivors = test.filter(
      graft.functions.BloomOps.familyMightContainLong(col("h"), bloom))
    val hits = survivors.join(lane, Seq("h"))
      .groupBy("doc_id")
      .agg(count_distinct(col("h")).as("n_contaminated"))
    contamAssemble(contamTotalsOf(spark, shard), hits)
  }

  /** ADAPTIVE small-arrival dispatch (r14 verdict item 2): the r14 A/B
    * measured the key-sorted secondary layout + pushed-IN point lookup
    * winning ~30 % at ×1000 for arrivals whose bloom-survivor set fits
    * a literal IN list, and losing below that (fixed overhead: second
    * layout resolve, survivors collect, two extra jobs). This serve
    * CHOOSES: (1) a cheap arrival gate — a shard over
    * [[Dispatch.ContamPointMaxDocs]] (default 2000) docs cannot fit the
    * IN bound, so it takes the bucketed join immediately with NO
    * survivor materialization (the production path's plan, unchanged);
    * (2) under the gate, the bloom survivors are pinned once
    * (localCheckpoint — the r14 double-billing lesson) and counted up
    * to `maxKeys` ([[Dispatch.ContamPointMaxKeys]]): within the bound
    * → point path (collected keys pushed as an IN filter over the
    * range-sorted secondary layout, built lazily on first dispatch);
    * over it → the exact bucketed join finishes on the SAME pinned
    * survivors. Row-identical on every branch (TrainingSpec pins all three);
    * deployment note: the IN list only reaches parquet row-group stats
    * past `spark.sql.parquet.pushdown.inFilterThreshold` (default 10 —
    * the measured win was taken at 200 000), but the filter itself is
    * exact either way, so the dispatch is correctness-neutral under any
    * conf. */
  private[graft] def contaminationAdaptiveOf(spark: SparkSession,
      dir: String, shardPred: Column,
      maxKeys: Int = Dispatch.ContamPointMaxKeys): DataFrame = {
    val docs = contamDocs(spark, dir)
    val shard = docs.filter(shardPred)
    val maxDocs = Dispatch.ContamPointMaxDocs(spark)
    // the gate asks "more than maxDocs?", not "how many?" — limit+count
    // stops the scan at the bound (CollectLimit reads splits until it
    // has maxDocs+1 rows), so the gate costs O(maxDocs) at any corpus
    // size instead of the full-count's corpus-column scan (~0.4 s of
    // pure gate tax measured at ×1000)
    if (shard.limit(maxDocs.toInt + 1).count() > maxDocs)
      contaminationServeOf(spark, dir, shardPred, FamilyAdaptive)
    else {
      val index = contamIndex(spark, dir)
      val test = contamShingled(spark, shard)
      val bloom = contamBloom(spark, dir, test, FamilyAdaptive)
      val survivors = test.filter(
        graft.functions.BloomOps.familyMightContainLong(col("h"), bloom))
        .transform(Star.pin)
      val keys = survivors.select("h").distinct()
        .limit(maxKeys + 1).collect().map(_.getLong(0)).toSeq
      val hits =
        if (keys.size > maxKeys)
          survivors.join(index, Seq("h"))
            .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
        else {
          val nb = contamBucketsFor(spark, dir)
          val sorted = graft.sources.IndexStore.cachedTable(
            spark, dir, "documents", "bench_ngrams_srt") {
            index.repartitionByRange(nb, col("h")).sortWithinPartitions("h")
          }
          val inList =
            if (keys.isEmpty) lit(false) else col("h").isInCollection(keys)
          val matched = sorted.filter(inList).select("h").distinct()
          survivors.join(broadcast(matched), Seq("h"))
            .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
        }
      contamAssemble(contamTotalsOf(spark, shard), hits)
    }
  }

  /** Registered face of the adaptive dispatch: a genuinely SMALL
    * arrival (the bucket ≥ 90 shard truncated to doc_id < 120), so the
    * point path — survivors pin, keys collect, IN-pushed probe of the
    * range-sorted secondary layout — runs under the driver's hash
    * oracle at every scale. The big-arrival branch is the production
    * serve's plan verbatim; PlanSpec asserts the switch both ways. */
  def contaminationPoint(spark: SparkSession, dir: String): DataFrame =
    contaminationAdaptiveOf(spark, dir,
      col("bucket") >= 90 && col("doc_id") < 120)

  /** Test seam: the adaptive dispatch at a capped arrival (the A/B's
    * small-arrival shape), checked row for row against the join form. */
  private[graft] def contaminationAdaptiveFixedShard(
      spark: SparkSession, dir: String, cap: Long): DataFrame =
    contaminationAdaptiveOf(spark, dir,
      col("bucket") >= 90 && col("doc_id") < cap)

  /** Per-doc shingle totals of an arriving shard, MAP-SIDE as the
    * shingle array's size — no explode, no count shuffle (doc_id is
    * unique in documents). Shared by every serve form so the totals
    * derivation cannot drift between the A/B pair. This is a second
    * tokenize pass over the shard, deliberately: branching one shingled
    * lineage into totals + hits would re-evaluate it twice anyway
    * (Catalyst does not CSE across plan branches), and the un-exploded
    * size() pass is the cheaper of the two evaluations. */
  private def contamTotalsOf(spark: SparkSession,
      shard: DataFrame): DataFrame =
    Star.fan(spark, shard, "doc_id")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"),
        size(expr(contamArrExpr)).cast("long").as("n_shingles"))

  /** Final score assembly shared by every serve form: totals LEFT JOIN
    * per-doc hit counts → contamination ratio, ordered. */
  private def contamAssemble(totals: DataFrame,
      hits: DataFrame): DataFrame =
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        Star.ratio6(coalesce(col("n_contaminated"), lit(0L)),
          col("n_shingles")).as("contamination"))
      .orderBy("doc_id")

  /** Per-task shard-local bloom prefilter — the [[FamilyDistributed]]
    * body. The arrival repartitions by `pmod(hash(h), shards)` (the
    * family's own routing), then each task lazily OR-merges just the
    * shards its partition hosts from their side-files and filters.
    * One-sided error unchanged (a shard with no files passes rows
    * through). `residentAcc`, when given, collects each task's
    * deserialized bloom bytes — the probe's residency evidence. */
  private[graft] def distributedBloomFilter(spark: SparkSession,
      test: DataFrame, sm: graft.sources.IndexStore.BloomShardMap,
      residentAcc: Option[org.apache.spark.util.CollectionAccumulator[
        java.lang.Long]] = None): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(sm)
    test.repartition(sm.shards, pmod(hash(col("h")), lit(sm.shards)))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val m = bc.value
        val loaded = scala.collection.mutable.HashMap[
          Int, org.apache.spark.util.sketch.BloomFilter]()
        var bytes = 0L
        var reported = false
        val filtered = it.filter { case (_, h) =>
          val s = graft.functions.BloomFamily.shardOf(h, m.shards)
          val bf = loaded.getOrElseUpdate(s, {
            val merged = m.loadShard(s)
            // resident bytes from the filter's own geometry (bitSize/8)
            // — serializing the merged shard just to measure it copied
            // up to 32 MB per shard per task on the registered serve's
            // hot path (r15 review)
            if (merged != null) bytes += merged.bitSize() / 8
            merged
          })
          bf == null || bf.mightContainLong(h)
        }
        // report this task's resident bytes once the partition drains
        new Iterator[(Long, Long)] {
          override def hasNext: Boolean = {
            val h = filtered.hasNext
            if (!h && !reported) {
              reported = true
              residentAcc.foreach(_.add(java.lang.Long.valueOf(bytes)))
            }
            h
          }
          override def next(): (Long, Long) = filtered.next()
        }
      }
      .toDF("doc_id", "h")
  }

  /** The serve chain body: persisted bucketed n-gram index + its BLOOM
    * SIDE-FILE (r12 verdict item 2 — the one serve chain that was
    * honestly linear in index size per arrival). The shard's shingles
    * are prefiltered through the snapshot's bloom BEFORE any join, so
    * the join input is ≈ the shard's true hits + the bloom's 1 % false
    * positives instead of every shingle of every arriving document;
    * the join itself stays EXACT (inner, on the index's bucketed key),
    * so bloom fpp is correctness-neutral and the DuckDB oracle is
    * unchanged. Per-doc totals are map-side (a group-by of the shard
    * alone) — they never needed the index. Join strategy is the
    * planner's: survivors are usually broadcast-small, but a massive
    * arrival batch falls back to the bucket-co-located shuffle join. */
  private def contaminationServeOf(spark: SparkSession, dir: String,
      shardPred: Column, residency: FamilyResidency,
      residentAcc: Option[org.apache.spark.util.CollectionAccumulator[
        java.lang.Long]] = None): DataFrame = {
    val docs = contamDocs(spark, dir)
    // family sharded by the index's own bucket count: per-shard geometry
    // scales with the corpus (r13 verdict item 1 — a single bloom's
    // 2^28-bit cap saturated to ~59 % fpp at the ×1000 probe's 240 M
    // keys; sharded, each of the nb shards sizes for its ~1/nb slice),
    // loaded at the requested residency (whole / arrival-routed /
    // footprint-adaptive / per-task distributed — r14 verdict item 1)
    val index = contamIndex(spark, dir)
    val shard = docs.filter(shardPred)
    val test = contamShingled(spark, shard)
    val survivors = residency match {
      case FamilyDistributed =>
        val sm = graft.sources.IndexStore.bloomShardFileMap(
          spark, dir, "documents", "bench_ngrams", "h",
          contamBucketsFor(spark, dir))(index)
        distributedBloomFilter(spark, test, sm, residentAcc)
      case r: LoadedResidency =>
        // custom expression, not BloomFilterMightContain(Literal(bloom), _):
        // a corpus-scaled bloom inside a Literal makes Catalyst hash/compare
        // the full bit array on every canonicalization during optimization —
        // a ~4 s per-serve plateau once the ×100 corpus hit the 32 MB cap
        // (probe numbers in BASELINE.md). The family compares by reference.
        test.filter(graft.functions.BloomOps.familyMightContainLong(
          col("h"), contamBloom(spark, dir, test, r)))
    }
    val hits = survivors.join(index, Seq("h"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
    contamAssemble(contamTotalsOf(spark, shard), hits)
  }

  /** bench_ngrams snapshot BUCKET COUNT, corpus-size-driven (the
    * semanticBucketsFor doctrine): a bucketed-snapshot join runs at
    * bucket-count parallelism, so a fixed 8 is the ceiling the ×1000
    * contamination probe hit. One bucket per ~25 k documents, clamped
    * [8, 256]: harness scales stay at 8 (layouts unchanged), the
    * 5 M-doc probe corpus gets 200. An EXISTING snapshot keeps the
    * width in its _META — only fresh corpora adopt the sizing. */
  private def contamBucketsFor(spark: SparkSession, dir: String): Int =
    graft.sources.IndexStore.bucketsFor(
      graft.sources.IndexStore.memoizedTableCount(spark, dir, "documents"),
      rowsPerBucket = 25000L)

  /** The contamination oracle, with an optional extra predicate on the
    * TEST shard (e.g. the point-path registration's doc_id cap) — the
    * train split and scoring are shared verbatim across every serve
    * form. */
  private def contaminationSqlOf(testExtra: String): String =
    s"""WITH b AS (
       |  SELECT doc_id, text,
       |    (doc_id * 2654435761) % 4294967296 % 100 AS bucket
       |  FROM documents),
       |words AS (
       |  SELECT doc_id, bucket,
       |    regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM b),
       |sh AS (
       |  SELECT doc_id, bucket, unnest(list_distinct(list_transform(
       |    range(greatest(len(w) - 2, 1)),
       |    i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])))) AS s
       |  FROM words),
       |train_set AS (SELECT DISTINCT s FROM sh WHERE bucket < 80),
       |test_sh AS (
       |  SELECT doc_id, s FROM sh WHERE bucket >= 90 $testExtra)
       |SELECT t.doc_id, COUNT(*) AS n_shingles,
       |  CAST(COALESCE(SUM(CASE WHEN tr.s IS NOT NULL THEN 1 END), 0)
       |    AS BIGINT) AS n_contaminated,
       |  ${Star.Sql.ratio6(
                 "COALESCE(SUM(CASE WHEN tr.s IS NOT NULL THEN 1 END), 0)",
                 "COUNT(*)")} AS contamination
       |FROM test_sh t LEFT JOIN train_set tr ON t.s = tr.s
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  private val contaminationSql = contaminationSqlOf("")

  // ------------------------------------------- unigram-model likelihood

  /** Corpus-model quality score: a unigram frequency model is fit on the
    * TRAIN split and every TEST document is scored by its exact average
    * token probability (sum of model counts over token positions /
    * (n_tokens × model_total)), with the OOV token count alongside — the
    * integer-rational stand-in for the usual LM-perplexity filter (logs
    * are not bit-portable across engines; ranking is preserved for the
    * filtering use case).
    *
    * Scale shape: the fitted vocabulary is orders of magnitude smaller
    * than the corpus (≈1M rows at web scale) → broadcast to the scoring
    * pass, which stays map-side; the only shuffles are the model fit's
    * token count (map-side combined) and the per-doc aggregate on
    * doc_id. */
  def unigramLikelihood(spark: SparkSession, dir: String): DataFrame = {
    val docs = Star.table(spark, dir, "documents")
      .withColumn("bucket",
        (col("doc_id") * lit(2654435761L)) % lit(4294967296L) % 100)
    def tokens(d: DataFrame): DataFrame =
      Star.fan(spark, d, "doc_id")
        .select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("t"))
    val model = tokens(docs.filter(col("bucket") < 80))
      .groupBy("t").agg(count(lit(1)).as("cnt"))
    val total = model.agg(sum("cnt").as("model_total"))
    tokens(docs.filter(col("bucket") >= 90))
      .join(broadcast(model), Seq("t"), "left_outer")
      .crossJoin(broadcast(total))
      .groupBy("doc_id", "model_total")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("n_oov"),
        coalesce(sum("cnt"), lit(0L)).as("mass"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        Star.ratio6(col("mass"), col("n_tokens") * col("model_total"))
          .as("avg_p"))
      .orderBy("doc_id")
  }

  /** Shared WITH-block: fit the 80% unigram model, score the held-out
    * >=90% bucket into `scored(doc_id, n_tokens, n_oov, avg_p)`.
    * Already margin-stripped — consumers CONCATENATE (never re-embed in
    * an outer stripMargin template; see the `||` gotcha in NOTES.md). */
  private val unigramScoredCtes =
    s"""WITH b AS (
       |  SELECT doc_id, text,
       |    (doc_id * 2654435761) % 4294967296 % 100 AS bucket
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, bucket,
       |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
       |  FROM b),
       |model AS (
       |  SELECT t, COUNT(*) AS cnt FROM toks WHERE bucket < 80 GROUP BY t),
       |total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS model_total FROM model),
       |scored AS (
       |  SELECT doc_id, COUNT(*) AS n_tokens,
       |    CAST(SUM(CASE WHEN m.cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_oov,
       |    ${Star.Sql.ratio6("COALESCE(SUM(m.cnt), 0)",
                   "COUNT(*) * ANY_VALUE(model_total)")} AS avg_p
       |  FROM toks k LEFT JOIN model m USING (t) CROSS JOIN total
       |  WHERE bucket >= 90
       |  GROUP BY doc_id)""".stripMargin

  private val unigramLikelihoodSql = unigramScoredCtes + "\n" +
    "SELECT doc_id, n_tokens, n_oov, avg_p FROM scored ORDER BY doc_id"

  /** CCNet-style perplexity bucketing: score the held-out corpus with
    * the unigram LM and cut it into head/middle/tail TERTILES by model
    * likelihood (bucket 0 = most in-distribution third). CCNet keeps
    * head+middle and drops (or down-weights) the tail; this query emits
    * the bucket summary a curation pass would act on.
    *
    * Scale shape: the tertile cut needs a GLOBAL rank over the scored
    * docs — computed with the range-partitioned sort + zipWithIndex
    * idiom (parallel at any scale; the single-task
    * `Window.orderBy`-over-everything shape is exactly what round 4
    * flagged, and only the DuckDB ORACLE uses ROW_NUMBER). The doc
    * count joins in as a broadcast scalar; bucket membership is then
    * map-side integer math `(rank * 3) div n`. */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val scored = unigramLikelihood(spark, dir)
      .select("doc_id", "n_tokens", "avg_p")
    // shared zipWithIndex global-rank helper (see Star.globalRank; the
    // checkpointed offset+position variant measured worse and was NOT
    // adopted — r16 item 13)
    val ranked = Star.globalRank(spark, scored, "rk",
      col("avg_p").desc, col("doc_id"))
    val total = ranked.agg(count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"), col("avg_p"),
        Star.idiv(col("rk") * 3, col("n")).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), min("avg_p").as("min_p"),
        max("avg_p").as("max_p"), sum("n_tokens").as("sum_tokens"))
      .orderBy("bucket")
  }

  private val perplexityBucketsSql = unigramScoredCtes + "," + "\n" +
    s"""r AS (
       |  SELECT doc_id, n_tokens, avg_p,
       |    ROW_NUMBER() OVER (ORDER BY avg_p DESC, doc_id) - 1 AS rk
       |  FROM scored),
       |n AS (SELECT COUNT(*) AS n FROM scored)
       |SELECT (rk * 3) // n AS bucket, COUNT(*) AS n_docs,
       |  MIN(avg_p) AS min_p, MAX(avg_p) AS max_p,
       |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
       |FROM r CROSS JOIN n
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------- BPE merge training

  /** Two rounds of the BPE tokenizer-training inner loop, end to end on
    * the engine: character-symbolize the (frequency-weighted) vocabulary,
    * count adjacent symbol pairs, pick the most frequent pair
    * (count-desc, pair-asc tiebreak — fully deterministic), apply the
    * merge left-to-right non-overlapping, repeat on the merged symbols.
    * Output: one row per round with the learned merge rule, its weighted
    * count, and the corpus symbol count after applying it.
    *
    * The merge application is a higher-order array fold in Spark
    * (`aggregate` over the symbol array — codegen-friendly, no UDF) and
    * a recursive-CTE fixpoint replace in DuckDB; both compute the same
    * left-to-right non-overlapping merge, so results hash-match.
    *
    * Scale shape: training runs on the AGGREGATED vocabulary (word,
    * freq) — the one corpus-scale pass is the word count; every merge
    * round then touches |vocab| rows, not |corpus|. The top-pair
    * selection is a 1-row aggregate broadcast back into the merge map.
    * This is exactly how production BPE trainers stay tractable. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Star.fan(spark, Star.table(spark, dir, "documents"), "doc_id")
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    val seq0 = vocab.select(
      trim(regexp_replace(col("w"), "(.)", "$1 ")).as("s"), col("freq"))

    def topPair(seqs: DataFrame): DataFrame = seqs
      .select(col("freq"), split(col("s"), " ").as("a"))
      .select(col("freq"), explode(expr(
        "transform(sequence(1, greatest(size(a) - 1, 1)), " +
          "i -> concat(element_at(a, i), ' ', try_element_at(a, i + 1)))"))
        .as("p"))
      .filter(col("p").isNotNull)
      .groupBy("p").agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("p")).limit(1)
      .select(col("p"), col("cnt"),
        split(col("p"), " ").getItem(0).as("pa"),
        split(col("p"), " ").getItem(1).as("pb"))

    def applyMerge(seqs: DataFrame, top: DataFrame): DataFrame = seqs
      .crossJoin(broadcast(top))
      .select(array_join(expr(
        "aggregate(split(s, ' '), array_repeat('', 0), (acc, x) -> " +
          "if(size(acc) > 0 and element_at(acc, -1) = pa and x = pb, " +
          "concat(slice(acc, 1, size(acc) - 1), array(concat(pa, pb))), " +
          "concat(acc, array(x))))"), " ").as("s"), col("freq"))

    def nSym(seqs: DataFrame): DataFrame = seqs
      .agg(sum(col("freq") * size(split(col("s"), " ")))
        .as("n_symbols_after"))

    val t1 = topPair(seq0)
    val m1 = applyMerge(seq0, t1)
    val t2 = topPair(m1)
    val m2 = applyMerge(m1, t2)
    val r1 = t1.select(lit(1).as("merge_round"), col("p").as("pair"),
      col("cnt").as("pair_count")).crossJoin(broadcast(nSym(m1)))
    val r2 = t2.select(lit(2).as("merge_round"), col("p").as("pair"),
      col("cnt").as("pair_count")).crossJoin(broadcast(nSym(m2)))
    r1.unionByName(r2).orderBy("merge_round")
  }

  private val bpeMergesSql = {
    def round(i: Int, src: String): String =
      s"""pairs$i AS (
         |  SELECT p, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(
         |      range(1, greatest(len(a), 2)), i -> a[i] || ' ' || a[i+1]))
         |      AS p
         |    FROM (SELECT regexp_split_to_array(s, ' ') AS a, freq
         |          FROM $src))
         |  WHERE p IS NOT NULL GROUP BY p),
         |top$i AS (
         |  SELECT p, cnt, replace(p, ' ', '') AS m FROM pairs$i
         |  ORDER BY cnt DESC, p LIMIT 1),
         |rec$i AS (
         |  -- leftmost SINGLE-occurrence splice per step, not a global
         |  -- replace: global replace consumes the shared ' ' delimiter
         |  -- between consecutive self-pair occurrences (pa = pb over a
         |  -- run of >= 5 identical symbols), skipping merges the greedy
         |  -- left-to-right fold performs. Splicing only the first
         |  -- occurrence and re-scanning is exactly the greedy pass: a
         |  -- merged token can never equal pa or pb (it is strictly
         |  -- longer), so no earlier match is ever created.
         |  SELECT ' ' || s || ' ' AS s, freq FROM $src
         |  UNION ALL
         |  SELECT substr(s, 1,
         |           position((' ' || (SELECT p FROM top$i) || ' ') IN s) - 1) ||
         |         ' ' || (SELECT m FROM top$i) || ' ' ||
         |         substr(s,
         |           position((' ' || (SELECT p FROM top$i) || ' ') IN s)
         |           + length(' ' || (SELECT p FROM top$i) || ' ')), freq
         |  FROM rec$i
         |  WHERE position((' ' || (SELECT p FROM top$i) || ' ') IN s) > 0),
         |m$i AS (
         |  SELECT trim(s) AS s, freq FROM rec$i
         |  WHERE position((' ' || (SELECT p FROM top$i) || ' ') IN s) = 0)""".stripMargin
    s"""WITH RECURSIVE words AS (
       |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |  FROM documents),
       |vocab AS (SELECT w, COUNT(*) AS freq FROM words GROUP BY w),
       |seq0 AS (
       |  SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s, freq
       |  FROM vocab),
       |${round(1, "seq0")},
       |${round(2, "m1")}
       |SELECT 1 AS merge_round, (SELECT p FROM top1) AS pair,
       |  (SELECT cnt FROM top1) AS pair_count,
       |  (SELECT CAST(SUM(freq * len(regexp_split_to_array(s, ' ')))
       |     AS BIGINT) FROM m1) AS n_symbols_after
       |UNION ALL
       |SELECT 2, (SELECT p FROM top2), (SELECT cnt FROM top2),
       |  (SELECT CAST(SUM(freq * len(regexp_split_to_array(s, ' ')))
       |     AS BIGINT) FROM m2)
       |ORDER BY merge_round""".stripMargin
  }

  // ---------------------------------------------- domain mixture resample

  /** Domain-mixture resampling: given per-source target weights
    * (w(srcN) = N+1 here) and a 40% corpus budget, compute each domain's
    * target allocation floor(budget × w / Σw) and draw exactly
    * min(target, available) documents per domain by deterministic hash
    * order — the mixture-rebalancing step of a training-data pipeline.
    * One row per source: available, target, drawn.
    *
    * Scale shape: domain stats and the weight total are dimension-sized
    * (broadcast); the draw is a per-domain top-k by hash — rank within
    * source partitions, no global sort. The multiplicative hash makes
    * the draw reproducible across engines and runs (no RNG). */
  def domainMixture(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Star.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        ((col("doc_id") * lit(2654435761L)) % lit(4294967296L)).as("h"),
        (regexp_extract(col("source"), "(\\d+)", 1).cast("long") + 1L)
          .as("w"))
    val budget = docs.agg((count(lit(1)) * 2L / 5L).cast("long").as("budget"))
    val weights = docs.select("source", "w").distinct()
      .agg(sum("w").as("sum_w"))
    val ranked = docs
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("h"), col("doc_id"))))
      .crossJoin(broadcast(budget)).crossJoin(broadcast(weights))
      .withColumn("n_target",
        Star.idiv(col("budget") * col("w"), col("sum_w")))
    ranked.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        max("n_target").as("n_target"),
        sum(when(col("rk") <= col("n_target"), 1L).otherwise(0L))
          .as("n_drawn"))
      .orderBy("source")
  }

  private val domainMixtureSql =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    (doc_id * 2654435761) % 4294967296 AS h,
       |    CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT) + 1 AS w
       |  FROM documents),
       |budget AS (SELECT COUNT(*) * 2 // 5 AS budget FROM d),
       |weights AS (SELECT CAST(SUM(w) AS BIGINT) AS sum_w
       |            FROM (SELECT DISTINCT source, w FROM d)),
       |ranked AS (
       |  SELECT source, w,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk,
       |    ${Star.Sql.idiv("budget * w", "sum_w")} AS n_target
       |  FROM d CROSS JOIN budget CROSS JOIN weights)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(MAX(n_target) AS BIGINT) AS n_target,
       |  CAST(SUM(CASE WHEN rk <= n_target THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_drawn
       |FROM ranked GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------ shuffle + shard

  /** Deterministic global shuffle into training shards — the export step
    * between curation and tokenization: every doc gets a pseudo-random
    * but REPRODUCIBLE sort key (the portable two-squaring integer mix,
    * same family as the LSH planes — affine-only rounds would leave a
    * lattice), a shard = key % S, and an intra-shard position.
    * Downstream trainers read shard files in position order and see a
    * stable global permutation: re-runs, engine swaps, and backfills
    * produce identical shards, which is what makes data-order
    * reproducible across training jobs.
    *
    * Scale shape: ONE hash exchange keyed on shard; the row_number
    * window is partitioned by shard (S is sized >> executor count at
    * 100 TB, so never single-task), and that partitioning is exactly
    * the layout the shard write needs (partitionBy(shard), sorted
    * within). Hash-oracled: DuckDB derives the identical mix, shards,
    * and positions. */
  def shuffleShard(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m1 = (col("doc_id") * lit(2048144789L) + lit(12345L)) %
      lit(1000000007L)
    val m2 = (m1 * m1) % lit(1000000007L)
    val m3 = (m2 * lit(69069L) + col("doc_id")) % lit(999999937L)
    val m4 = (m3 * m3) % lit(999999937L)
    val keyed = Star.table(spark, dir, "documents")
      .select(col("doc_id"), m4.as("k"), (m4 % lit(16L)).as("shard"))
    keyed
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("k"), col("doc_id")))
        .cast("long"))
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos")
  }

  private val shuffleShardSql =
    """WITH keyed AS (
      |  SELECT doc_id,
      |    (doc_id * 2048144789 + 12345) % 1000000007 AS m1,
      |    (m1 * m1) % 1000000007 AS m2,
      |    (m2 * 69069 + doc_id) % 999999937 AS m3,
      |    (m3 * m3) % 999999937 AS k,
      |    ((m3 * m3) % 999999937) % 16 AS shard
      |  FROM documents)
      |SELECT doc_id, shard,
      |  CAST(ROW_NUMBER() OVER (
      |    PARTITION BY shard ORDER BY k, doc_id) AS BIGINT) AS pos
      |FROM keyed ORDER BY shard, pos""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_shuffle_shard", shuffleShard, Some(shuffleShardSql)),
    QueryDef("q_chunk_overlap", chunkOverlap, Some(chunkOverlapSql)),
    QueryDef("q_bm25_topk", bm25Topk, Some(bm25TopkSql)),
    QueryDef("q_hybrid_rrf", hybridRrf, Some(hybridRrfSql)),
    QueryDef("q_bloom_prefilter_join", bloomPrefilterJoin,
      Some(bloomPrefilterJoinSql)),
    QueryDef("q_train_split", trainSplit, Some(trainSplitSql)),
    QueryDef("q_quality_expectations", qualityExpectations,
      Some(qualityExpectationsSql)),
    QueryDef("q_contamination", contamination, Some(contaminationSql)),
    // serve path against the persisted benchmark n-gram index — same
    // split/scoring, index build amortized → shared oracle
    QueryDef("q_contamination_serve", contaminationServe,
      Some(contaminationSql)),
    // FORCED arrival-routed family residency (touched-shard load +
    // partial family + conservative fallback) under the hash oracle —
    // the production serve's adaptive residency only routes past the
    // footprint budget, which harness scales never reach
    QueryDef("q_contamination_routed", contaminationRouted,
      Some(contaminationSql)),
    // per-task shard-local probe (no merged family anywhere — the
    // 1000-executor residency form) under the hash oracle
    QueryDef("q_contamination_distributed", contaminationDistributed,
      Some(contaminationSql)),
    // adaptive small-arrival dispatch: point path (pinned survivors →
    // IN-pushed probe of the range-sorted secondary layout) under the
    // oracle; the big-arrival branch is q_contamination_serve's plan
    QueryDef("q_contamination_point", contaminationPoint,
      Some(contaminationSqlOf("AND doc_id < 120"))),
    // serve through the append lane: base ∪ segment behind the MERGED
    // bloom family — the bloom companion's append machinery under the
    // hash oracle (base∪segment ≡ the same bucket<80 train split)
    QueryDef("q_contamination_append", contaminationAppend,
      Some(contaminationSql)),
    QueryDef("q_unigram_likelihood", unigramLikelihood,
      Some(unigramLikelihoodSql)),
    QueryDef("q_perplexity_buckets", perplexityBuckets,
      Some(perplexityBucketsSql)),
    QueryDef("q_domain_mixture", domainMixture, Some(domainMixtureSql)),
    QueryDef("q_bpe_merges", bpeMerges, Some(bpeMergesSql)),
  )
}
