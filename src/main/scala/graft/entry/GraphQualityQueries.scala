package graft.entry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.graph.PageRank
import graft.ingest.Normalize
import graft.multimodal.Media
import graft.ops.{Ordered, Profile, Reshape, Scalar}
import graft.sim.Similarity
import graft.sources.{LocalFs, Tables}
import graft.text.{Dedup, TextOps}

import graft.entry.EntryHelpers._

/** Quality gates (lang/length filter, filter cascade, drift PSI,
  * BM25, MAD outliers), robust statistics (equidepth, weighted
  * median), schema evolution, budget allocation, co-purchase and the
  * graph family (triangles, PageRank, BFS, cheapest path).
  *
  * One `queries` entry per operator (driver contract) with its DuckDB
  * `oracleSql` twin; split out of the monolithic SparkEntry (round-5
  * verdict ask #8), zero behavior change.
  */
private[graft] object GraphQualityQueries {

  /** X3 per-language adaptive length filter — multilingual pipelines
    * cannot use one absolute length cutoff (scripts differ in chars per
    * token), so each language's floor is ITS OWN p10: one exact-
    * percentile aggregate per group (language-count-sized result,
    * broadcast back), then a map-side filter over the scan. The pattern
    * generalizes to any per-group adaptive threshold.
    */
  private def qLangLengthFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val th = docs.groupBy("lang").agg(expr("percentile(n_chars, 0.10)").as("p10"))
    docs.join(broadcast(th), "lang")
      .filter(col("n_chars") >= col("p10"))
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** J1+ TPC-H Q5-shaped star-schema DAG through `spark.sql`: six
    * relations, a region filter that prunes through TWO dimension hops,
    * a one-year date slice on the fact table, local-supplier revenue
    * (c_nationkey = s_nationkey) per nation. The dimension chain
    * (region→nation→supplier/customer) broadcasts end-to-end; the only
    * shuffles are the fact-side equi-joins and the final tiny aggregate.
    * Revenue uses the operand-cast decimal convention (see
    * qSqlTopOrders for the 18,6-vs-19,6 asymmetry note).
    */
  private def qSqlRegionRevenue(s: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
      .foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))
    s.sql(
      """SELECT n.n_name,
        |  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
        |           * CAST(1 - l.l_discount AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |             AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n.n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)
  }

  /** A1+ event-transition matrix (first-order Markov counts): consecutive
    * event-type pairs per user via ONE user-partitioned lead() window —
    * the per-entity sort scales out by user key, never a global sort —
    * then a map-side-combinable count over the 5×5 transition space.
    * (ts, event_id) is a unique order key, so both engines sequence ties
    * identically. The session-modeling shape of product analytics.
    */
  private def qTransitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, dir).select("user_id", "event_id", "ts", "event_type")
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  /** A2+ distribution-drift scan — the training-data health check that
    * catches a source whose event mix shifted between ingestion windows:
    * PSI (population stability index) of the event-type distribution,
    * first half vs second half of the stream by event time. Corpus-scale
    * work is one min/max aggregate (1 row, broadcast back) and one
    * map-side-combinable per-type conditional count — a single shuffle
    * on event_type; the share/log arithmetic runs on the
    * vocabulary-sized table. The 1e-6 floor is the standard PSI guard
    * for a type absent from one window; shares divide long counts as
    * IEEE doubles identically in both engines, rounded to 6dp.
    */
  private def qDriftPsi(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
    val piv = ev.agg(expr("(min(us) + max(us)) div 2").as("pv"))
    val byType = ev.crossJoin(broadcast(piv))
      .groupBy("event_type")
      .agg(
        sum(when(col("us") <= col("pv"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("us") > col("pv"), 1L).otherwise(0L)).as("n2"))
    val tot = byType.agg(sum("n1").as("t1"), sum("n2").as("t2"))
    val p = greatest(col("n1") / col("t1"), lit(1e-6))
    val q = greatest(col("n2") / col("t2"), lit(1e-6))
    byType.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n1"), col("n2"),
        round((p - q) * log(p / q), 6).as("psi"))
      .orderBy("event_type")
  }

  /** X3 BM25 lexical relevance — Robertson/Sparck-Jones scoring of every
    * doc against a fixed query-term set, shaped so NOTHING scales with the
    * corpus except map work: per-doc term frequencies come straight off the
    * token array (tf = dl − |array_remove(toks, t)|, codegen'd — no
    * explode, no (doc, term) shuffle), the corpus statistics (N, Σdl,
    * per-term df) are ONE combinable aggregate broadcast back as a single
    * row, and the top-20 is a bounded-heap TakeOrderedAndProject. The lone
    * exchange is the 1-row stats agg. Integer tf/dl/df feed a closed-form
    * double score with identical op order on both engines; ln() crosses
    * libm, so scores round at 6dp BEFORE ranking, doc_id breaking ties.
    * k1 = 1.2, b = 0.75 (the standard defaults); constants are written as
    * decimal literals on both sides so each engine parses the same double
    * (1.2 + 1.0 in binary is NOT the literal 2.2).
    */
  /** Both text rankers' scores off ONE tf pass: BM25 (rounded at 6) and
    * query-term density (Σ tf / dl, rounded at 9) for the fixed query
    * {hash, vector, window} — shared by q_bm25 and q_rrf_fusion.
    */
  private def bm25QlScores(s: SparkSession, dir: String): DataFrame = {
    val qTerms = Seq("hash", "vector", "window")
    val d = Tables.table(s, dir, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")))
    val tf = qTerms.foldLeft(d) { (acc, t) =>
      acc.withColumn(s"tf_$t", col("dl") - size(array_remove(col("toks"), t)))
    }.drop("toks")
    val statAggs = Seq(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")) ++
      qTerms.map(t => sum((col(s"tf_$t") > 0).cast("long")).cast("double").as(s"df_$t"))
    val stats = tf.agg(statAggs.head, statAggs.tail: _*)
    val score = qTerms.map { t =>
      val tfc = col(s"tf_$t")
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$t") + lit(0.5)) / (col(s"df_$t") + lit(0.5)))
      idf * (tfc * lit(2.2)) /
        (tfc + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    tf.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 6).as("bm25"),
        round(qTerms.map(t => col(s"tf_$t")).reduce(_ + _).cast("double")
          / col("dl").cast("double"), 9).as("ql"))
  }

  private def qBm25(s: SparkSession, dir: String): DataFrame =
    bm25QlScores(s, dir)
      .select("doc_id", "bm25")
      .orderBy(desc("bm25"), asc("doc_id"))
      .limit(20)

  /** X3+ reciprocal-rank fusion (Cormack et al. 2009 — the standard
    * training-free way to merge heterogeneous retrieval lists): each
    * ranker contributes 1/(60+rank) for its top-50, fused score = the
    * sum, missing-from-a-list contributes zero — here fusing the BM25
    * list with the query-term-density list off ONE shared tf pass. The
    * global sorts are TakeOrderedAndProject(50) (bounded-heap, no full
    * sort at any SF); ranks are total-ordered (score desc, doc_id), and
    * each reciprocal is rounded at 9 then summed in exact decimals so
    * the fused order is bit-replayable cross-engine.
    */
  private def qRrfFusion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = bm25QlScores(s, dir).localCheckpoint()
    def topRanks(scoreCol: String, rankName: String): DataFrame = {
      val w = Window.orderBy(desc(scoreCol), asc("doc_id"))
      scored.orderBy(desc(scoreCol), asc("doc_id")).limit(50)
        .withColumn(rankName, row_number().over(w))
        .select(col("doc_id"), col(rankName))
    }
    val dec = DecimalType(18, 9)
    def contrib(r: Column): Column =
      round(lit(1.0) / (lit(60.0) + r.cast("double")), 9).cast(dec)
    val a = topRanks("bm25", "rank_bm25")
      .withColumn("ca", contrib(col("rank_bm25")))
    val b = topRanks("ql", "rank_ql")
      .withColumn("cb", contrib(col("rank_ql")))
    val zero = lit(BigDecimal(0)).cast(dec)
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rank_bm25"), lit(0)).cast("long").as("rank_bm25"),
        coalesce(col("rank_ql"), lit(0)).cast("long").as("rank_ql"),
        (coalesce(col("ca"), zero) + coalesce(col("cb"), zero))
          .cast("double").as("rrf"))
      .orderBy(desc("rrf"), asc("doc_id"))
      .limit(20)
  }

  /** DQ filter-cascade audit — the per-stage attrition report every corpus
    * curation pipeline publishes (C4/FineWeb-style): each doc is attributed
    * to its FIRST failing rule (length floor → allowed-language set →
    * distinct-token repetition ratio), so stage counts are additive and sum
    * to the corpus. Every predicate is map-side column arithmetic — the
    * repetition ratio reads |array_distinct(toks)| / |toks| off the token
    * array with no explode — and the only shuffle is the (source × stage)-
    * sized combinable count. The ratio divides two small ints as IEEE
    * doubles, bit-identical cross-engine.
    */
  private def qFilterCascade(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val stage = when(col("n_chars") < 150, "too_short")
      .when(!col("lang").isInCollection(Seq("en", "es", "de", "fr")), "lang_excluded")
      .when(size(array_distinct(toks)).cast("double") / size(toks) < 0.35, "repetitive")
      .otherwise("kept")
    Tables.table(s, dir, "documents")
      .withColumn("stage", stage)
      .groupBy("source", "stage")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "stage")
  }

  /** A2+ equi-depth histogram — the optimizer-statistics counterpart to
    * q_histogram's equi-width bins: boundaries at the exact deciles (one
    * 9-fraction percentile aggregate, broadcast as a single row), bucket
    * assignment as nine codegen'd comparisons against the broadcast
    * array (NOT an `aggregate` HOF — higher-order lambdas run
    * interpreted, the q_embed_gram lesson). Map-side bucket + one
    * map-side-combinable aggregate; ~equal counts per bucket by
    * construction, boundary ties going low.
    */
  private def qEquidepth(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.table(s, dir, "orders").select(col("o_totalprice").as("v"))
    val fracs = (1 to 9).map(i => s"0.$i").mkString(", ")
    val bounds = o.agg(expr(s"percentile(v, array($fracs))").as("bs"))
    val bucket = (1 to 9)
      .map(i => (col("v") > element_at(col("bs"), i)).cast("int"))
      .reduce(_ + _)
    o.join(broadcast(bounds))
      .withColumn("bucket", bucket)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), min("v").as("min_v"), max("v").as("max_v"))
      .orderBy("bucket")
  }

  /** A2+ exact weighted median (quantity-weighted price per return flag):
    * the first value whose cumulative weight reaches half the group
    * total. Two-phase so the cumulative pass never sees the fact table:
    * weights pre-aggregate per (group, value) — map-side combinable,
    * corpus-scale — and the cumulative sum runs over the distinct-value
    * table via Ordered.groupedPrefixSum: range-partitioned on (group,
    * value) with broadcast per-group offsets, so its parallelism is the
    * PARTITION count, not the 3-value group count a
    * `Window.partitionBy(group)` would pin it to (distinct prices grow
    * with data; three single-thread sort tasks do not). (group, value)
    * is unique by construction, so the inclusive cumsum is exactly the
    * tie-free RANGE window, and decimal accumulation keeps the
    * threshold test exact on both engines.
    */
  private def qWeightedMedian(s: SparkSession, dir: String): DataFrame = {
    // Weights as LONG micro-units (quantities are integer-valued, so
    // floor(q*1e6) is exact): integer accumulation keeps the 2·cum >= tot
    // test bit-identical cross-engine like decimal did, but stays inside
    // whole-stage codegen through the agg, window, and compare.
    // Eager checkpoint: groupedPrefixSum's repartitionByRange SAMPLES its
    // input before exchanging it — an unmaterialized wv would run the
    // fact-table aggregate twice (sample pass + exchange pass); it also
    // makes the totals aggregate below a cheap re-scan instead of a
    // second window-chain execution.
    val wv = Tables.table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_extendedprice").as("v"))
      .agg(sum(floor(col("l_quantity") * lit(1000000.0)).cast("long")).as("w"))
      .localCheckpoint()
    val cum = graft.ops.Ordered.groupedPrefixSum(
      wv, Seq("l_returnflag"), Seq(col("v")), col("w"), "cw")
    val tot = wv.groupBy("l_returnflag").agg(sum("w").as("tw"))
    cum.join(broadcast(tot), "l_returnflag")
      .filter(col("cw") * 2 >= col("tw"))
      .groupBy("l_returnflag").agg(min("v").as("weighted_median"))
      .orderBy("l_returnflag")
  }

  /** S1+ schema-evolution scan: two parquet batches written with DRIFTED
    * schemas (the later batch adds o_orderpriority) read back through ONE
    * `mergeSchema=true` scan — the production reality of long-lived table
    * directories where columns appear mid-stream. Rows from the old batch
    * null-fill the new column; aggregating BY that column proves the
    * union-by-name semantics end-to-end. The batch= subdirs double as a
    * discovered partition column. At 100 TB mergeSchema's footer sampling
    * is the cost knob — schema drift is per-batch, so sampling stays
    * cheap; the scan itself remains one pass.
    */
  private def qScanEvolved(s: SparkSession, dir: String): DataFrame = {
    val tmp = tmpDir("evolve", dir)
    val o = Tables.table(s, dir, "orders")
    val cutoff = lit("1998-01-01").cast("timestamp")
    LocalFs.scoped(s, tmp) {
      o.filter(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$tmp/batch=1")
      // NULL dates route to the v2 batch (matching the oracle's CASE, where
      // a NULL date falls through to the real priority) — a bare >= would
      // silently drop them from BOTH batches
      o.filter(col("o_orderdate") >= cutoff || col("o_orderdate").isNull)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$tmp/batch=2")
    }
    s.read.option("mergeSchema", "true").parquet(tmp)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        Scalar.stableSum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderpriority").asc_nulls_first)
  }

  /** X3 token-budget apportionment (largest-remainder / Hamilton method):
    * split a fixed training-token budget across (lang, source) groups
    * proportionally to their corpus mass, with the rounding leftover
    * going one unit each to the largest remainders — allocations sum to
    * EXACTLY the budget (spec-asserted) and every group is within one
    * token of its real quota. All integer arithmetic (div/mod against the
    * grand total), so bit-exact cross-engine; headroom bound: budget ×
    * grand-total must stay below 2^63 — normalize weights first at
    * corpus scales beyond that. Corpus-scale work is ONE map-side-
    * combinable aggregate; everything after runs on the group-count-sized
    * table (the rank window is keyless but group-bounded, like
    * q_oov_rate's vocabulary window).
    */
  private def qBudgetAlloc(s: SparkSession, dir: String): DataFrame = {
    val budget = 1000000L
    val g = Tables.table(s, dir, "documents").groupBy("lang", "source")
      .agg(sum("n_chars").as("w"))
    val tot = g.agg(sum("w").as("tw"))
    val base = g.join(broadcast(tot))
      .withColumn("base", expr(s"($budget * w) div tw"))
      .withColumn("rem", expr(s"($budget * w) % tw"))
    val left = base.agg((lit(budget) - sum("base")).as("leftover"))
    base.join(broadcast(left))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rem").desc, col("lang"), col("source"))))
      .select(col("lang"), col("source"), col("w"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy("lang", "source")
  }

  /** X2 int8-quantized ANN: brute-force top-k by INTEGER dot product over
    * the quantized vectors (Similarity.topkInt8) — 4× less scan/shuffle
    * bandwidth than float cosine and a bit-exact ranking (no float in the
    * score), the standard memory-bound trade of production vector search.
    */
  private def qAnnInt8(s: SparkSession, dir: String): DataFrame =
    Similarity.topkInt8(Tables.table(s, dir, "embeddings"), queryId = 0L, k = 10)

  /** X1 content-defined chunking: Rabin/FastCDC-style boundaries from the
    * portable token hash (h ≡ 0 mod 8 ends a chunk, expected length 8
    * tokens) — edit-robust chunk dedup units, unlike fixed windows
    * (Dedup.cdcChunks). Every step is DuckDB-replicable: portable hash,
    * prefix-sum window, ordered string_agg rebuild.
    */
  private def qCdcChunks(s: SparkSession, dir: String): DataFrame =
    Dedup.cdcChunks(Tables.table(s, dir, "documents"), avgTokens = 8)
      .orderBy("doc_id", "chunk_id")

  /** A1+ market-basket co-occurrence (frequent pairs): top co-purchased
    * part pairs by order support. The pair explode happens IN-ROW on each
    * order's sorted distinct-part list, so the blowup is bounded by the
    * basket size squared (TPC-H baskets are ≤7 lines) — never a corpus
    * self-join; one shuffle to build baskets, one map-side-combinable
    * count, then a bounded-heap top-k (TakeOrderedAndProject).
    */
  private def qCopurchase(s: SparkSession, dir: String): DataFrame =
    graft.sources.GraphTables.copurchasePairs(s, dir)
      .select(col("pa").as("part_a"), col("pb").as("part_b"), col("support"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(50)

  /** X4 triangle enumeration on the support-≥2 co-purchase graph — the
    * clustering-structure probe of graph analytics, in the classic
    * distributed formulation: ORIENTED edges (a < b canonically) make
    * each triangle appear exactly once as x(a,b)⋈y(b,c)⋈z(a,c), so the
    * whole enumeration is two equi-joins on node ids — no wedge explosion
    * beyond the real wedge count, no cartesian anywhere. The edge list is
    * localCheckpoint'd once and consumed three times.
    */
  private def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val edges = graft.sources.GraphTables.copurchasePairs(s, dir)
      .filter(col("support") >= 2)
      .select(col("pa").as("a"), col("pb").as("b"))
      .localCheckpoint()
    edges.as("x")
      .join(edges.as("y"), col("x.b") === col("y.a"))
      .join(edges.as("z"), col("z.a") === col("x.a") && col("z.b") === col("y.b"))
      .select(col("x.a").as("p1"), col("x.b").as("p2"), col("y.b").as("p3"))
      .orderBy("p1", "p2", "p3")
  }

  /** A1+ item-item collaborative filtering: cosine similarity between
    * parts from basket co-occurrence — sim(a,b) = n_ab/√(n_a·n_b), the
    * classic "customers who bought X" memory-based recommender. Counts
    * stay exact integers through the shared in-row basket-pair explode
    * (never a corpus self-join); one sqrt per surviving pair rounded to 9
    * (libm-parity convention), bounded top-20.
    */
  private def qItemCf(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.table(s, dir, "lineitem")
    val pairs = graft.sources.GraphTables.copurchasePairs(s, dir)
      .filter(col("support") >= 2)
    val freq = li.select("l_orderkey", "l_partkey").distinct()
      .groupBy(col("l_partkey").as("p")).agg(count(lit(1)).as("n_p"))
    pairs
      .join(freq.select(col("p").as("pa"), col("n_p").as("n_a")), "pa")
      .join(freq.select(col("p").as("pb"), col("n_p").as("n_b")), "pb")
      .select(col("pa").as("part_a"), col("pb").as("part_b"), col("support"),
        round(col("support").cast("double") /
          sqrt((col("n_a") * col("n_b")).cast("double")), 9).as("cosine"))
      .orderBy(desc("cosine"), col("part_a"), col("part_b"))
      .limit(20)
  }

  /** X4 degree distribution (count-of-counts) of the support-≥2
    * co-purchase graph — the first thing anyone asks of a web/link graph
    * (power-law check before sampling by centrality). Canonical a<b pairs
    * symmetrize in-row; two map-side-combinable aggregates, output is
    * degree-bounded.
    */
  private def qDegreeDist(s: SparkSession, dir: String): DataFrame = {
    val e = graft.sources.GraphTables.copurchasePairs(s, dir)
      .filter(col("support") >= 2)
    e.select(col("pa").as("n")).union(e.select(col("pb").as("n")))
      .groupBy("n").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")
  }

  /** X4 k-core decomposition (k=2, peeling) of the support-≥2 co-purchase
    * graph: iteratively drop nodes with induced degree < k — the standard
    * "dense cohesive subgraph" extraction (spam-farm detection, community
    * seeding) and the fourth iterative graph algorithm beside PageRank /
    * BFS / LPA. Each peel round is one map-side-combinable degree count +
    * two semi-joins (only node ids shuffle); 3 rounds reach the fixed
    * point on this graph (spec-asserted: no sub-k degree survives), each
    * round localCheckpoint'd so plan depth stays constant. Output: the
    * 2-core's nodes with their induced degree.
    */
  private def qKcore(s: SparkSession, dir: String): DataFrame = {
    val kk = 2
    val e0 = graft.sources.GraphTables.copurchasePairs(s, dir)
      .filter(col("support") >= 2)
    var und = e0.select(col("pa").as("src"), col("pb").as("dst"))
      .union(e0.select(col("pb").as("src"), col("pa").as("dst")))
      .localCheckpoint()
    for (_ <- 1 to 3) {
      val keep = und.groupBy("src").agg(count(lit(1)).as("d"))
        .filter(col("d") >= kk).select("src")
      und = und
        .join(keep, "src", "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
        .select("src", "dst")
        .localCheckpoint()
    }
    und.groupBy("src").agg(count(lit(1)).as("degree"))
      .select(col("src").as("node_id"), col("degree"))
      .orderBy("node_id")
  }

  /** DQ one-pass table profile: per-column nulls, exact distinct counts,
    * numeric min/max — single aggregation over the scan, unpivoted to a
    * (col_name, metric, value) triple table (ops/Profile.scala for the
    * Expand trade-off at scale).
    */
  private def qProfile(s: SparkSession, dir: String): DataFrame =
    Profile.profile(Tables.table(s, dir, "orders"),
      numericCols = Seq("o_orderkey", "o_custkey", "o_totalprice"),
      otherCols = Seq("o_orderstatus", "o_orderpriority"))

  /** A2+ robust outlier detection via median/MAD — the standard
    * contamination-resistant alternative to z-scores (one wild day shifts
    * a mean + stddev, not a median + MAD). Daily activity counts per
    * event type; a day is an outlier when |cnt − median| > 3·MAD. Exact
    * percentiles over INTEGER counts: the interpolated midpoints are
    * dyadic rationals, exact in double on both engines, so the flag
    * itself is bit-stable. Aggregation is corpus-scale; the median/MAD
    * tables are group-count-sized and broadcast back.
    */
  private def qMadOutliers(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val med = daily.groupBy("event_type").agg(expr("percentile(cnt, 0.5)").as("med"))
    val dev = daily.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("cnt") - col("med")))
    val mad = dev.groupBy("event_type").agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .withColumn("is_outlier", (col("adev") > lit(3.0) * col("mad")).cast("int"))
      .select("event_type", "day", "cnt", "med", "mad", "is_outlier")
      .orderBy("event_type", "day")
  }

  /** X4 link-graph PageRank — the web-pipeline quality prior (hosts are
    * ranked by link centrality before corpus sampling; Common Crawl's
    * harmonic-centrality host ranking is the published instance). The graph
    * here is the symmetrized customer↔supplier purchase graph (customer
    * node ids offset by 1e6 to disambiguate the two key spaces); 4 damped
    * iterations in fixed-point BIGINT micro-units, so every step — and
    * therefore the oracle's unrolled replay — is bit-identical
    * (graph/PageRank.scala for the scale shape).
    */
  private def qPagerank(s: SparkSession, dir: String): DataFrame = {
    // the materialize-once purchase graph (sources.GraphTables): four
    // graph queries share one stamped edge-table build instead of four
    // fact-join re-derivations; the merge-pinned build keeps one plan
    // shape at every SF (SCALE_r06 read ×24 bytes at 10× data purely
    // from the small-SF broadcast shortcut this removes)
    val edges = graft.sources.GraphTables.purchaseGraph(s, dir)
    PageRank.ranks(edges, iters = 4)
      .select(col("id").as("node_id"), col("r").as("rank_micro"), col("unit"))
      .orderBy(col("rank_micro").desc, col("node_id"))
  }

  /** X4 synchronous label-propagation communities (graph/LabelProp) on
    * the same symmetrized purchase graph as q_pagerank — 2 rounds,
    * deterministic (count desc, label asc) argmax, unrolled in the
    * oracle. Round 1 collapses every node onto its lowest neighbor
    * (all counts are 1 on a simple graph); round 2 votes over those —
    * real community structure, bit-replayable.
    */
  private def qLabelProp(s: SparkSession, dir: String): DataFrame = {
    val edges = graft.sources.GraphTables.purchaseGraph(s, dir)
    graft.graph.LabelProp.communities(edges, iters = 2)
      .select(col("id").as("node_id"), col("lbl").as("community"))
      .orderBy("node_id")
  }

  /** X4 bounded-depth BFS hop distances (graph/Bfs) on the same
    * symmetrized purchase graph as q_pagerank, seeded at supplier node 1
    * — frontier-based (each edge traversed once per endpoint discovery,
    * O(E) total, not O(E·depth)), exact BIGINT distances replayed by an
    * unrolled min-union oracle.
    */
  private def qBfsHops(s: SparkSession, dir: String): DataFrame = {
    val edges = graft.sources.GraphTables.purchaseGraph(s, dir)
    graft.graph.Bfs.hops(edges, seed = 1L, maxHops = 4)
      .select(col("id").as("node_id"), col("d").as("hops"))
      .orderBy("node_id")
  }

  /** X4 bounded Bellman-Ford cheapest paths (graph/Bfs.cheapest) —
    * edge cost = 1000000 div interaction-count (strongly-traded
    * customer↔supplier pairs are CLOSE), so the result ranks partners by
    * relationship cost within 4 hops of supplier node 1. Full min-union
    * relaxation per round (a node's cost can improve after first reach —
    * the frontier trick is BFS-only); exact BIGINT, unrolled oracle.
    */
  private def qCheapestPath(s: SparkSession, dir: String): DataFrame = {
    val edges = graft.sources.GraphTables.weightedPurchaseGraph(s, dir)
      .select(col("src"), col("dst"), expr("1000000 div cnt").as("w"))
    graft.graph.Bfs.cheapest(edges, seed = 1L, rounds = 4)
      .select(col("id").as("node_id"), col("d").as("cost"))
      .orderBy("node_id")
  }

  /** X4+ deterministic random-walk neighbor sampling: 3-step walks from
    * the 10 lowest node ids of the symmetrized purchase graph, the
    * GraphSAGE/node2vec corpus-generation primitive — at web scale the
    * walk table IS the training data of graph embeddings. The "random"
    * choice is the portable-hash argmin over (walk, node, neighbor,
    * step), so every engine and every rerun draws the SAME walk
    * (rand()-free, the q_holdout_split discipline); ties break to the
    * lowest neighbor. Per step: one broadcast join of the walk frontier
    * (≤ #walks rows by construction — each walk has exactly one current
    * node) against the CACHED edge list, one per-walk argmin window —
    * the edge build runs once, not once per step.
    */
  private def qRandomWalks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = graft.sources.GraphTables.purchaseGraph(s, dir).cache()
    try {
      edges.count()
      val m = TextOps.HashMod
      val starts = edges.select("src").distinct().orderBy("src").limit(10)
      var cur = starts
        .select(col("src").as("walk_id"), lit(0L).as("step"), col("src").as("node"))
        .localCheckpoint()
      var acc = cur
      for (t <- 1 to 3) {
        val w = Window.partitionBy("walk_id").orderBy(col("hk"), col("dst"))
        val nxt = edges.join(broadcast(cur), edges("src") === cur("node"))
          .withColumn("hk", TextOps.mixedOf(pmod(
            col("walk_id") * 31L + col("node") * 1000003L + col("dst") + lit(7919L * t),
            lit(m))))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("walk_id"), lit(t.toLong).as("step"), col("dst").as("node"))
          .localCheckpoint()
        acc = acc.union(nxt)
        cur = nxt
      }
      acc.orderBy("walk_id", "step")
    } finally edges.unpersist() // every step is eagerly checkpointed
  }


  /** This family's share of SparkEntry.queries. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_lang_length_filter" -> (qLangLengthFilter _),
    "q_pagerank" -> (qPagerank _),
    "q_bfs_hops" -> (qBfsHops _),
    "q_label_prop" -> (qLabelProp _),
    "q_cheapest_path" -> (qCheapestPath _),
    "q_random_walks" -> (qRandomWalks _),
    "q_profile" -> (qProfile _),
    "q_mad_outliers" -> (qMadOutliers _),
    "q_sql_region_revenue" -> (qSqlRegionRevenue _),
    "q_copurchase" -> (qCopurchase _),
    "q_cdc_chunks" -> (qCdcChunks _),
    "q_ann_int8" -> (qAnnInt8 _),
    "q_budget_alloc" -> (qBudgetAlloc _),
    "q_triangles" -> (qTriangles _),
    "q_degree_dist" -> (qDegreeDist _),
    "q_kcore" -> (qKcore _),
    "q_item_cf" -> (qItemCf _),
    "q_scan_evolved" -> (qScanEvolved _),
    "q_weighted_median" -> (qWeightedMedian _),
    "q_equidepth" -> (qEquidepth _),
    "q_transitions" -> (qTransitions _),
    "q_drift_psi" -> (qDriftPsi _),
    "q_bm25" -> (qBm25 _),
    "q_rrf_fusion" -> (qRrfFusion _),
    "q_filter_cascade" -> (qFilterCascade _),
  )

  /** This family's share of SparkEntry.oracleSql. */
  def oracleSql: Map[String, String] = Map(
    // each step unrolled: the portable-hash argmin (mixSql ∘ mixSql over
    // the walk/node/neighbor/step key) IS the walk's "randomness", so the
    // oracle draws the identical neighbor at every step
    "q_random_walks" -> {
      val steps = (1 to 3).map { t =>
        val key = s"(w.walk_id*31 + w.node*1000003 + e.dst + ${7919L * t}) % 2147483647"
        val mk = mixSql(mixSql(key, TextOps.DefaultMixMult), TextOps.DefaultMixMult)
        s"""w$t AS (SELECT walk_id, CAST($t AS BIGINT) AS step, node FROM (
           |  SELECT w.walk_id, e.dst AS node,
           |    row_number() OVER (PARTITION BY w.walk_id ORDER BY $mk, e.dst) AS rn
           |  FROM w${t - 1} w JOIN edges e ON w.node = e.src) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey + 1000000 AS c, l_suppkey AS sup
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS (SELECT c AS src, sup AS dst FROM e0
         |          UNION ALL SELECT sup AS src, c AS dst FROM e0),
         |s0 AS (SELECT src FROM (SELECT DISTINCT src FROM edges ORDER BY src LIMIT 10)),
         |w0 AS (SELECT src AS walk_id, CAST(0 AS BIGINT) AS step, src AS node FROM s0),
         |$steps
         |SELECT walk_id, step, node FROM (
         |  SELECT * FROM w0 UNION ALL SELECT * FROM w1
         |  UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3)
         |ORDER BY walk_id, step""".stripMargin
    },
    "q_lang_length_filter" ->
      """WITH th AS (
        |  SELECT lang,
        |    percentile_cont(0.10) WITHIN GROUP (ORDER BY n_chars) AS p10
        |  FROM documents GROUP BY lang)
        |SELECT doc_id, d.lang, n_chars
        |FROM documents d JOIN th ON d.lang = th.lang
        |WHERE n_chars >= p10
        |ORDER BY doc_id""".stripMargin,
    "q_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
        |FROM seq WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // boundary doubles come from the same interpolated exact percentile in
    // both engines (the q_quantiles precedent), so bucket comparisons agree,
    "q_equidepth" ->
      """WITH b AS (
        |  SELECT quantile_cont(o_totalprice,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
        |  FROM orders)
        |SELECT bucket, COUNT(*) AS n_rows, MIN(v) AS min_v, MAX(v) AS max_v
        |FROM (
        |  SELECT o_totalprice AS v,
        |    CAST(list_sum(list_transform(b.bs,
        |      x -> CASE WHEN o_totalprice > x THEN 1 ELSE 0 END)) AS INTEGER) AS bucket
        |  FROM orders, b)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_weighted_median" ->
      """WITH wv AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |    SUM(CAST(FLOOR(l_quantity * 1000000) AS BIGINT)) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, v,
        |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v) AS cw
        |  FROM wv),
        |g AS (SELECT l_returnflag, SUM(w) AS tw FROM wv GROUP BY 1)
        |SELECT c.l_returnflag, MIN(v) AS weighted_median
        |FROM c JOIN g USING (l_returnflag)
        |WHERE 2 * cw >= tw
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the old batch's rows surface NULL priority through the merged scan;
    // explicit NULLS FIRST pins both engines to the same null placement,
    "q_scan_evolved" ->
      """SELECT
        |  CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |       THEN NULL ELSE o_orderpriority END AS o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY 1 ORDER BY o_orderpriority NULLS FIRST""".stripMargin,
    "q_triangles" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b
        |  FROM pp a JOIN pp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT x.a AS p1, x.b AS p2, y.b AS p3
        |FROM e x JOIN e y ON x.b = y.a
        |         JOIN e z ON z.a = x.a AND z.b = y.b
        |ORDER BY p1, p2, p3""".stripMargin,
    "q_item_cf" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS support
        |  FROM pp a JOIN pp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |f AS (SELECT l_partkey AS p, COUNT(*) AS n_p FROM pp GROUP BY 1)
        |SELECT e.pa AS part_a, e.pb AS part_b, e.support,
        |  round(CAST(e.support AS DOUBLE) / sqrt(CAST(fa.n_p * fb.n_p AS DOUBLE)), 9)
        |    AS cosine
        |FROM e JOIN f fa ON fa.p = e.pa JOIN f fb ON fb.p = e.pb
        |ORDER BY cosine DESC, part_a, part_b
        |LIMIT 20""".stripMargin,
    "q_degree_dist" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b
        |  FROM pp a JOIN pp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |u AS (SELECT a AS n FROM e UNION ALL SELECT b FROM e),
        |deg AS (SELECT n, COUNT(*) AS degree FROM u GROUP BY n)
        |SELECT degree, COUNT(*) AS n_nodes FROM deg
        |GROUP BY degree ORDER BY degree""".stripMargin,
    "q_kcore" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b
        |  FROM pp a JOIN pp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |u0 AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
        |k1 AS (SELECT src FROM u0 GROUP BY src HAVING COUNT(*) >= 2),
        |u1 AS (SELECT src, dst FROM u0
        |       WHERE src IN (SELECT src FROM k1) AND dst IN (SELECT src FROM k1)),
        |k2 AS (SELECT src FROM u1 GROUP BY src HAVING COUNT(*) >= 2),
        |u2 AS (SELECT src, dst FROM u1
        |       WHERE src IN (SELECT src FROM k2) AND dst IN (SELECT src FROM k2)),
        |k3 AS (SELECT src FROM u2 GROUP BY src HAVING COUNT(*) >= 2),
        |u3 AS (SELECT src, dst FROM u2
        |       WHERE src IN (SELECT src FROM k3) AND dst IN (SELECT src FROM k3))
        |SELECT src AS node_id, COUNT(*) AS degree FROM u3
        |GROUP BY src ORDER BY node_id""".stripMargin,
    "q_budget_alloc" ->
      """WITH g AS (
        |  SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS w
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT SUM(w) AS tw FROM g),
        |b AS (
        |  SELECT lang, source, w,
        |    (1000000 * w) // tw AS base, (1000000 * w) % tw AS rem
        |  FROM g, t),
        |l AS (SELECT 1000000 - SUM(base) AS leftover FROM b),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang, source) AS rk FROM b)
        |SELECT lang, source, w,
        |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r, l ORDER BY lang, source""".stripMargin,
    // same quantization spelling as q_embed_quantize; the dot is BIGINT
    // arithmetic end-to-end, so ranking ties are broken by vec_id alone,
    "q_ann_int8" ->
      """WITH x AS (
        |  SELECT vec_id,
        |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
        |  FROM embeddings),
        |sc AS (
        |  SELECT vec_id, e,
        |    list_max(list_transform(e, v -> abs(v))) / 127.0 AS scale
        |  FROM x),
        |qv AS (
        |  SELECT vec_id,
        |    list_transform(e, v -> CAST(CASE WHEN scale = 0 THEN 0
        |      ELSE floor(v / scale + 0.5) END AS BIGINT)) AS q
        |  FROM sc),
        |query AS (SELECT q AS qq FROM qv WHERE vec_id = 0)
        |SELECT v.vec_id,
        |  CAST(list_sum(list_transform(list_zip(v.q, query.qq),
        |    p -> p[1] * p[2])) AS BIGINT) AS dot_q
        |FROM qv v, query WHERE v.vec_id <> 0
        |ORDER BY dot_q DESC, vec_id LIMIT 10""".stripMargin,
    // 1-based DuckDB positions vs Spark's 0-based: positions only order
    // the prefix-sum window and the rebuild, so the offset is immaterial,
    "q_cdc_chunks" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents
         |), t AS (
         |  SELECT doc_id, unnest(range(1, len(tk) + 1)) AS pos, tk FROM toks
         |), f AS (
         |  SELECT doc_id, pos, tk[pos] AS tok,
         |    CASE WHEN (${mixedSql("tk[pos]")}) % 8 = 0 THEN 1 ELSE 0 END AS flag
         |  FROM t
         |), c AS (
         |  SELECT doc_id, pos, tok,
         |    COALESCE(SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
         |  FROM f)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  string_agg(tok, ' ' ORDER BY pos) AS chunk_text,
         |  COUNT(*) AS n_tokens
         |FROM c GROUP BY doc_id, chunk_id
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "q_copurchase" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
        |  FROM pp a JOIN pp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2)
        |SELECT part_a, part_b, support FROM pairs
        |ORDER BY support DESC, part_a, part_b LIMIT 50""".stripMargin,
    "q_sql_region_revenue" ->
      s"""SELECT n.n_name,
         |  ${Scalar.stableSumProdSql("l.l_extendedprice", "1 - l.l_discount")} AS revenue
         |FROM customer c
         |JOIN orders o ON c.c_custkey = o.o_custkey
         |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |             AND c.c_nationkey = s.s_nationkey
         |JOIN nation n ON s.s_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |WHERE r.r_name = 'ASIA'
         |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY n.n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,
    "q_profile" -> {
      val num = Seq("o_orderkey", "o_custkey", "o_totalprice")
      val str = Seq("o_orderstatus", "o_orderpriority")
      val cells =
        num.flatMap(c => Seq(
          s"SELECT '$c' AS col_name, 'n_null' AS metric, CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS value FROM orders",
          s"SELECT '$c', 'n_distinct', CAST(COUNT(DISTINCT $c) AS DOUBLE) FROM orders",
          s"SELECT '$c', 'min', CAST(MIN($c) AS DOUBLE) FROM orders",
          s"SELECT '$c', 'max', CAST(MAX($c) AS DOUBLE) FROM orders")) ++
        str.flatMap(c => Seq(
          s"SELECT '$c', 'n_null', CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS DOUBLE) FROM orders",
          s"SELECT '$c', 'n_distinct', CAST(COUNT(DISTINCT $c) AS DOUBLE) FROM orders"))
      cells.mkString("", "\nUNION ALL\n", "\nORDER BY col_name, metric")
    },
    "q_mad_outliers" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |med AS (
        |  SELECT event_type,
        |    percentile_cont(0.5) WITHIN GROUP (ORDER BY cnt) AS med
        |  FROM daily GROUP BY 1),
        |dev AS (
        |  SELECT d.event_type, d.day, d.cnt, m.med, abs(d.cnt - m.med) AS adev
        |  FROM daily d JOIN med m ON d.event_type = m.event_type),
        |mad AS (
        |  SELECT event_type,
        |    percentile_cont(0.5) WITHIN GROUP (ORDER BY adev) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type, d.day, d.cnt, d.med, a.mad,
        |  CAST(d.adev > 3.0 * a.mad AS INTEGER) AS is_outlier
        |FROM dev d JOIN mad a ON d.event_type = a.event_type
        |ORDER BY d.event_type, d.day""".stripMargin,
    // prefix bound in INTEGER arithmetic ((2n+4)//5 = ceil(2n/5)) — a
    // float 0.4*n would ceil differently across engines; the verify joins
    // run over FULL shingle sets, the prefixes only gate candidacy,
    "q_pagerank" -> {
      val iters = (1 to 4).map { k =>
        s"""c$k AS (SELECT e.dst AS id, SUM(r.r // d.outdeg) AS contrib
           |  FROM edges e JOIN r${k - 1} r ON e.src = r.id
           |  JOIN deg d ON e.src = d.src GROUP BY 1),
           |r$k AS (SELECT d.src AS id,
           |    CAST(150000 + (850000 * COALESCE(c.contrib, 0)) // 1000000 AS BIGINT) AS r
           |  FROM deg d LEFT JOIN c$k c ON d.src = c.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey + 1000000 AS c, l_suppkey AS sup
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS (SELECT c AS src, sup AS dst FROM e0
         |          UNION ALL SELECT sup AS src, c AS dst FROM e0),
         |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
         |r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
         |$iters
         |SELECT id AS node_id, r AS rank_micro, CAST(1000000 AS BIGINT) AS unit FROM r4
         |ORDER BY rank_micro DESC, node_id""".stripMargin
      // the oracle's unit column pins the cross-engine contract: at this
      // node count PageRank.unitFor derives exactly the classic 1e6, so
      // the literal 150000/850000//1000000 constants above stay the very
      // arithmetic the Spark side ran
    },
    // BFS, unrolled min-union rounds over the q_pagerank graph CTEs: the
    // relational min-union is distance-equivalent to the Spark side's
    // frontier+anti-join formulation (BFS first-reach = min hops),
    "q_bfs_hops" -> {
      val rounds = (1 to 4).map { k =>
        s"""r$k AS (
           |  SELECT id, CAST(MIN(d) AS BIGINT) AS d FROM (
           |    SELECT id, d FROM r${k - 1}
           |    UNION ALL
           |    SELECT e.dst AS id, r.d + 1 AS d
           |    FROM edges e JOIN r${k - 1} r ON e.src = r.id)
           |  GROUP BY id)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey + 1000000 AS c, l_suppkey AS sup
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS (SELECT c AS src, sup AS dst FROM e0
         |          UNION ALL SELECT sup AS src, c AS dst FROM e0),
         |r0 AS (SELECT CAST(1 AS BIGINT) AS id, CAST(0 AS BIGINT) AS d),
         |$rounds
         |SELECT id AS node_id, d AS hops FROM r4 ORDER BY node_id""".stripMargin
    },
    // Label propagation, unrolled: per round count neighbor labels, keep
    // the (count desc, label asc) argmax — the same deterministic tie
    // rule as LabelProp.communities' struct max.,
    "q_label_prop" -> {
      val rounds = (1 to 2).map { k =>
        s"""v$k AS (
           |  SELECT e.src AS id, l.lbl AS nl, COUNT(*) AS cnt
           |  FROM edges e JOIN l${k - 1} l ON e.dst = l.id
           |  GROUP BY 1, 2),
           |l$k AS (
           |  SELECT id, CAST(nl AS BIGINT) AS lbl FROM (
           |    SELECT id, nl,
           |      row_number() OVER (PARTITION BY id ORDER BY cnt DESC, nl) AS rn
           |    FROM v$k) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey + 1000000 AS c, l_suppkey AS sup
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS (SELECT c AS src, sup AS dst FROM e0
         |          UNION ALL SELECT sup AS src, c AS dst FROM e0),
         |l0 AS (SELECT DISTINCT src AS id, CAST(src AS BIGINT) AS lbl FROM edges),
         |$rounds
         |SELECT id AS node_id, lbl AS community FROM l2 ORDER BY node_id""".stripMargin
    },
    // Bellman-Ford, unrolled: weighted min-union relaxation per round over
    // integer costs 1000000 // cnt; both operands non-negative so // and
    // Spark's div agree,
    "q_cheapest_path" -> {
      val rounds = (1 to 4).map { k =>
        s"""p$k AS (
           |  SELECT id, CAST(MIN(d) AS BIGINT) AS d FROM (
           |    SELECT id, d FROM p${k - 1}
           |    UNION ALL
           |    SELECT e.dst AS id, p.d + e.w AS d
           |    FROM ew e JOIN p${k - 1} p ON e.src = p.id)
           |  GROUP BY id)""".stripMargin
      }.mkString(",\n")
      s"""WITH ecnt AS (
         |  SELECT o_custkey + 1000000 AS c, l_suppkey AS sup,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
         |ew AS (SELECT c AS src, sup AS dst, CAST(1000000 // cnt AS BIGINT) AS w FROM ecnt
         |       UNION ALL SELECT sup AS src, c AS dst, CAST(1000000 // cnt AS BIGINT) AS w FROM ecnt),
         |p0 AS (SELECT CAST(1 AS BIGINT) AS id, CAST(0 AS BIGINT) AS d),
         |$rounds
         |SELECT id AS node_id, d AS cost FROM p4 ORDER BY node_id""".stripMargin
    },
    // integer epoch pivot and long-count shares: the only doubles are the
    // n/t divisions and ln(), identical IEEE ops in both engines,
    "q_drift_psi" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |piv AS (SELECT (MIN(us) + MAX(us)) // 2 AS pv FROM e),
        |c AS (SELECT event_type,
        |        CAST(SUM(CASE WHEN us <= pv THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |        CAST(SUM(CASE WHEN us > pv THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |      FROM e, piv GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n1) AS BIGINT) AS t1,
        |               CAST(SUM(n2) AS BIGINT) AS t2 FROM c)
        |SELECT event_type, n1, n2,
        |  round((greatest(n1 / t1, 1e-6) - greatest(n2 / t2, 1e-6))
        |        * ln(greatest(n1 / t1, 1e-6) / greatest(n2 / t2, 1e-6)), 6) AS psi
        |FROM c, tot ORDER BY event_type""".stripMargin,
    // integer tf/dl/df; doubles only in the closed-form score with the
    // same op order as the Spark column expression; ln() rounds at 6dp
    // before the ORDER BY, doc_id breaking rounded ties,
    "q_bm25" -> {
      val score = Seq("hash", "vector", "window").map { t =>
        s"ln(1.0 + (n_docs - df_$t + 0.5) / (df_$t + 0.5)) * (tf_$t * 2.2)" +
          s" / (tf_$t + 1.2 * (0.25 + 0.75 * dl / avgdl))"
      }.mkString("\n  + ")
      val tfs = Seq("hash", "vector", "window").map { t =>
        s"    len(list_filter(toks, x -> x = '$t')) AS tf_$t"
      }.mkString(",\n")
      val dfs = Seq("hash", "vector", "window").map { t =>
        s"    CAST(SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$t"
      }.mkString(",\n")
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
         |  FROM documents),
         |d AS (
         |  SELECT doc_id, len(toks) AS dl,
         |$tfs
         |  FROM t),
         |st AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
         |$dfs
         |  FROM d)
         |SELECT doc_id, round($score, 6) AS bm25
         |FROM d CROSS JOIN st
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
    },
    // both rankers rebuilt from the same tf CTEs as q_bm25; each
    // reciprocal rounded at 9 then summed as DECIMAL(18,9) so the fused
    // order can't drift on the 16th bit
    "q_rrf_fusion" -> {
      val score = Seq("hash", "vector", "window").map { t =>
        s"ln(1.0 + (n_docs - df_$t + 0.5) / (df_$t + 0.5)) * (tf_$t * 2.2)" +
          s" / (tf_$t + 1.2 * (0.25 + 0.75 * dl / avgdl))"
      }.mkString("\n  + ")
      val tfs = Seq("hash", "vector", "window").map { t =>
        s"    len(list_filter(toks, x -> x = '$t')) AS tf_$t"
      }.mkString(",\n")
      val dfs = Seq("hash", "vector", "window").map { t =>
        s"    CAST(SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$t"
      }.mkString(",\n")
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
         |  FROM documents),
         |d AS (
         |  SELECT doc_id, len(toks) AS dl,
         |$tfs
         |  FROM t),
         |st AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
         |$dfs
         |  FROM d),
         |sc AS (
         |  SELECT doc_id, round($score, 6) AS bm25,
         |    round(CAST(tf_hash + tf_vector + tf_window AS DOUBLE)
         |      / CAST(dl AS DOUBLE), 9) AS ql
         |  FROM d CROSS JOIN st),
         |ra AS (
         |  SELECT doc_id, rank_bm25 FROM (
         |    SELECT doc_id,
         |      row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_bm25
         |    FROM sc) WHERE rank_bm25 <= 50),
         |rb AS (
         |  SELECT doc_id, rank_ql FROM (
         |    SELECT doc_id,
         |      row_number() OVER (ORDER BY ql DESC, doc_id) AS rank_ql
         |    FROM sc) WHERE rank_ql <= 50)
         |SELECT doc_id,
         |  COALESCE(rank_bm25, 0) AS rank_bm25,
         |  COALESCE(rank_ql, 0) AS rank_ql,
         |  CAST(CAST(COALESCE(CAST(round(1.0 / (60.0 + rank_bm25), 9) AS DECIMAL(18,9)),
         |         CAST(0 AS DECIMAL(18,9)))
         |     + COALESCE(CAST(round(1.0 / (60.0 + rank_ql), 9) AS DECIMAL(18,9)),
         |         CAST(0 AS DECIMAL(18,9))) AS VARCHAR(64)) AS DOUBLE) AS rrf
         |FROM ra FULL JOIN rb USING (doc_id)
         |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin
    },
    "q_filter_cascade" ->
      """SELECT source,
        |  CASE WHEN n_chars < 150 THEN 'too_short'
        |       WHEN lang NOT IN ('en', 'es', 'de', 'fr') THEN 'lang_excluded'
        |       WHEN CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE)
        |            / len(string_split_regex(trim(lower(text)), '\s+')) < 0.35 THEN 'repetitive'
        |       ELSE 'kept' END AS stage,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )
}
