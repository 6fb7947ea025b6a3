package graft.entry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.graph.PageRank
import graft.ingest.Normalize
import graft.multimodal.Media
import graft.ops.{Ordered, Profile, Reshape, Scalar}
import graft.sim.Similarity
import graft.sources.{LocalFs, Tables}
import graft.text.{Dedup, TextOps}

import graft.entry.EntryHelpers._

/** Token entropy, EWMA, batched ANN, stream-static enrichment,
  * grouping sets, SCD2/CDC merge, bloom join, Gram matrix, sliding
  * windows, z-order keys, stream joins, n-gram language models,
  * heavy hitters, fuzzy match, chunking, OOV, winsorize/interpolate
  * and cohort/funnel analytics.
  *
  * One `queries` entry per operator (driver contract) with its DuckDB
  * `oracleSql` twin; split out of the monolithic SparkEntry (round-5
  * verdict ask #8), zero behavior change.
  */
private[graft] object StatStreamQueries {
  // =====================================================================
  // round-3 part 3: token entropy, EWMA smoothing, batched ANN,
  // stream-static enrichment
  // =====================================================================

  /** X3 per-doc unigram (token) Shannon entropy in bits — the lexical-
    * diversity signal quality filters threshold on (low-entropy docs are
    * boilerplate/spam): H = log2(N) − (Σ c·ln c)/(N·ln 2) over the doc's
    * term counts c. One explode and two map-side-combinable aggregations;
    * the (doc, term) shuffle carries counts, never text, so at 100 TB the
    * shuffled bytes are the vocabulary footprint per doc, not the corpus.
    * Rounded at 6 like q_unigram_logprob (ln() means cross libm).
    */
  private def qTokenEntropy(s: SparkSession, dir: String): DataFrame = {
    val n = sum(col("c")).cast("double")
    Tables.table(s, dir, "documents")
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        round((log(n) - sum(col("c").cast("double") * log(col("c").cast("double"))) / n)
          / log(lit(2.0)), 6).as("entropy"))
      .orderBy("doc_id")
  }

  /** O1+ exponential moving average over the daily event spine — the
    * time-series smoothing an ops dashboard runs on ingest volumes. The
    * recursion y_i = 0.75·y_{i−1} + 0.25·x_i is evaluated as a left fold
    * over the prefix history (collect_list window + `aggregate`), which
    * fixes the FP operation order and makes the result bit-identical to
    * DuckDB's list_reduce of the same prefix. The keyless-looking window
    * is per-event_type over a CALENDAR-bounded spine (days × types, like
    * q_month_spine) — the corpus-scale work is the daily count
    * aggregation underneath, which shuffles once and map-side-combines.
    */
  private def qEwmaDaily(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("hist", collect_list(col("n").cast("double")).over(w))
      .withColumn("ewma", round(expr(
        "aggregate(slice(hist, 2, greatest(size(hist) - 1, 0)), " +
          "element_at(hist, 1), (acc, x) -> acc * 0.75 + x * 0.25)"), 9))
      .select("event_type", "day", "n", "ewma")
      .orderBy("event_type", "day")
  }

  /** X2 batched ANN: ten FIXED query vectors (vec_id < 10) resolve their
    * top-5 neighbors in ONE pass — see [[Similarity.annTopkBatch]] for the
    * band-join shape. Portable planes keep the bucketing (and therefore
    * the candidate set) reproducible in the SQL oracle. The workload is
    * pinned, not corpus-proportional (the old vec_id % 50 grew |Q| with
    * n, turning the band join |Q|·occupancy quadratic at scale).
    */
  private def qAnnBatch(s: SparkSession, dir: String): DataFrame =
    Similarity.annTopkBatch(s, Tables.table(s, dir, "embeddings"),
      queryPred = col("vec_id") < 10, k = 5)
      .orderBy("query_id", "rk")

  /** S4+X5 stream-static enrichment join through the CORRECTNESS gate:
    * the events feed (file-source micro-batches) joins the
    * customer→nation dimension — a STATIC broadcast rebuilt per
    * micro-batch, the standard pattern for enriching a fact stream with
    * warehouse dims — then rolls up per (nation, event_type) under a
    * watermark. Must hash-match the batch join oracle: stream/batch
    * agreement for the join+agg pipeline, not just a single aggregate.
    */
  private def qStreamEnrich(s: SparkSession, dir: String): DataFrame = {
    val feed = stageFeed(dir, "stream_enrich_feed")
    val dim = broadcast(
      Tables.table(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_nationkey"))
        .join(Tables.table(s, dir, "nation")
          .select(col("n_nationkey").as("c_nationkey"), col("n_name")),
          "c_nationkey")
        .select("user_id", "n_name"))
    val agg = graft.streaming.EventStreams.readEventStream(s, feed)
      .withWatermark("ts", "1 day")
      .join(dim, "user_id")
      .groupBy("n_name", "event_type")
      .agg(count(lit(1)).as("n"), Scalar.stableSum(col("value")).as("sum_value"))
    graft.streaming.EventStreams.runToCompletion(s, agg,
        "stream_enrich_" + dirTag(dir), org.apache.spark.sql.streaming.OutputMode.Complete)
      .orderBy("n_name", "event_type")
  }

  /** X5+ STREAMING count-min sketch: the d×w cell table maintained as a
    * Complete-mode streaming aggregate over the event feed (bucket
    * derivation is a stateless map, so the sketch is an ordinary
    * streaming groupBy — constant d·w state however long the stream
    * runs, the whole point of sketching a stream), then each event
    * type's estimate probed from the final cells and hash-matched
    * against exact batch counts. At this tiny type cardinality the
    * sketch sits in its near-exact regime (overcount ≈ 0 — the d-row
    * min doing its job); the collision-mass regime is exercised by
    * q_cms_freq's deliberately undersized vocabulary sketch. Stream ≡
    * batch ≡ oracle: the same portable-hash arithmetic in all three.
    */
  private def qStreamCms(s: SparkSession, dir: String): DataFrame = {
    val m = TextOps.HashMod
    val (depth, width) = (4L, 64L)
    val feed = stageFeed(dir, "stream_cms_feed")
    def bucket(r: Column, h: Column): Column =
      pmod(pmod((lit(2L) * r + 1) * h + lit(12345L) * r + 1, lit(m)), lit(width))
    val h = TextOps.mixedHash(col("event_type"))
    val cellsAgg = graft.streaming.EventStreams.readEventStream(s, feed)
      .withWatermark("ts", "1 day")
      .select(explode(sequence(lit(0L), lit(depth - 1))).as("r"), h.as("h"))
      .groupBy(col("r"), bucket(col("r"), col("h")).as("bucket"))
      .agg(count(lit(1)).as("cell"))
    val cells = graft.streaming.EventStreams.runToCompletion(s, cellsAgg,
      "stream_cms_" + dirTag(dir), org.apache.spark.sql.streaming.OutputMode.Complete)
    val exact = Tables.events(s, dir)
      .groupBy("event_type").agg(count(lit(1)).as("exact_cnt"))
      .withColumn("h", TextOps.mixedHash(col("event_type")))
    exact.select(col("event_type"), col("exact_cnt"),
        explode(sequence(lit(0L), lit(depth - 1))).as("r"), col("h"))
      .withColumn("bucket", bucket(col("r"), col("h")))
      .join(cells, Seq("r", "bucket"))
      .groupBy("event_type", "exact_cnt").agg(min("cell").as("cms_est"))
      .select(col("event_type"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overcount"))
      .orderBy("event_type")
  }

  /** A5+ GROUPING SETS via the Spark 4 `Dataset.groupingSets` API — the
    * third grouping-analytics shape next to rollup/cube: exactly the
    * requested margins ((flag, status), (flag), ()) in ONE pass over the
    * fact table (Catalyst's Expand — no per-set re-scan), with
    * `grouping_id` disambiguating a grouped NULL from a margin NULL.
    */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(Scalar.stableSum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"),
        grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), asc_nulls_first("l_returnflag"),
        asc_nulls_first("l_linestatus"))

  /** O2+ type-2 slowly-changing dimension from a change log
    * (ops/Changes.scd2): each user's `signup` events become versioned
    * rows with half-open [valid_from, valid_to) intervals and an
    * is_current flag — one window shuffle on the business key, no
    * quadratic self-join. (event_id tie-break: same-timestamp changes
    * must version deterministically or the intervals depend on
    * partitioning.)
    */
  private def qScd2(s: SparkSession, dir: String): DataFrame =
    graft.ops.Changes.scd2(
        Tables.events(s, dir).filter(col("event_type") === "signup")
          .select(col("user_id"), col("event_id"), col("ts"),
            col("value").as("plan_value")),
        "user_id", "ts", "event_id")
      .select(col("user_id"), col("version"), col("event_id"),
        col("valid_from"), col("valid_to"), col("is_current"), col("plan_value"))
      .orderBy("user_id", "version")

  /** S6+ CDC changelog merge (ops/Changes.cdcMerge): MERGE INTO semantics
    * — latest op per key wins (U/I upsert, D delete), unchanged base rows
    * pass through. The changelog is derived DETERMINISTICALLY from the
    * base table (key-modulo slices: two stacked updates exercising
    * latest-wins, deletes, fresh-key inserts) so the oracle can rebuild
    * the identical log in SQL. Shape: one window on the changelog + one
    * co-partitioned full-outer join — what a lakehouse MERGE compiles to
    * when the changelog outgrows broadcast.
    */
  private def qCdcMerge(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    val base = Tables.table(s, dir, "orders")
      .select(k, col("o_totalprice"), col("o_orderstatus"))
    val upd1 = base.filter(pmod(k, lit(100L)) === 3)
      .select(k, lit(1L).as("seq"), lit("U").as("op"),
        (col("o_totalprice") + 10.0).as("o_totalprice"), lit("P").as("o_orderstatus"))
    val upd2 = base.filter(pmod(k, lit(1000L)) === 3)
      .select(k, lit(2L).as("seq"), lit("U").as("op"),
        (col("o_totalprice") + 20.0).as("o_totalprice"), lit("F").as("o_orderstatus"))
    val dels = base.filter(pmod(k, lit(100L)) === 7)
      .select(k, lit(1L).as("seq"), lit("D").as("op"),
        lit(null).cast("double").as("o_totalprice"),
        lit(null).cast("string").as("o_orderstatus"))
    val ins = base.filter(pmod(k, lit(100L)) === 11)
      .select((k + 100000000L).as("o_orderkey"), lit(1L).as("seq"),
        lit("I").as("op"), lit(1.0).as("o_totalprice"), lit("O").as("o_orderstatus"))
    val changes = upd1.union(upd2).union(dels).union(ins)
    graft.ops.Changes.cdcMerge(base, changes, "o_orderkey", "seq", "op",
        Seq("o_totalprice", "o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** J1+ explicit bloom-pruned semi-join (functions/Bloom): the urgent-
    * order key set becomes a bloom filter built in ONE aggregate (the
    * serialized filter — KBs — is the only row the driver sees), and the
    * fact scan drops non-matching rows INSIDE whole-stage codegen before
    * any shuffle; the exact semi-join then only sees survivors. At 100 TB
    * this is the difference between shuffling the full fact table into
    * the join and shuffling ~selectivity of it — the same plan Spark's
    * runtime bloom filter injects, surfaced so the filter is built once
    * and reused across fact scans. Result is EXACTLY the plain semi-join
    * (blooms have no false negatives; the join removes false positives),
    * so the oracle is the plain semi-join SQL.
    */
  private def qBloomJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.table(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val bloom = graft.functions.Bloom.buildFilter(dim, "o_orderkey", 100000L)
    Tables.table(s, dir, "lineitem")
      .filter(graft.functions.Bloom.mightContain(s, bloom, col("l_orderkey")))
      .join(dim, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(Scalar.stableSum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** X2 one-pass distributed Gram matrix (sim/Similarity.gramUpper): the
    * d(d+1)/2 upper-triangle second moments of the embedding corpus,
    * map-generated per row and map-side combined — the only shuffle
    * carries ≤ 2080 partials per partition regardless of corpus size
    * (the input to PCA/whitening at 100 TB).
    */
  private def qEmbedGram(s: SparkSession, dir: String): DataFrame =
    Similarity.gramUpper(Tables.table(s, dir, "embeddings"), "embedding")
      .orderBy("i", "j")

  /** X2 leading principal component via fixed-point power iteration with
    * REPEATED MATRIX SQUARING — the PCA/whitening step over the SAME
    * one-pass Gram reduction as q_embed_gram, so the corpus-scale cost is
    * one combinable aggregate. This testdata's Gram spectrum is dense
    * (λ2/λ1 ≈ 0.93), so plain power iteration needs ~100 rounds; squaring
    * the d²-bounded matrix 5 times (G→G^32, each squaring one equi-join +
    * one combinable aggregate over ≤64³ products) then 3 vector rounds
    * applies G^96 — O(log 1/gap) rounds, the distributed-iteration answer
    * to a mild eigengap. All-BIGINT like the Lloyd chain: entries rescale
    * each round by floor-dividing by max|·| (pmod identity
    * (a − pmod(a,b)) div b, so negative quotients agree with DuckDB's
    * flooring `//`). Bit-replayable end to end; convergence spec-asserted
    * (Rayleigh within 0.1% of λ1). The start vector is a deterministic
    * pseudo-random pattern — an all-ones start is near-orthogonal to e1
    * on zero-mean embeddings (observed: it converged to e2).
    */
  private def qPcaPower(s: SparkSession, dir: String): DataFrame = {
    val gU = Similarity.gramUpper(Tables.table(s, dir, "embeddings"), "embedding")
      .select(col("i"), col("j"),
        expr("(g12 - pmod(g12, 1000000)) DIV 1000000").as("gq"))
    var g = gU
      .unionByName(gU.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("gq")))
      .localCheckpoint()
    for (_ <- 1 to 5) {
      val h = g.as("a").join(g.as("b"), col("a.j") === col("b.i"))
        .groupBy(col("a.i"), col("b.j"))
        .agg(sum(col("a.gq") * col("b.gq")).as("h"))
      val m = h.agg(max(abs(col("h"))).as("m"))
        .select(greatest(expr("m DIV 10000000"), lit(1L)).as("md"))
      g = h.crossJoin(broadcast(m))
        .select(col("i"), col("j"), expr("(h - pmod(h, md)) DIV md").as("gq"))
        .localCheckpoint()
    }
    var v = s.range(64).select(col("id").as("pos"),
      (lit(500000L) + pmod(col("id") * lit(2654435761L), lit(1000000L))).as("v"))
    // vector rounds run UNMATERIALIZED: g is checkpointed (4160 rows),
    // each w is a dim-sized aggregate over it, and the per-round max
    // rescale is a broadcast subtree — the identical w exchanges are
    // deduplicated by ReuseExchange, so dropping the three per-round
    // localCheckpoints trades three full job round-trips for zero extra
    // shuffles (guide §1.2; the squaring loop above keeps its per-round
    // checkpoints — g is consumed twice per squaring and doubles the
    // subplan without them)
    for (_ <- 1 to 3) {
      val w = g.join(v, col("j") === col("pos"))
        .groupBy(col("i")).agg(sum(col("gq") * col("v")).as("w"))
      val m = w.agg(max(abs(col("w"))).as("m"))
        .select(greatest(expr("m DIV 1000000"), lit(1L)).as("md"))
      v = w.crossJoin(broadcast(m))
        .select(col("i").cast("long").as("pos"),
          expr("(w - pmod(w, md)) DIV md").as("v"))
    }
    v.select(col("pos"), col("v")).orderBy("pos")
  }

  /** DuckDB unroll of the squared fixed-point power iteration: the Gram
    * build is the q_embed_gram CTE verbatim; each squaring replays
    * h→md→g and each vector round w→md→v with the pmod floor-division
    * identity (DuckDB's `%` follows the dividend's sign, so
    * ((x % b) + b) % b == Spark's pmod and the shared quotient is
    * exactly divisible).
    */
  private val pcaPowerOracle: String = {
    // AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    // squaring references g(t−1) twice — inlining would duplicate the
    // whole upstream pipeline 2^5 times (observed: fd exhaustion on the
    // parquet scan before any result).
    val squarings = (1 to 5).map { t =>
      s"""h$t AS MATERIALIZED (
         |  SELECT a.i AS i, b.j AS j, CAST(SUM(a.gq * b.gq) AS BIGINT) AS h
         |  FROM g${t - 1} a JOIN g${t - 1} b ON a.j = b.i GROUP BY 1, 2),
         |mm$t AS (
         |  SELECT CAST(greatest(MAX(ABS(h)) // 10000000, 1) AS BIGINT) AS md FROM h$t),
         |g$t AS MATERIALIZED (
         |  SELECT i, j, (h - ((h % md) + md) % md) // md AS gq
         |  FROM h$t CROSS JOIN mm$t)""".stripMargin
    }.mkString(",\n")
    val rounds = (1 to 3).map { t =>
      s"""w$t AS (
         |  SELECT CAST(f.i AS BIGINT) AS pos, CAST(SUM(f.gq * v.v) AS BIGINT) AS w
         |  FROM g5 f JOIN v${t - 1} v ON f.j = v.pos GROUP BY 1),
         |m$t AS (
         |  SELECT CAST(greatest(MAX(ABS(w)) // 1000000, 1) AS BIGINT) AS md FROM w$t),
         |v$t AS (
         |  SELECT pos, (w - ((w % md) + md) % md) // md AS v
         |  FROM w$t CROSS JOIN m$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH ex AS (
       |  SELECT vec_id, CAST(i AS INTEGER) AS i,
       |    CAST(embedding[i + 1] AS DOUBLE) AS x
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
       |), g AS (
       |  SELECT a.i AS i, b.i AS j,
       |    CAST(SUM(CAST(floor((a.x * b.x) * 1e12) AS BIGINT)) AS BIGINT) AS g12
       |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.i >= a.i
       |  GROUP BY 1, 2),
       |gquant AS (
       |  SELECT i, j,
       |    (g12 - ((g12 % 1000000) + 1000000) % 1000000) // 1000000 AS gq
       |  FROM g),
       |g0 AS MATERIALIZED (
       |  SELECT i, j, gq FROM gquant
       |  UNION ALL
       |  SELECT j AS i, i AS j, gq FROM gquant WHERE i <> j),
       |$squarings,
       |v0 AS (SELECT pos, CAST(500000 + (pos * 2654435761) % 1000000 AS BIGINT) AS v
       |       FROM (SELECT unnest(range(0, 64)) AS pos)),
       |$rounds
       |SELECT pos, v FROM v3 ORDER BY pos""".stripMargin
  }

  /** O1+ time-RANGE sliding window: per event type, trailing-7-day event
    * count and value sum over the DAILY aggregate — the corpus-scale work
    * is one map-side-combined groupBy; the range frame then runs on the
    * calendar-bounded daily table (days × types rows). RANGE, not ROWS:
    * a gap day must still look back 7 calendar days, not 7 rows. The
    * frame sum accumulates in DECIMAL (DuckDB evaluates window aggregates
    * over a segment tree whose combine order differs from a left fold —
    * only an associative-exact accumulator is cross-engine stable).
    */
  private def qSlidingWindow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), Scalar.stableSum(col("value")).as("sum_value"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("day").cast("timestamp").cast("long"))
      .rangeBetween(-6L * 86400, 0)
    daily
      .withColumn("n_7d", sum("n").over(w))
      .withColumn("sum_value_7d",
        sum(col("sum_value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .over(w).cast("double"))
      .orderBy("event_type", "day")
  }

  /** A2+ distribution window functions (ntile / percent_rank / cume_dist)
    * per event type over value — quartile bucketing and empirical CDF, the
    * ranking vocabulary beyond rank/dense_rank (q_window_ranks). The order
    * key includes event_id so ties are impossible and both engines rank
    * identically; the rank ratios are small-integer divisions, bit-stable
    * cross-engine.
    */
  private def qWindowDistribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cdf", cume_dist().over(w))
      .orderBy("event_id")
  }

  /** P8+ Z-order layout key (functions/ZOrderKey, codegen'd Morton
    * interleave): map-only computation of the 2-D locality key over
    * (customer, order-day) — sorting/range-partitioning by it keeps BOTH
    * dimensions' parquet min/max stats tight, so either predicate prunes
    * row groups at 100 TB (a single-column sort prunes one dimension and
    * nothing else). ZOrderSpec asserts the locality property; here the
    * key itself is oracle-checked bit-for-bit.
    */
  private def qZorderKey(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "orders")
      .select(col("o_orderkey"),
        graft.functions.ZOrder.zOrderKey(s,
          col("o_custkey"),
          datediff(col("o_orderdate"), to_date(lit("1970-01-01")))).as("zkey"))
      .orderBy("zkey", "o_orderkey")

  /** X5 stream-stream interval join through the CORRECTNESS gate
    * (EventStreams.purchaseAttribution): purchases matched to the same
    * user's views in the preceding 30 minutes, both sides watermarked so
    * join state expires with the watermark. Inner interval-join results
    * emit as matches arrive (append mode — no finality wait), so driving
    * the bounded feed to completion must reproduce the batch join
    * exactly; the oracle is the plain interval self-join SQL.
    */
  private def qStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val feed = stageFeed(dir, "stream_join_feed")
    val joined = graft.streaming.EventStreams.purchaseAttribution(
      graft.streaming.EventStreams.readEventStream(s, feed))
    graft.streaming.EventStreams.runToCompletion(s, joined,
        "stream_join_" + dirTag(dir), org.apache.spark.sql.streaming.OutputMode.Append)
      .orderBy("purchase_id", "view_id")
  }

  /** X3 bigram-LM surprisal — the conditional upgrade of
    * q_unigram_logprob (fluency, not just vocabulary rarity: a doc of
    * common words in nonsense order scores high here and low there).
    * Bigrams are built IN-ROW (zip_with over the token array — no
    * positional self-join), counts are two map-side-combined aggregates,
    * and the per-token probability lookup is a hash join between two
    * SLIM (bigram, count) relations: at web scale the bigram vocabulary
    * shuffles rather than broadcasts and AQE picks broadcast when it
    * fits — identical shape to the unigram model. −ln p(w2|w1) =
    * −ln(c(w1 w2)/c(w1·)); ln is libm-dependent so the mean rounds to 6
    * places on both engines.
    */
  private def qBigramLogprob(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(s, dir, "documents")
    // the prefix word rides along from generation (struct element) — no
    // regex re-split of millions of bigram rows downstream
    val bgs = docs.select(col("doc_id"),
        explode(TextOps.bigramPairs(col("text"))).as("e"))
      .select(col("doc_id"), col("e.w1").as("w1"),
        concat_ws(" ", col("e.w1"), col("e.w2")).as("bg"))
    val bgc = bgs.groupBy("w1", "bg").agg(count(lit(1)).as("c"))
    val pc = bgc.groupBy("w1").agg(sum("c").as("c1"))
    val model = bgc.join(pc, "w1").select("bg", "c", "c1")
    bgs.join(model, "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(col("c").cast("double") / col("c1"))), 6).as("surprisal"))
      .orderBy("doc_id")
  }

  /** X3 exact heavy hitters: every term above a support threshold
    * (0.2% of token occurrences) with count and relative frequency —
    * two map-side-combined aggregates and a 1-row broadcast total; the
    * corpus shuffles once, keyed by term. EntryQueriesSpec's companion
    * asserts Spark's `count_min_sketch` estimates bound these exact
    * counts within ε·N (the sketch is the constant-memory path when the
    * term universe outgrows the exact aggregate; the declared query
    * stays exact and oracle-checkable).
    */
  private def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.table(s, dir, "documents")
      .select(explode(TextOps.tokens(col("text"))).as("term"))
    val tf = toks.groupBy("term").agg(count(lit(1)).as("c"))
    val total = tf.agg(sum("c").as("n_total"))
    tf.crossJoin(broadcast(total))
      .filter(col("c") >= col("n_total") * lit(0.002))
      .select(col("term"), col("c"),
        round(col("c").cast("double") / col("n_total"), 6).as("freq"))
      .orderBy(desc("c"), col("term"))
  }

  /** X1+ blocked fuzzy entity matching (entity resolution): dirty name
    * variants (DETERMINISTICALLY planted single-char edits, so the
    * oracle rebuilds the identical dirty set) are matched back to the
    * clean customer table by edit distance — candidates come from a
    * BLOCKING-key equi-join (shared 16-char prefix), so each record
    * compares against its bounded block (≤ suffix-universe names), never
    * the whole table: candidate volume stays linear in table size, which
    * is what makes string-similarity joins feasible at warehouse scale.
    * levenshtein evaluates only on block-mates, inside codegen.
    */
  private def qFuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.table(s, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_name").as("name"))
    val dirty = cust.filter(pmod(col("k"), lit(40L)) === 1)
      .select((col("k") + 1000000L).as("k"),
        concat(substring(col("name"), 1, 17), lit("X")).as("name"))
      .union(cust.filter(pmod(col("k"), lit(40L)) === 2)
        .select((col("k") + 2000000L).as("k"),
          expr("substring(name, 1, length(name) - 1)").as("name")))
    cust.as("a").join(dirty.as("b"),
        substring(col("a.name"), 1, 16) === substring(col("b.name"), 1, 16))
      .select(col("a.k").as("base_key"), col("b.k").as("dirty_key"),
        levenshtein(col("a.name"), col("b.name")).as("dist"))
      .filter(col("dist") <= 1)
      .orderBy("base_key", "dirty_key")
  }

  /** X3 RAG-style overlapping chunking: fixed token windows (16) with
    * stride 12 — each doc map-generates its chunk list in place
    * (sequence + slice over the token array; no shuffle anywhere except
    * the presentation sort), with token offsets carried for span
    * reconstruction. At corpus scale the same expression runs with
    * 512/448-token windows; chunk count per doc is ⌈(n−w)/s⌉+1 so output
    * volume is a fixed ~w/s multiple of the input.
    */
  private def qChunkOverlap(s: SparkSession, dir: String): DataFrame = {
    val win = 16
    val stride = 12
    val tk = TextOps.tokens(col("text"))
    val n = size(tk)
    val nChunks = when(n <= win, lit(1))
      .otherwise(ceil((n - win).cast("double") / stride).cast("int") + 1)
    Tables.table(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1), i =>
          struct((i * stride).cast("int").as("tok_start"),
            array_join(slice(tk, i * stride + 1, lit(win)), " ").as("chunk")))))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_id"),
        col("col.tok_start").as("tok_start"), col("col.chunk").as("chunk"))
      .orderBy("doc_id", "chunk_id")
  }

  /** X3 out-of-vocabulary rate: fraction of each doc's tokens outside the
    * top-k corpus vocabulary — the tokenizer-coverage diagnostic run
    * before committing to a vocab. Term frequencies are one map-side-
    * combined aggregate; the vocab ranking window is VOCABULARY-sized
    * (keyless by design — the term universe, not the corpus); the OOV
    * probe is a broadcast anti-join, so the corpus token stream never
    * shuffles for the lookup.
    */
  private def qOovRate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.table(s, dir, "documents")
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
    val tf = toks.groupBy("term").agg(count(lit(1)).as("c"))
    val vocab = tf
      .withColumn("rk", row_number().over(Window.orderBy(desc("c"), col("term"))))
      .filter(col("rk") <= 20).select("term")
    val perDoc = toks.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    val oov = toks.join(broadcast(vocab), Seq("term"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("n_oov"))
    perDoc.join(oov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        round(coalesce(col("n_oov"), lit(0L)).cast("double") / col("n_tok"), 6)
          .as("oov_rate"))
      .orderBy("doc_id")
  }

  /** F6+ winsorization: clip a metric at its exact p05/p95 — the robust-
    * stats companion of q_zscore_outliers (clip, don't drop). One exact-
    * percentile aggregate (single 2-fraction buffer) broadcast as one
    * row; the clip itself is a map-only least/greatest over the scan.
    */
  private def qWinsorize(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.table(s, dir, "orders")
    val qs = o.agg(expr("percentile(o_totalprice, array(0.05, 0.95))").as("_q"))
      .select(col("_q").getItem(0).as("lo"), col("_q").getItem(1).as("hi"))
    o.crossJoin(broadcast(qs))
      .select(col("o_orderkey"), col("o_totalprice"),
        least(greatest(col("o_totalprice"), col("lo")), col("hi")).as("clipped"),
        (col("o_totalprice") < col("lo") || col("o_totalprice") > col("hi"))
          .as("was_outlier"))
      .orderBy("o_orderkey")
  }

  /** O1+ linear interpolation of time-series gaps — the numeric upgrade
    * of forward-fill (q_ffill): missing daily values (DETERMINISTICALLY
    * planted: day-of-month ≡ 3 mod 7, so the oracle plants the same
    * holes) are rebuilt as the time-weighted blend of the nearest
    * non-null neighbors; a missing tail extrapolates to the last seen
    * value. Corpus-scale work is the daily aggregate; the interpolation
    * windows run per event_type over the CALENDAR-bounded daily table
    * and carry (value, day) pairs both directions with IGNORE NULLS
    * (one sorted pass, no self-join on time).
    */
  private def qInterpolate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(Scalar.stableSum(col("value")).as("v0"))
      .withColumn("v", when(dayofmonth(col("day")) % 7 === 3, lit(null)
        .cast("double")).otherwise(col("v0")))
    val before = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val after = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(1, Window.unboundedFollowing)
    val pv = last(col("v"), ignoreNulls = true).over(before)
    val pd = last(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(before)
    val nv = first(col("v"), ignoreNulls = true).over(after)
    val nd = first(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(after)
    daily
      .withColumn("filled", round(coalesce(col("v"),
        pv + (nv - pv) * (datediff(col("day"), pd).cast("double") /
          datediff(nd, pd)), pv, nv), 6))
      .select(col("event_type"), col("day"), col("v"), col("filled"))
      .orderBy("event_type", "day")
  }

  /** S6+ JSONL sink roundtrip: the events feed written as JSON lines (the
    * interchange format of every web-scraped training corpus), read back
    * with an EXPLICIT schema (a streaming/batch JSON scan must never
    * infer), aggregated — value-exact against the parquet oracle, which
    * pins both the writer's number formatting (shortest roundtrip repr)
    * and the reader's parse.
    */
  private def qSinkJsonl(s: SparkSession, dir: String): DataFrame = {
    val tmp = tmpDir("sink_jsonl", dir)
    LocalFs.scoped(s, tmp) {
      Tables.events(s, dir).select("event_id", "event_type", "value")
        .write.mode("overwrite").json(tmp)
    }
    s.read.schema("event_id BIGINT, event_type STRING, value DOUBLE").json(tmp)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), Scalar.stableSum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  /** S6+ XML sink roundtrip over Spark 4's BUILT-IN xml source (the
    * config/feed interchange sibling of q_sink_jsonl): events written as
    * <event> row elements, read back with an explicit schema + rowTag,
    * aggregated value-exact vs the parquet oracle — doubles survive the
    * text roundtrip via shortest-repr serialization, same as JSON lines.
    */
  private def qSinkXml(s: SparkSession, dir: String): DataFrame = {
    val tmp = tmpDir("sink_xml", dir)
    LocalFs.scoped(s, tmp) {
      Tables.events(s, dir).select("event_id", "event_type", "value")
        .write.mode("overwrite").option("rowTag", "event").format("xml").save(tmp)
    }
    s.read.schema("event_id BIGINT, event_type STRING, value DOUBLE")
      .option("rowTag", "event").format("xml").load(tmp)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), Scalar.stableSum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  /** P5+ recursive-CTE reachability (Spark 4's WITH RECURSIVE — the SQL
    * surface's iteration primitive): min-hop distance from nation 0 to
    * every nation reachable over the distinct customer-nation →
    * supplier-nation trade edges. The ONE corpus pass is the edge CTE
    * (equi-join chain + distinct); the recursion then runs on the
    * dimension-bounded ≤25-node graph with an explicit depth guard, so
    * UNION ALL path multiplication is nation-bounded, never corpus-
    * scaled — the honest shape for recursive SQL at 100 TB. IDENTICAL
    * ANSI text runs on both engines.
    */
  private val sqlReachabilityText: String =
    """WITH RECURSIVE e AS (
      |  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey),
      |reach(n, d) AS (
      |  SELECT CAST(0 AS BIGINT) AS n, 0 AS d
      |  UNION ALL
      |  SELECT e.dst, r.d + 1 FROM reach r JOIN e ON e.src = r.n
      |  WHERE r.d < 3)
      |SELECT n AS nationkey, CAST(MIN(d) AS BIGINT) AS hops
      |FROM reach GROUP BY n ORDER BY n""".stripMargin

  private def qSqlReachability(s: SparkSession, dir: String): DataFrame = {
    Tables.table(s, dir, "customer").createOrReplaceTempView("customer")
    Tables.table(s, dir, "orders").createOrReplaceTempView("orders")
    Tables.table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    Tables.table(s, dir, "supplier").createOrReplaceTempView("supplier")
    s.sql(sqlReachabilityText)
  }

  /** §2.3+ second SQL-surface query (TPC-H Q3 shape): 3-relation join
    * DAG, derived revenue measure, top-10 — exercised through
    * `spark.sql` so the textual surface plans multi-joins + agg + sort +
    * limit, not just the DataFrame API. Revenue accumulates via the
    * operand-cast decimal pattern (each factor exact at its scale, exact
    * decimal product/sum — partitioning- and engine-stable; Spark plans
    * the final sort+limit as TakeOrderedAndProject, a bounded heap).
    */
  private def qSqlTopOrders(s: SparkSession, dir: String): DataFrame = {
    Tables.table(s, dir, "customer").createOrReplaceTempView("customer")
    Tables.table(s, dir, "orders").createOrReplaceTempView("orders")
    Tables.table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    // Spark side accumulates at DECIMAL(18,6): the 18,6×18,6 product is
    // an exact DECIMAL(37,12), while 19,6×19,6 would exceed precision 38
    // and get silently ADJUSTED to (38,11) — one rounded scale digit the
    // DuckDB side (which genuinely needs 19,6; see Scalar.stableSumProdSql)
    // keeps. The asymmetry is the documented cross-engine convention.
    s.sql(
      """SELECT o.o_orderkey,
        |  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
        |           * CAST(1 - l.l_discount AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS revenue,
        |  o.o_orderdate
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY o.o_orderkey, o.o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin)
  }

  /** A1+ cohort retention — the canonical warehouse activity analysis:
    * each user's cohort is their first active day; the grid counts
    * distinct active users per (cohort, day-offset). Two aggregates and
    * one equi-join on user_id, all map-side combinable; the output is
    * calendar²-bounded regardless of event volume.
    */
  private def qCohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val first = ev.groupBy("user_id").agg(min("day").as("cohort"))
    ev.join(first, "user_id")
      .groupBy(col("cohort"), datediff(col("day"), col("cohort")).as("day_offset"))
      .agg(countDistinct("user_id").as("active_users"))
      .orderBy("cohort", "day_offset")
  }

  /** A1+ ordered event funnel (view → click → purchase, strictly in
    * order): per-stage first-completion times via one aggregate per
    * stage + equi-joins on user_id with a time inequality — never a
    * window over the raw event stream, so each stage's shuffle carries
    * one row per surviving user. Output: one row of stage counts.
    */
  private def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .agg(count("t1").as("n_viewed"), count("t2").as("n_clicked"),
        count("t3").as("n_purchased"))
  }

  /** X3 bigram PMI collocations: pointwise mutual information
    * ln(N·c(xy) / (c(x·)·c(·y))) over the corpus bigram counts — the
    * classic collocation detector. All three count tables are map-side-
    * combined aggregates; the prefix/suffix lookups join VOCABULARY-sized
    * relations; min-count floor keeps the estimator away from singleton
    * noise. ln rounds to 6 places (libm parity).
    */
  private def qBigramPmi(s: SparkSession, dir: String): DataFrame = {
    val bgs = Tables.table(s, dir, "documents")
      .select(explode(TextOps.bigramPairs(col("text"))).as("e"))
      .select(col("e.w1").as("w1"), col("e.w2").as("w2"))
    val bgc = bgs.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val total = bgc.agg(sum("c").as("n_total"))
    val pre = bgc.groupBy("w1").agg(sum("c").as("c1"))
    val suf = bgc.groupBy("w2").agg(sum("c").as("c2"))
    // the marginal product goes through DOUBLE: web-scale marginals
    // (c1, c2 ~ 1e11 for stopword pairs) overflow a long product, and
    // counts are < 2^53 so the double is exact anyway
    bgc.filter(col("c") >= 5)
      .join(pre, "w1").join(suf, "w2").crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c"),
        round(log(col("c").cast("double") * col("n_total") /
          (col("c1").cast("double") * col("c2"))), 6).as("pmi"))
      .orderBy(desc("pmi"), col("w1"), col("w2"))
      .limit(50)
  }

  /** This family's share of SparkEntry.queries. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_cms" -> (qStreamCms _),
    "q_token_entropy" -> (qTokenEntropy _),
    "q_ewma_daily" -> (qEwmaDaily _),
    "q_ann_batch" -> (qAnnBatch _),
    "q_stream_enrich" -> (qStreamEnrich _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_scd2" -> (qScd2 _),
    "q_cdc_merge" -> (qCdcMerge _),
    "q_bloom_join" -> (qBloomJoin _),
    "q_embed_gram" -> (qEmbedGram _),
    "q_pca_power" -> (qPcaPower _),
    "q_sliding_window" -> (qSlidingWindow _),
    "q_window_distribution" -> (qWindowDistribution _),
    "q_zorder_key" -> (qZorderKey _),
    "q_stream_join" -> (qStreamJoin _),
    "q_bigram_logprob" -> (qBigramLogprob _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_fuzzy_match" -> (qFuzzyMatch _),
    "q_chunk_overlap" -> (qChunkOverlap _),
    "q_oov_rate" -> (qOovRate _),
    "q_winsorize" -> (qWinsorize _),
    "q_interpolate" -> (qInterpolate _),
    "q_sink_jsonl" -> (qSinkJsonl _),
    "q_sink_xml" -> (qSinkXml _),
    "q_sql_reachability" -> (qSqlReachability _),
    "q_sql_top_orders" -> (qSqlTopOrders _),
    "q_cohort_retention" -> (qCohortRetention _),
    "q_funnel" -> (qFunnel _),
    "q_bigram_pmi" -> (qBigramPmi _),
  )

  /** This family's share of SparkEntry.oracleSql. */
  def oracleSql: Map[String, String] = Map(
    // the stream processes the one-file feed exactly once, so the cell
    // table ≡ this batch derivation from per-type counts
    "q_stream_cms" ->
      s"""WITH ec AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_cnt
         |  FROM events GROUP BY 1
         |), eh AS (
         |  SELECT event_type, exact_cnt, ${mixedSql("event_type")} AS h FROM ec
         |), rws AS (SELECT unnest(range(0, 4)) AS r),
         |cells AS (
         |  SELECT r, ((2*r+1)*h + 12345*r + 1) % 2147483647 % 64 AS bucket,
         |    CAST(SUM(exact_cnt) AS BIGINT) AS cell
         |  FROM eh CROSS JOIN rws GROUP BY 1, 2)
         |SELECT event_type, exact_cnt, MIN(cell) AS cms_est,
         |  MIN(cell) - exact_cnt AS overcount
         |FROM (SELECT e.event_type, e.exact_cnt, c.cell
         |      FROM eh e CROSS JOIN rws r JOIN cells c ON c.r = r.r
         |        AND c.bucket = ((2*r.r+1)*e.h + 12345*r.r + 1) % 2147483647 % 64)
         |GROUP BY 1, 2 ORDER BY event_type""".stripMargin,
    "q_token_entropy" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  round((ln(CAST(SUM(c) AS DOUBLE))
        |         - SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
        |           / CAST(SUM(c) AS DOUBLE)) / ln(2.0), 6) AS entropy
        |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_ewma_daily" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |), pre AS (
        |  SELECT event_type, day, n,
        |    array_agg(CAST(n AS DOUBLE)) OVER (PARTITION BY event_type
        |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hist
        |  FROM daily)
        |SELECT event_type, day, n,
        |  round(list_reduce(hist, (acc, x) -> acc * 0.75 + x * 0.25), 9) AS ewma
        |FROM pre ORDER BY event_type, day""".stripMargin,
    "q_ann_batch" ->
      s"""WITH $embedBucketCtes, acands AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
         |  FROM bd q JOIN bd c
         |    ON q.band = c.band AND q.bkt = c.bkt AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10
         |), scored AS (
         |  SELECT query_id, acands.vec_id,
         |    ${cosSql("qa.embedding", "ca.embedding")} AS sim
         |  FROM acands JOIN embeddings qa ON acands.query_id = qa.vec_id
         |              JOIN embeddings ca ON acands.vec_id = ca.vec_id
         |), ranked AS (
         |  SELECT query_id, vec_id, sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, vec_id) AS INTEGER) AS rk
         |  FROM scored)
         |SELECT query_id, vec_id, sim, rk FROM ranked
         |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    "q_stream_enrich" ->
      s"""SELECT n.n_name, e.event_type, COUNT(*) AS n,
         |  ${ss("e.value")} AS sum_value
         |FROM events e
         |JOIN customer c ON e.user_id = c.c_custkey
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |GROUP BY 1, 2 ORDER BY n_name, event_type""".stripMargin,
    "q_grouping_sets" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${ss("l_quantity")} AS sum_qty, COUNT(*) AS n,
         |  CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
         |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_scd2" ->
      """SELECT user_id,
        |  CAST(row_number() OVER w AS INTEGER) AS version,
        |  event_id, ts AS valid_from,
        |  lead(ts) OVER w AS valid_to,
        |  (lead(ts) OVER w IS NULL) AS is_current,
        |  value AS plan_value
        |FROM events WHERE event_type = 'signup'
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,
    "q_cdc_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |), chg AS (
        |  SELECT o_orderkey, 1 AS seq, 'U' AS op,
        |    o_totalprice + 10.0 AS p, 'P' AS st FROM base WHERE o_orderkey % 100 = 3
        |  UNION ALL SELECT o_orderkey, 2, 'U',
        |    o_totalprice + 20.0, 'F' FROM base WHERE o_orderkey % 1000 = 3
        |  UNION ALL SELECT o_orderkey, 1, 'D',
        |    NULL, NULL FROM base WHERE o_orderkey % 100 = 7
        |  UNION ALL SELECT o_orderkey + 100000000, 1, 'I',
        |    1.0, 'O' FROM base WHERE o_orderkey % 100 = 11
        |), latest AS (
        |  SELECT * FROM (
        |    SELECT chg.*, row_number() OVER (
        |      PARTITION BY o_orderkey ORDER BY seq DESC) AS rn FROM chg)
        |  WHERE rn = 1)
        |SELECT o_orderkey,
        |  COALESCE(l.p, b.o_totalprice) AS o_totalprice,
        |  COALESCE(l.st, b.o_orderstatus) AS o_orderstatus
        |FROM base b FULL OUTER JOIN latest l USING (o_orderkey)
        |WHERE COALESCE(l.op, '') <> 'D'
        |ORDER BY o_orderkey""".stripMargin,
    "q_bloom_join" ->
      s"""SELECT l_returnflag, ${ss("l_quantity")} AS sum_qty, COUNT(*) AS n
         |FROM lineitem
         |WHERE l_orderkey IN (
         |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_pca_power" -> pcaPowerOracle,
    "q_embed_gram" ->
      """WITH ex AS (
        |  SELECT vec_id, CAST(i AS INTEGER) AS i,
        |    CAST(embedding[i + 1] AS DOUBLE) AS x
        |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
        |), g AS (
        |  SELECT a.i AS i, b.i AS j,
        |    CAST(SUM(CAST(floor((a.x * b.x) * 1e12) AS BIGINT)) AS BIGINT) AS g12
        |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.i >= a.i
        |  GROUP BY 1, 2)
        |SELECT i, j, g12, CAST(g12 AS DOUBLE) / 1e12 AS g
        |FROM g ORDER BY i, j""".stripMargin,
    "q_sliding_window" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, n, sum_value,
        |  CAST(SUM(n) OVER w AS BIGINT) AS n_7d,
        |  CAST(CAST(SUM(CAST(sum_value AS DECIMAL(18,6))) OVER w AS VARCHAR(64)) AS DOUBLE) AS sum_value_7d
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |  RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,
    "q_window_distribution" ->
      """SELECT event_id, event_type, value,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cdf
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_id""".stripMargin,
    "q_zorder_key" -> {
      val zk = graft.functions.ZOrder.zOrderKeySql(
        "(o_custkey % 65536)",
        "(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 65536)")
      s"""SELECT o_orderkey, $zk AS zkey
         |FROM orders ORDER BY zkey, o_orderkey""".stripMargin
    },
    "q_stream_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
        |  p.ts AS p_ts, v.ts AS v_ts
        |FROM events p JOIN events v
        |  ON v.user_id = p.user_id
        |  AND p.event_type = 'purchase' AND v.event_type <> 'purchase'
        |  AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 30 MINUTE
        |ORDER BY purchase_id, view_id""".stripMargin,
    "q_bigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |bgs AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bg
        |  FROM toks),
        |bgc AS (SELECT bg, COUNT(*) AS c FROM bgs GROUP BY bg),
        |pc AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c) AS BIGINT) AS c1
        |       FROM bgc GROUP BY 1),
        |model AS (
        |  SELECT bg, c, c1 FROM bgc JOIN pc ON split_part(bg, ' ', 1) = pc.w1)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  round(AVG(-ln(CAST(c AS DOUBLE) / c1)), 6) AS surprisal
        |FROM bgs JOIN model USING (bg)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM tf)
        |SELECT term, c, round(CAST(c AS DOUBLE) / n_total, 6) AS freq
        |FROM tf, tot
        |WHERE c >= n_total * 0.002
        |ORDER BY c DESC, term""".stripMargin,
    "q_fuzzy_match" ->
      """WITH cust AS (SELECT c_custkey AS k, c_name AS name FROM customer),
        |dirty AS (
        |  SELECT k + 1000000 AS k, substring(name, 1, 17) || 'X' AS name
        |  FROM cust WHERE k % 40 = 1
        |  UNION ALL
        |  SELECT k + 2000000, substring(name, 1, length(name) - 1)
        |  FROM cust WHERE k % 40 = 2)
        |SELECT a.k AS base_key, b.k AS dirty_key,
        |  CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
        |FROM cust a JOIN dirty b
        |  ON substring(a.name, 1, 16) = substring(b.name, 1, 16)
        |WHERE levenshtein(a.name, b.name) <= 1
        |ORDER BY base_key, dirty_key""".stripMargin,
    "q_chunk_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tk,
        |    CASE WHEN len(tk) <= 16 THEN 1
        |         ELSE CAST(ceil((len(tk) - 16) / 12.0) AS INTEGER) + 1 END AS n_chunks
        |  FROM toks),
        |e AS (
        |  SELECT doc_id, tk, unnest(range(0, n_chunks)) AS i FROM c)
        |SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
        |  CAST(i * 12 AS INTEGER) AS tok_start,
        |  array_to_string(tk[i*12+1 : i*12+16], ' ') AS chunk
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin,
    "q_oov_rate" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
        |vocab AS (
        |  SELECT term FROM (
        |    SELECT term, row_number() OVER (ORDER BY c DESC, term) AS rk FROM tf)
        |  WHERE rk <= 20),
        |per_doc AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id),
        |oov AS (
        |  SELECT doc_id, COUNT(*) AS n_oov FROM toks
        |  WHERE term NOT IN (SELECT term FROM vocab)
        |  GROUP BY doc_id)
        |SELECT p.doc_id, p.n_tok,
        |  COALESCE(o.n_oov, 0) AS n_oov,
        |  round(CAST(COALESCE(o.n_oov, 0) AS DOUBLE) / p.n_tok, 6) AS oov_rate
        |FROM per_doc p LEFT JOIN oov o ON p.doc_id = o.doc_id
        |ORDER BY p.doc_id""".stripMargin,
    "q_winsorize" ->
      """WITH q AS (
        |  SELECT percentile_cont(0.05) WITHIN GROUP (ORDER BY o_totalprice) AS lo,
        |         percentile_cont(0.95) WITHIN GROUP (ORDER BY o_totalprice) AS hi
        |  FROM orders)
        |SELECT o_orderkey, o_totalprice,
        |  least(greatest(o_totalprice, lo), hi) AS clipped,
        |  (o_totalprice < lo OR o_totalprice > hi) AS was_outlier
        |FROM orders, q ORDER BY o_orderkey""".stripMargin,
    "q_interpolate" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS v0
        |  FROM events GROUP BY 1, 2),
        |holes AS (
        |  SELECT event_type, day,
        |    CASE WHEN dayofmonth(day) % 7 = 3 THEN NULL ELSE v0 END AS v
        |  FROM daily),
        |ctx AS (
        |  SELECT event_type, day, v,
        |    last_value(v IGNORE NULLS) OVER wb AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wb AS pd,
        |    first_value(v IGNORE NULLS) OVER wa AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wa AS nd
        |  FROM holes
        |  WINDOW wb AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |  wa AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT event_type, day, v,
        |  round(COALESCE(v,
        |    pv + (nv - pv) * (CAST(date_diff('day', pd, day) AS DOUBLE)
        |                      / date_diff('day', pd, nd)),
        |    pv, nv), 6) AS filled
        |FROM ctx ORDER BY event_type, day""".stripMargin,
    "q_sink_jsonl" ->
      s"""SELECT event_type, COUNT(*) AS n, ${ss("value")} AS sum_value
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // same contract as q_sink_jsonl: the roundtrip must be value-exact,
    // so the oracle aggregates the source table directly
    "q_sink_xml" ->
      s"""SELECT event_type, COUNT(*) AS n, ${ss("value")} AS sum_value
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical ANSI text on both engines
    "q_sql_reachability" -> sqlReachabilityText,
    "q_sql_top_orders" ->
      s"""SELECT o.o_orderkey,
         |  ${sp("l.l_extendedprice", "1 - l.l_discount")} AS revenue,
         |  o.o_orderdate
         |FROM customer c
         |JOIN orders o ON c.c_custkey = o.o_custkey
         |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |WHERE c.c_mktsegment = 'BUILDING'
         |GROUP BY o.o_orderkey, o.o_orderdate
         |ORDER BY revenue DESC, o_orderkey
         |LIMIT 10""".stripMargin,
    "q_cohort_retention" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |first AS (SELECT user_id, MIN(day) AS cohort FROM ev GROUP BY 1)
        |SELECT cohort,
        |  CAST(date_diff('day', cohort, day) AS INTEGER) AS day_offset,
        |  COUNT(DISTINCT e.user_id) AS active_users
        |FROM ev e JOIN first f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin,
    "q_funnel" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
        |SELECT COUNT(t1) AS n_viewed, COUNT(t2) AS n_clicked,
        |  COUNT(t3) AS n_purchased
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id""".stripMargin,
    "q_bigram_pmi" ->
      """WITH toks AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
        |e AS (SELECT tk, unnest(range(1, len(tk))) AS i FROM toks),
        |bgs AS (SELECT tk[i] AS w1, tk[i+1] AS w2 FROM e),
        |bgc AS (SELECT w1, w2, COUNT(*) AS c FROM bgs GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM bgc),
        |pre AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c1 FROM bgc GROUP BY 1),
        |suf AS (SELECT w2, CAST(SUM(c) AS BIGINT) AS c2 FROM bgc GROUP BY 1)
        |SELECT b.w1, b.w2, b.c,
        |  round(ln(CAST(b.c AS DOUBLE) * n_total / (CAST(c1 AS DOUBLE) * c2)), 6) AS pmi
        |FROM bgc b JOIN pre USING (w1) JOIN suf USING (w2), tot
        |WHERE b.c >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin,
  )
}
