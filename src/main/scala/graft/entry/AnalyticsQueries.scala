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

/** Dedup groups/keep-best, statistics (corr, z-score, histograms),
  * TF-IDF, semi/anti/range joins, sampling, sketches and SQL-surface
  * queries — the round-2 widening families.
  *
  * One `queries` entry per operator (driver contract) with its DuckDB
  * `oracleSql` twin; split out of the monolithic SparkEntry (round-5
  * verdict ask #8), zero behavior change.
  */
private[graft] object AnalyticsQueries {
  // =====================================================================
  // round-2 widening: dedup groups, stats, TF-IDF, joins, sampling
  // =====================================================================

  /** X1 dedup GROUPS: near-dup pairs (exact n-gram Jaccard >= 0.5) fed
    * through min-label connected components — every doc labeled with the
    * smallest doc_id in its similarity component (the keep-one-per-group
    * step of a dedup pipeline). Oracle: recursive-CTE transitive closure.
    */
  private def qDedupGroups(s: SparkSession, dir: String): DataFrame =
    njGroups(s, dir).orderBy("doc_id")

  /** X1 end-to-end dedup: similarity groups → keep ONE doc per group, the
    * one with the best quality score (doc_id tiebreak) — the row set a
    * training pipeline actually emits after near-dup detection.
    */
  private def qDedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.table(s, dir, "documents")
    val groups = njGroups(s, dir)
    val w = Window.partitionBy("group_id").orderBy(desc("score"), asc("doc_id"))
    docs.join(groups, "doc_id")
      .withColumn("score", TextOps.qualityScore(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("group_id", "doc_id", "score")
      .orderBy("group_id")
  }

  /** Correlation + stddev per quarter from exact decimal moments — the
    * built-in corr()/stddev() double accumulators are combine-order-
    * dependent, so at 1000-executor scale they are not reproducible;
    * moments in exact DECIMAL then one double formula are.
    */
  private def qCorrStats(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.table(s, dir, "lineitem")
    val n = count(lit(1)).cast("double")
    li.groupBy(Scalar.toQuarter(col("l_shipdate")).as("Quarter"))
      .agg(n.as("n"),
        Scalar.stableSum(col("l_quantity")).as("sx"),
        Scalar.stableSum(col("l_extendedprice")).as("sy"),
        Scalar.stableSumProd(col("l_quantity"), col("l_quantity")).as("sxx"),
        Scalar.stableSumProd(col("l_extendedprice"), col("l_extendedprice")).as("syy"),
        Scalar.stableSumProd(col("l_quantity"), col("l_extendedprice")).as("sxy"))
      .select(col("Quarter"),
        // corr's numerator n·Σxy − Σx·Σy cancels catastrophically (the
        // result is ~1e-3 of the operands), so a 1-ulp FMA-contraction
        // difference between engines surfaces at ~1e-13 relative — round
        // to 9 decimals on both sides to absorb it. std has no such
        // cancellation and stays exact.
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 9).as("corr_qty_price"),
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
          (col("n") * (col("n") - 1))).as("std_qty"))
      .orderBy("Quarter")
  }

  /** X3 TF-IDF: top-5 terms per doc by tf·ln(N/df). Scores are rounded to
    * 10 decimals BEFORE ranking on both engines — ln() may differ by 1 ulp
    * between libm implementations, and the rounded value is what the
    * row_number orders by, so ranking and output stay cross-engine stable.
    */
  private def qTfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.table(s, dir, "documents")
    val terms = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
      .withColumn("len", sum("cnt").over(Window.partitionBy("doc_id")))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(nDocs))
      .withColumn("score",
        round((col("cnt").cast("double") / col("len")) *
          log(col("n_docs").cast("double") / col("df")), 10))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("score"), asc("term"))))
      .filter(col("rk") <= 5)
      .select(col("doc_id"), col("term"), col("score"))
      .orderBy("doc_id", "term")
  }

  /** Semi/anti join vocabulary: customers with vs without orders, tagged
    * into one result (EXISTS / NOT EXISTS in the oracle). Left-semi/anti
    * are the forms that never duplicate or widen rows — at scale they
    * shuffle only the key column.
    */
  private def qJoinSemiAnti(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.table(s, dir, "customer").select("c_custkey", "c_mktsegment")
    val o = Tables.table(s, dir, "orders").select(col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .withColumn("op", lit("has_orders"))
      .unionByName(
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .withColumn("op", lit("no_orders")))
      .orderBy("c_custkey")
  }

  /** Fixed-width 20-bin histogram of o_totalprice: global min/max in one
    * tiny agg (broadcast), bin = floor((x-min)/w) capped into the last
    * bin. All-double IEEE arithmetic — bin edges identical cross-engine.
    * Degenerate guard: all-equal values give w=0 and 0/0; both engines
    * pin that case to bin 0 instead of relying on NaN semantics.
    */
  private def qHistogram(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.table(s, dir, "orders")
    val mm = o.agg(min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"))
    o.crossJoin(broadcast(mm))
      .withColumn("w", (col("mx") - col("mn")) / lit(20.0))
      .withColumn("bin",
        when(col("mx") === col("mn"), lit(0.0))
          .otherwise(least(floor((col("o_totalprice") - col("mn")) / col("w")), lit(19.0)))
          .cast("int"))
      .groupBy("bin")
      .agg((first(col("mn")) + col("bin") * first(col("w"))).as("lo"),
        count(lit(1)).as("n"))
      .select("bin", "lo", "n")
      .orderBy("bin")
  }

  /** Z-score outliers per quarter from exact decimal moments (same
    * stability argument as qCorrStats). Threshold 1.7, not the textbook 3:
    * o_totalprice is uniform-ish, and a uniform's |z| caps at sqrt(3) ≈
    * 1.73 — anything above that returns nothing on this data.
    */
  private def qZscoreOutliers(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.table(s, dir, "orders")
      .withColumn("Quarter", Scalar.toQuarter(col("o_orderdate")))
    val n = count(lit(1)).cast("double")
    val mom = o.groupBy("Quarter")
      .agg(n.as("n"), Scalar.stableSum(col("o_totalprice")).as("s1"),
        Scalar.stableSumProd(col("o_totalprice"), col("o_totalprice")).as("s2"))
      .select(col("Quarter"), (col("s1") / col("n")).as("mean"),
        sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)).as("std"))
    o.join(broadcast(mom), "Quarter")
      // rounded like corr_qty_price: the mean/std derivation is exposed to
      // FMA-contraction ulp differences between engines
      .withColumn("z", round((col("o_totalprice") - col("mean")) / col("std"), 9))
      .filter(abs(col("z")) > 1.7)
      .select("o_orderkey", "Quarter", "o_totalprice", "z")
      .orderBy("o_orderkey")
  }

  /** A2+ Gini coefficient of positive customer balances — the inequality
    * statistic of a weight/quality distribution (data-mix audits ask it of
    * token counts per source). Exact end to end: balances quantize to
    * BIGINT micros; ties aggregate per DISTINCT value (count c, exclusive
    * prefix-count b via the DISTRIBUTED two-level prefix sum, never a
    * one-task global window over the fact table), and each value's
    * rank-sum contribution xq·(2cb + c(c+1)) is closed-form — so both
    * engines reduce identical BIGINTs and the only doubles are two final
    * IEEE divisions. Integer headroom: Σ xq·2cb ≤ 2n²·xq_max ≈ 1e18 at
    * sf1; beyond that drop the 1e6 quantization a decade.
    */
  private def qGini(s: SparkSession, dir: String): DataFrame = {
    // Eager checkpoint: prefixSum's repartitionByRange samples its input,
    // which would otherwise run the aggregate twice (q_weighted_median
    // precedent).
    val vals = Tables.table(s, dir, "customer")
      .filter(col("c_acctbal") > 0.0)
      .groupBy(floor(col("c_acctbal") * lit(1000000.0)).cast("long").as("xq"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val cum = Ordered.prefixSum(vals, Seq(col("xq")), col("c"), "b")
    cum.agg(
        sum(col("xq") * (lit(2L) * col("c") * col("b") + col("c") * (col("c") + 1)))
          .as("s2"),
        sum(col("xq") * col("c")).as("sv"),
        sum(col("c")).as("n"))
      .select(col("n"),
        (col("s2").cast("double") / (col("n") * col("sv")).cast("double")
          - (col("n") + 1).cast("double") / col("n").cast("double")).as("gini"))
  }

  /** A2+ two-sample Kolmogorov–Smirnov statistic: BUILDING vs MACHINERY
    * account-balance distributions — the drift test a curation pipeline
    * runs between a corpus snapshot and its refresh (sibling of
    * q_drift_psi's binned PSI, but bin-free). Exact: per DISTINCT
    * quantized value the two sample counts aggregate (map-side
    * combinable), the CDF gap is the INTEGER |cum1·n2 − cum2·n1|, and
    * only the final max-gap / (n1·n2) divides in double. The cumulative
    * window runs over the distinct-value table (value-bounded, the
    * q_vocab_coverage precedent), not the fact table.
    */
  private def qKsTest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Tables.table(s, dir, "customer")
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
    val vals = c.groupBy(floor(col("c_acctbal") * lit(1000000.0)).cast("long").as("xq"))
      .agg(sum(when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)).as("c1"),
        sum(when(col("c_mktsegment") === "MACHINERY", 1L).otherwise(0L)).as("c2"))
    val w = Window.orderBy("xq").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gaps = vals
      .withColumn("cum1", sum("c1").over(w))
      .withColumn("cum2", sum("c2").over(w))
    val tot = vals.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    gaps.crossJoin(broadcast(tot))
      .agg(first(col("n1")).as("n1"), first(col("n2")).as("n2"),
        max(abs(col("cum1") * col("n2") - col("cum2") * col("n1"))).as("maxgap"))
      .select(col("n1"), col("n2"),
        (col("maxgap").cast("double") / (col("n1") * col("n2")).cast("double"))
          .as("ks_stat"))
  }

  /** A2+ lag-k autocorrelation of the daily event-value series (k = 1, 7)
    * — the seasonality probe of an ingest-volume monitor. The corpus-scale
    * work is ONE map-side-combinable daily aggregate (exact decimal sums);
    * the lag join and Pearson moments run over the day-count-sized series
    * with the q_corr_stats exact-decimal-moment + round-9 convention.
    */
  private def qAutocorr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(Scalar.stableSum(col("value")).as("v"))
    val w = Window.orderBy("d")
    val lagged = daily
      .withColumn("v1", lag("v", 1).over(w))
      .withColumn("v7", lag("v", 7).over(w))
      .localCheckpoint() // day-count-sized; reused by both lag aggregates
    def corrAt(vk: String, k: Int): DataFrame = {
      val p = lagged.filter(col(vk).isNotNull)
      val n = count(lit(1)).cast("double")
      p.agg(n.as("n"),
          Scalar.stableSum(col("v")).as("sx"), Scalar.stableSum(col(vk)).as("sy"),
          Scalar.stableSumProd(col("v"), col("v")).as("sxx"),
          Scalar.stableSumProd(col(vk), col(vk)).as("syy"),
          Scalar.stableSumProd(col("v"), col(vk)).as("sxy"))
        .select(lit(k).as("lag"), col("n").cast("long").as("n_pairs"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 9).as("autocorr"))
    }
    corrAt("v1", 1).unionByName(corrAt("v7", 7)).orderBy("lag")
  }

  /** P5+ 2-D skyline (Pareto frontier): parts no other part strictly beats
    * on BOTH lower size and higher price — multi-objective shortlist
    * (quality-vs-length doc triage at corpus scale). The naive form is the
    * O(n²) dominance anti-join the oracle spells; the engine form is
    * linear: max price per DISTINCT size (map-side combinable), running
    * max over strictly-smaller sizes on that size-bounded table, then one
    * broadcast join back — a part survives iff no strictly-smaller size
    * reached a strictly-higher price.
    */
  private def qSkyline(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = Tables.table(s, dir, "part")
    val bySize = p.groupBy("p_size").agg(max("p_retailprice").as("mp"))
    val w = Window.orderBy("p_size").rowsBetween(Window.unboundedPreceding, -1)
    val cm = bySize.withColumn("best_smaller", max("mp").over(w))
      .select("p_size", "best_smaller")
    p.join(broadcast(cm), "p_size")
      .filter(col("best_smaller").isNull || col("best_smaller") <= col("p_retailprice"))
      .select("p_partkey", "p_size", "p_retailprice")
      .orderBy("p_partkey")
  }

  /** O2+ interval union (gaps-and-islands merge): each event spans
    * [ts, ts+5min]; overlapping spans per user merge, yielding interval
    * count and exact covered milliseconds — retention-window coverage /
    * downtime math. Per-user windows (partitioned, scalable); epoch-ms
    * BIGINTs end to end, (t, event_id) ordering pins tie order on both
    * engines. A new island starts when t exceeds the running max end of
    * all prior spans (touching endpoints merge).
    */
  private def qIntervalMerge(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gap = 300000L
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("t"))
    val wOrd = Window.partitionBy("user_id").orderBy("t", "event_id")
    val runmaxPrev = max(col("t")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val flagged = e.withColumn("new_i",
      when(runmaxPrev.isNull || col("t") > runmaxPrev + gap, 1L).otherwise(0L))
    val islands = flagged.withColumn("island",
      sum("new_i").over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands.groupBy("user_id", "island")
      .agg(min("t").as("start_ms"), (max("t") + gap).as("end_ms"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("end_ms") - col("start_ms")).as("covered_ms"))
      .orderBy("user_id")
  }

  /** A2+ pointwise mutual information between two categorical columns
    * (market segment × order priority) — the feature-association probe of
    * a mix audit (does source correlate with language?). All counts are
    * exact integers from two combinable aggregates; the only transcendental
    * is one ln over an integer rational, rounded to 9 (the q_corr_stats /
    * q_tfidf libm-parity convention). Cell-count-bounded output.
    */
  private def qMutualInfo(s: SparkSession, dir: String): DataFrame = {
    val j = Tables.table(s, dir, "orders").join(Tables.table(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_orderpriority").as("prio"))
    val cells = j.groupBy("seg", "prio").agg(count(lit(1)).as("n_xy"))
      .localCheckpoint() // reused by the three marginal joins below
    val rows = cells.groupBy("seg").agg(sum("n_xy").as("n_x"))
    val cols = cells.groupBy("prio").agg(sum("n_xy").as("n_y"))
    val tot = cells.agg(sum("n_xy").as("n"))
    cells.join(broadcast(rows), "seg").join(broadcast(cols), "prio")
      .crossJoin(broadcast(tot))
      .select(col("seg"), col("prio"), col("n_xy"),
        round(log((col("n_xy") * col("n")).cast("double") /
          (col("n_x") * col("n_y")).cast("double")), 9).as("pmi"))
      .orderBy("seg", "prio")
  }

  /** A2+ chi-square independence statistic (same contingency table as
    * q_mutual_info): per-cell (O−E)²/E with E = n_x·n_y/N — O exact
    * integer, E one double division, contribution rounded to 9. The
    * classic categorical-drift / feature-screening test.
    */
  private def qChisq(s: SparkSession, dir: String): DataFrame = {
    val j = Tables.table(s, dir, "orders").join(Tables.table(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_orderpriority").as("prio"))
    val cells = j.groupBy("seg", "prio").agg(count(lit(1)).as("n_xy"))
      .localCheckpoint()
    val rows = cells.groupBy("seg").agg(sum("n_xy").as("n_x"))
    val cols = cells.groupBy("prio").agg(sum("n_xy").as("n_y"))
    val tot = cells.agg(sum("n_xy").as("n"))
    val e = (col("n_x") * col("n_y")).cast("double") / col("n").cast("double")
    cells.join(broadcast(rows), "seg").join(broadcast(cols), "prio")
      .crossJoin(broadcast(tot))
      .select(col("seg"), col("prio"), col("n_xy"),
        round(e, 9).as("expected"),
        round((col("n_xy").cast("double") - e) * (col("n_xy").cast("double") - e) / e, 9)
          .as("contrib"))
      .orderBy("seg", "prio")
  }

  /** A2+ seasonal-naive forecast evaluation: predict each day's event
    * value total by the value 7 days earlier and score MAE/RMSE — the
    * backtest loop of an ingest-volume forecaster (and q_autocorr's
    * actionable sibling). Corpus work is one combinable daily aggregate;
    * errors accumulate in exact decimals over the day-count table, cast
    * to double once, one sqrt.
    */
  private def qForecastEval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(Scalar.stableSum(col("value")).as("v"))
    val w = Window.orderBy("d")
    val p = daily.withColumn("f", lag("v", 7).over(w)).filter(col("f").isNotNull)
      .withColumn("e", abs(col("v") - col("f")))
    p.agg(count(lit(1)).as("n_days"),
        (Scalar.stableSum(col("e")) / count(lit(1))).as("mae"),
        sqrt(Scalar.stableSumProd(col("e"), col("e")) / count(lit(1))).as("rmse"))
  }

  /** A2+ KMV (k-minimum-values) distinct sketch, ORACLE-CHECKED: unlike
    * HLL (q_approx_distinct, engine-specific hashes → rows-only), KMV over
    * the portable integer mix is bit-reproducible cross-engine: the k=64
    * smallest hash values per quarter determine D̂ = (k−1)·M/h₍ₖ₎ exactly,
    * with the exact count as fallback when a group holds fewer than k
    * distinct hashes. Scale shape: the per-group top-k is a bounded heap
    * (WindowGroupLimit), the sketch state is k longs per group — the
    * mergeable-summary contract of a distributed COUNT DISTINCT estimate.
    */
  private def qKmvDistinct(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 64
    val qp = Tables.table(s, dir, "lineitem")
      .select(Scalar.toQuarter(col("l_shipdate")).as("Quarter"), col("l_partkey"))
      .distinct()
      .localCheckpoint() // shared by the sketch and its exact companion
    val hashed = qp.select(col("Quarter"),
        TextOps.mixedOf(pmod(col("l_partkey"), lit(TextOps.HashMod))).as("h"))
      .distinct()
    val w = Window.partitionBy("Quarter").orderBy("h")
    val kth = hashed.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .groupBy("Quarter").agg(count(lit(1)).as("nh"), max("h").as("hk"))
    val exact = qp.groupBy("Quarter").agg(count(lit(1)).as("exact_parts"))
    exact.join(kth, "Quarter")
      .select(col("Quarter"), col("exact_parts"),
        when(col("nh") < k, col("nh").cast("double"))
          .otherwise(lit(63.0) * lit(2147483647L) / col("hk")).as("kmv_est"))
      .orderBy("Quarter")
  }

  /** Deterministic hash sample (~5%) of lineitem: portable integer mix of
    * the (orderkey, linenumber) key — reproducible across engines, runs,
    * and partitionings, unlike rand()-based sampling; the standard trick
    * for a stable eval holdout over a 100 TB corpus.
    */
  private def qSampleHash(s: SparkSession, dir: String): DataFrame = {
    val m = TextOps.HashMod
    val k0 = pmod(col("l_orderkey") * lit(31L) + col("l_linenumber"), lit(m))
    val h = TextOps.mixRound(TextOps.mixRound(k0, TextOps.DefaultMixMult), TextOps.DefaultMixMult)
    Tables.table(s, dir, "lineitem")
      .filter(pmod(h, lit(100L)) < 5)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Range join: lineitems matched to a derived quarter dimension by
    * l_shipdate ∈ [qstart, qend) — the dimension is tiny so the non-equi
    * join broadcasts (BroadcastNestedLoopJoin over ~30 rows), which is the
    * correct 100 TB shape: fact scan × broadcast ranges, no shuffle.
    */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val qdim = Tables.table(s, dir, "orders")
      .select(date_trunc("quarter", col("o_orderdate")).cast("date").as("qstart")).distinct()
      .withColumn("qend", add_months(col("qstart"), 3))
    Tables.table(s, dir, "lineitem")
      .join(broadcast(qdim),
        col("l_shipdate") >= col("qstart") && col("l_shipdate") < col("qend"))
      .groupBy("qstart").agg(count(lit(1)).as("n_items"))
      .orderBy("qstart")
  }

  /** F-suite regex GROUP extraction (the reference's header regexes strip
    * and capture, src:141-149): pull the numeric id out of the brand code
    * and aggregate by it — capture-group semantics are identical across
    * engines for RE2-compatible patterns.
    */
  private def qRegexExtract(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "part")
      .select(regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).cast("int").as("brand_num"))
      .groupBy("brand_num").agg(count(lit(1)).as("n"))
      .orderBy("brand_num")

  /** Arg-extrema + conditional-count vocabulary: per quarter the keys of
    * the priciest and cheapest orders (max_by/min_by == DuckDB
    * arg_max/arg_min) plus a filtered count. The ordering key is a
    * zero-padded composite string (price cents + orderkey) because a
    * unique total order is what makes arg-extrema deterministic — and
    * DuckDB's arg_max has no struct-key overload.
    */
  private def qMinmaxBy(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val key = concat(lpad(cents.cast("string"), 12, "0"), lit("#"),
      lpad(col("o_orderkey").cast("string"), 12, "0"))
    Tables.table(s, dir, "orders")
      .withColumn("Quarter", Scalar.toQuarter(col("o_orderdate")))
      .withColumn("k", key)
      .groupBy("Quarter")
      .agg(expr("max_by(o_orderkey, k)").as("top_order"),
        expr("min_by(o_orderkey, k)").as("bottom_order"),
        expr("count_if(o_orderpriority = '1-URGENT')").as("n_urgent"))
      .orderBy("Quarter")
  }

  /** Ordered collect: per priority the sorted distinct order statuses as
    * one joined string (array output itself would break the driver's
    * pandas compare) plus a count.
    */
  private def qCollectAgg(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(array_join(array_sort(collect_set(col("o_orderstatus"))), ",").as("statuses"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** S1 variant: JSON-lines sink + schema'd re-read (the wire format of
    * the reference's API fetches, as a file roundtrip). Explicit schema —
    * a JSON scan must never infer on a 100 TB feed.
    */
  private def qScanJsonl(s: SparkSession, dir: String): DataFrame = {
    val tmp = tmpDir("scan_jsonl", dir)
    LocalFs.scoped(s, tmp) {
      Tables.table(s, dir, "nation").coalesce(1).write.mode("overwrite").json(tmp)
    }
    s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT").json(tmp)
      .orderBy("n_nationkey")
  }

  /** F-suite string vocabulary: case, padding, translate, edit distance,
    * substring — every one a codegen'd built-in with an exact DuckDB twin
    * (levenshtein is integer-valued, so cross-engine exact).
    */
  private def qStringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "part")
      .select(col("p_partkey"),
        upper(col("p_name")).as("name_up"),
        lpad(col("p_brand"), 12, "*").as("brand_pad"),
        translate(col("p_type"), " ", "_").as("type_snake"),
        levenshtein(col("p_brand"), lit("Brand#13")).cast("int").as("lev"),
        substring(col("p_name"), 1, 10).as("frag"))
      .orderBy("p_partkey")

  /** Ranking-window vocabulary: top-5 orders per quarter with rank /
    * percent_rank / ntile — rank ties broken by the unique orderkey so
    * both engines produce one total order.
    */
  private def qWindowRanks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("Quarter").orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.table(s, dir, "orders")
      .withColumn("Quarter", Scalar.toQuarter(col("o_orderdate")))
      .withColumn("rk", rank().over(w).cast("int"))
      .withColumn("pct_rk", percent_rank().over(w))
      .withColumn("quartile", ntile(4).over(w).cast("int"))
      .filter(col("rk") <= 5)
      .select("Quarter", "o_orderkey", "o_totalprice", "rk", "pct_rk", "quartile")
      .orderBy("Quarter", "rk")
  }

  /** Calendar resample: generated month spine left-joined to a SPARSE
    * monthly series (big urgent orders hit ~23 of 80 months), then
    * forward-filled — the reference's quarterly-spine + reindex pattern
    * (src:353,441) generalized to gap-filling.
    */
  private def qMonthSpine(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.table(s, dir, "orders")
    val mm = o.agg(min(date_trunc("month", col("o_orderdate"))).cast("date").as("mn"),
      max(date_trunc("month", col("o_orderdate"))).cast("date").as("mx"))
    val spine = mm.select(
      explode(sequence(col("mn"), col("mx"), expr("interval 1 month"))).as("month"))
    val sparse = o
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 495000.0)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(Scalar.stableAvg(col("o_totalprice")).as("avg_big_urgent"))
    spine.join(sparse, Seq("month"), "left")
      .withColumn("filled", last(col("avg_big_urgent"), ignoreNulls = true)
        .over(Window.orderBy("month")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("month")
  }

  /** Two-phase salted aggregation as a query: each hot quarterly key is
    * spread over 16 reducers then recombined (ops.Skew). With exact
    * decimal accumulation salting is a PURE physical rewrite — the oracle
    * is the plain unsalted aggregation and the hashes must match exactly.
    */
  private def qSkewSalted(s: SparkSession, dir: String): DataFrame =
    graft.ops.Skew.saltedSumCount(
        Tables.table(s, dir, "lineitem"),
        key = Scalar.toQuarter(col("l_shipdate")),
        value = col("l_quantity"),
        saltSrc = Seq(col("l_orderkey"), col("l_linenumber")))
      .withColumnRenamed("_key", "Quarter")
      .orderBy("Quarter")

  /** Bucketed co-located join as a query: both sides persisted
    * bucketed+sorted on the join key (ops.Bucketing), so the fact-to-fact
    * join reads bucket i against bucket i with NO shuffle exchange — the
    * one-time write pays the exchange that would otherwise dominate a
    * 100 TB join (shuffle-freedom is plan-asserted in BucketingSpec).
    */
  private def qJoinBucketed(s: SparkSession, dir: String): DataFrame = {
    // mtime stamp over BOTH source tables: regenerating either one must
    // rebuild the layouts — a lineitem-only stamp would silently reuse
    // stale orders bucket files after an orders-only regeneration
    val stamp = s"${graft.sources.Stamped.stampOf(dir, "lineitem.parquet")}" +
      s"_${graft.sources.Stamped.stampOf(dir, "orders.parquet")}"
    val suffix = s"${dirTag(dir)}_$stamp"
    val base = s"${tmpDir("bucketed_join", dir)}_$stamp"
    graft.ops.Bucketing.ensureBucketed(s,
      Tables.table(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
      s"li_bkt$suffix", s"$base/li", 8, "l_orderkey")
    graft.ops.Bucketing.ensureBucketed(s,
      Tables.table(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
      s"ord_bkt$suffix", s"$base/ord", 8, "o_orderkey")
    val a = graft.ops.Bucketing.readTable(s, s"li_bkt$suffix")
    val b = graft.ops.Bucketing.readTable(s, s"ord_bkt$suffix")
    a.join(b, a("l_orderkey") === b("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(Scalar.stableSum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  /** Map-typed vocabulary: per-quarter map of returnflag → quantity sum
    * (map_from_entries over collected entries), extracted back to columns
    * with try_element_at (ANSI mode: plain element_at throws on a missing
    * key). Map construction order is irrelevant — keys are unique — so
    * the unordered collect_list is safe.
    */
  private def qMapPivot(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "lineitem")
      .groupBy(Scalar.toQuarter(col("l_shipdate")).as("Quarter"),
        col("l_returnflag").as("flag"))
      .agg(Scalar.stableSum(col("l_quantity")).as("qty"))
      .groupBy("Quarter")
      .agg(map_from_entries(collect_list(struct(col("flag"), col("qty")))).as("m"))
      .select(col("Quarter"),
        expr("try_element_at(m, 'A')").as("qty_a"),
        expr("try_element_at(m, 'N')").as("qty_n"),
        expr("try_element_at(m, 'R')").as("qty_r"))
      .orderBy("Quarter")

  /** Structured Streaming through the CORRECTNESS gate: the quarterly
    * roll-up runs as an incremental streaming query over a file feed of
    * the events table (micro-batches, memory sink, driven to completion)
    * and must hash-match the BATCH oracle — stream/batch agreement as an
    * oracle-checked property, not just a spec assertion. Decimal-stable
    * sum keeps the streamed partial aggregation bit-equal to DuckDB.
    */
  private def qStreamQuarterly(s: SparkSession, dir: String): DataFrame = {
    val feed = stageFeed(dir, "stream_feed")
    val ev = graft.streaming.EventStreams.readEventStream(s, feed)
    val agg = ev
      .withWatermark("ts", "1 day")
      .groupBy(Scalar.toQuarter(col("ts")).as("Quarter"))
      .agg(count(lit(1)).as("n"), Scalar.stableSum(col("value")).as("sum_value"))
    // Complete mode: the memory sink holds the FINAL aggregate table even
    // if the feed arrives as several micro-batches — Update mode would
    // append one row per key per batch (duplicate Quarters, stale
    // partials) the moment the feed isn't a single file.
    graft.streaming.EventStreams.runToCompletion(s, agg,
        "stream_quarterly_" + dirTag(dir), org.apache.spark.sql.streaming.OutputMode.Complete)
      .orderBy("Quarter")
  }

  /** X1×X5 streaming exact dedup through the CORRECTNESS gate: the events
    * table is staged TWICE into the feed (an at-least-once delivery), the
    * watermarked dropDuplicatesWithinWatermark stream collapses it, and
    * the result must hash-match the batch DISTINCT oracle — the
    * exactly-once-table guarantee checked cross-engine, not just spec'd.
    */
  private def qStreamDedup(s: SparkSession, dir: String): DataFrame = {
    val feed = stageFeed(dir, "stream_dedup_feed",
      names = Seq("dup0.parquet", "dup1.parquet")) // at-least-once: staged twice
    val deduped = graft.streaming.EventStreams
      .dedupStream(graft.streaming.EventStreams.readEventStream(s, feed))
      .select("event_id", "user_id", "event_type", "value")
    graft.streaming.EventStreams.runToCompletion(s, deduped,
        "stream_dedup_" + dirTag(dir), org.apache.spark.sql.streaming.OutputMode.Append)
      .orderBy("event_id")
  }


  /** This family's share of SparkEntry.queries. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_groups" -> (qDedupGroups _),
    "q_dedup_keep_best" -> (qDedupKeepBest _),
    "q_corr_stats" -> (qCorrStats _),
    "q_tfidf" -> (qTfidf _),
    "q_join_semi_anti" -> (qJoinSemiAnti _),
    "q_histogram" -> (qHistogram _),
    "q_zscore_outliers" -> (qZscoreOutliers _),
    "q_gini" -> (qGini _),
    "q_ks_test" -> (qKsTest _),
    "q_autocorr" -> (qAutocorr _),
    "q_skyline" -> (qSkyline _),
    "q_interval_merge" -> (qIntervalMerge _),
    "q_kmv_distinct" -> (qKmvDistinct _),
    "q_mutual_info" -> (qMutualInfo _),
    "q_chisq" -> (qChisq _),
    "q_forecast_eval" -> (qForecastEval _),
    "q_sample_hash" -> (qSampleHash _),
    "q_range_join" -> (qRangeJoin _),
    "q_collect_agg" -> (qCollectAgg _),
    "q_scan_jsonl" -> (qScanJsonl _),
    "q_string_funcs" -> (qStringFuncs _),
    "q_window_ranks" -> (qWindowRanks _),
    "q_month_spine" -> (qMonthSpine _),
    "q_skew_salted" -> (qSkewSalted _),
    "q_map_pivot" -> (qMapPivot _),
    "q_join_bucketed" -> (qJoinBucketed _),
    "q_stream_quarterly" -> (qStreamQuarterly _),
    "q_stream_dedup" -> (qStreamDedup _),
    "q_regex_extract" -> (qRegexExtract _),
    "q_minmax_by" -> (qMinmaxBy _),
  )

  /** This family's share of SparkEntry.oracleSql. */
  def oracleSql: Map[String, String] = Map(
    "q_dedup_groups" ->
      s"""$dedupGroupsCte
         |SELECT doc_id, group_id FROM groups ORDER BY doc_id""".stripMargin,
    "q_dedup_keep_best" ->
      s"""$dedupGroupsCte,
         |scored AS (
         |  SELECT g.group_id, d.doc_id,
         |    0.5 * (CAST(len(list_distinct(string_split_regex(trim(lower(d.text)), '\\s+'))) AS DOUBLE)
         |           / len(string_split_regex(trim(lower(d.text)), '\\s+')))
         |    + 0.5 * (CAST(length(regexp_replace(trim(lower(d.text)), '[^a-z ]', '', 'g')) AS DOUBLE)
         |             / length(trim(lower(d.text)))) AS score
         |  FROM documents d JOIN groups g ON d.doc_id = g.doc_id)
         |SELECT group_id, doc_id, score FROM (
         |  SELECT group_id, doc_id, score,
         |    row_number() OVER (PARTITION BY group_id ORDER BY score DESC, doc_id ASC) AS rn
         |  FROM scored)
         |WHERE rn = 1 ORDER BY group_id""".stripMargin,
    "q_gini" ->
      """WITH v AS (
        |  SELECT CAST(floor(c_acctbal * 1000000) AS BIGINT) AS xq, COUNT(*) AS c
        |  FROM customer WHERE c_acctbal > 0.0 GROUP BY 1),
        |cumv AS (
        |  SELECT xq, c,
        |    COALESCE(SUM(c) OVER (ORDER BY xq
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b
        |  FROM v),
        |agg AS (
        |  SELECT CAST(SUM(xq * (2*c*b + c*(c+1))) AS BIGINT) AS s2,
        |    CAST(SUM(xq * c) AS BIGINT) AS sv, CAST(SUM(c) AS BIGINT) AS n
        |  FROM cumv)
        |SELECT n,
        |  CAST(s2 AS DOUBLE) / CAST(n * sv AS DOUBLE)
        |    - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) AS gini
        |FROM agg""".stripMargin,
    "q_ks_test" ->
      """WITH v AS (
        |  SELECT CAST(floor(c_acctbal * 1000000) AS BIGINT) AS xq,
        |    SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS c1,
        |    SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS c2
        |  FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |  GROUP BY 1),
        |cums AS (
        |  SELECT xq,
        |    SUM(c1) OVER (ORDER BY xq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
        |    SUM(c2) OVER (ORDER BY xq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
        |  FROM v),
        |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM v)
        |SELECT n1, n2,
        |  CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS DOUBLE)
        |    / CAST(n1 * n2 AS DOUBLE) AS ks_stat
        |FROM cums CROSS JOIN tot GROUP BY n1, n2""".stripMargin,
    "q_autocorr" ->
      s"""WITH daily AS (
         |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, ${ss("value")} AS v
         |  FROM events GROUP BY 1),
         |lagged AS (
         |  SELECT v, lag(v, 1) OVER (ORDER BY d) AS v1,
         |    lag(v, 7) OVER (ORDER BY d) AS v7
         |  FROM daily),
         |m1 AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |    ${ss("v")} AS sx, ${ss("v1")} AS sy,
         |    ${sp("v", "v")} AS sxx, ${sp("v1", "v1")} AS syy,
         |    ${sp("v", "v1")} AS sxy
         |  FROM lagged WHERE v1 IS NOT NULL),
         |m7 AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |    ${ss("v")} AS sx, ${ss("v7")} AS sy,
         |    ${sp("v", "v")} AS sxx, ${sp("v7", "v7")} AS syy,
         |    ${sp("v", "v7")} AS sxy
         |  FROM lagged WHERE v7 IS NOT NULL)
         |SELECT lag, n_pairs, autocorr FROM (
         |  SELECT 1 AS lag, CAST(n AS BIGINT) AS n_pairs,
         |    round((n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 9) AS autocorr
         |  FROM m1
         |  UNION ALL
         |  SELECT 7, CAST(n AS BIGINT),
         |    round((n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 9)
         |  FROM m7)
         |ORDER BY lag""".stripMargin,
    "q_skyline" ->
      """SELECT p.p_partkey, p.p_size, p.p_retailprice
        |FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_size < p.p_size AND q.p_retailprice > p.p_retailprice)
        |ORDER BY p.p_partkey""".stripMargin,
    "q_interval_merge" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS t FROM events),
        |flagged AS (
        |  SELECT user_id, t,
        |    CASE WHEN MAX(t) OVER (PARTITION BY user_id ORDER BY t, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |         OR t > MAX(t) OVER (PARTITION BY user_id ORDER BY t, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 300000
        |    THEN 1 ELSE 0 END AS new_i,
        |    event_id
        |  FROM e),
        |islands AS (
        |  SELECT user_id, t,
        |    SUM(new_i) OVER (PARTITION BY user_id ORDER BY t, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM flagged),
        |merged AS (
        |  SELECT user_id, island, MIN(t) AS start_ms, MAX(t) + 300000 AS end_ms
        |  FROM islands GROUP BY user_id, island)
        |SELECT user_id, COUNT(*) AS n_intervals,
        |  CAST(SUM(end_ms - start_ms) AS BIGINT) AS covered_ms
        |FROM merged GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_mutual_info" ->
      """WITH j AS (
        |  SELECT c_mktsegment AS seg, o_orderpriority AS prio
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cells AS (SELECT seg, prio, COUNT(*) AS n_xy FROM j GROUP BY 1, 2),
        |r AS (SELECT seg, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM cells GROUP BY 1),
        |c AS (SELECT prio, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM cells)
        |SELECT seg, prio, n_xy,
        |  round(ln(CAST(n_xy * n AS DOUBLE) / CAST(n_x * n_y AS DOUBLE)), 9) AS pmi
        |FROM cells JOIN r USING (seg) JOIN c USING (prio) CROSS JOIN t
        |ORDER BY seg, prio""".stripMargin,
    "q_chisq" ->
      """WITH j AS (
        |  SELECT c_mktsegment AS seg, o_orderpriority AS prio
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cells AS (SELECT seg, prio, COUNT(*) AS n_xy FROM j GROUP BY 1, 2),
        |r AS (SELECT seg, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM cells GROUP BY 1),
        |c AS (SELECT prio, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM cells)
        |SELECT seg, prio, n_xy,
        |  round(CAST(n_x * n_y AS DOUBLE) / CAST(n AS DOUBLE), 9) AS expected,
        |  round((CAST(n_xy AS DOUBLE) - CAST(n_x * n_y AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(n_xy AS DOUBLE) - CAST(n_x * n_y AS DOUBLE) / CAST(n AS DOUBLE))
        |        / (CAST(n_x * n_y AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS contrib
        |FROM cells JOIN r USING (seg) JOIN c USING (prio) CROSS JOIN t
        |ORDER BY seg, prio""".stripMargin,
    "q_forecast_eval" ->
      s"""WITH daily AS (
         |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, ${ss("value")} AS v
         |  FROM events GROUP BY 1),
         |p AS (
         |  SELECT v, lag(v, 7) OVER (ORDER BY d) AS f FROM daily),
         |e AS (SELECT ABS(v - f) AS e FROM p WHERE f IS NOT NULL)
         |SELECT COUNT(*) AS n_days,
         |  ${ss("e")} / COUNT(*) AS mae,
         |  sqrt(${sp("e", "e")} / COUNT(*)) AS rmse
         |FROM e""".stripMargin,
    "q_kmv_distinct" ->
      s"""WITH qp AS (
         |  SELECT DISTINCT year(l_shipdate) || '-Q' || quarter(l_shipdate) AS Quarter,
         |    l_partkey
         |  FROM lineitem),
         |h AS (
         |  SELECT DISTINCT Quarter,
         |    ${mixSql(mixSql("(l_partkey % 2147483647)", graft.text.TextOps.DefaultMixMult), graft.text.TextOps.DefaultMixMult)} AS h
         |  FROM qp),
         |kth AS (
         |  SELECT Quarter, COUNT(*) AS nh, MAX(h) AS hk FROM (
         |    SELECT Quarter, h,
         |      row_number() OVER (PARTITION BY Quarter ORDER BY h) AS rn
         |    FROM h) WHERE rn <= 64 GROUP BY Quarter),
         |ex AS (SELECT Quarter, COUNT(*) AS exact_parts FROM qp GROUP BY Quarter)
         |SELECT e.Quarter, e.exact_parts,
         |  CASE WHEN k.nh < 64 THEN CAST(k.nh AS DOUBLE)
         |       ELSE CAST(63 AS DOUBLE) * 2147483647 / k.hk END AS kmv_est
         |FROM ex e JOIN kth k USING (Quarter) ORDER BY Quarter""".stripMargin,
    "q_corr_stats" ->
      s"""WITH mom AS (
         |  SELECT year(l_shipdate) || '-Q' || quarter(l_shipdate) AS Quarter,
         |    CAST(COUNT(*) AS DOUBLE) AS n,
         |    ${ss("l_quantity")} AS sx, ${ss("l_extendedprice")} AS sy,
         |    ${sp("l_quantity", "l_quantity")} AS sxx,
         |    ${sp("l_extendedprice", "l_extendedprice")} AS syy,
         |    ${sp("l_quantity", "l_extendedprice")} AS sxy
         |  FROM lineitem GROUP BY 1)
         |SELECT Quarter,
         |  round((n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 9) AS corr_qty_price,
         |  sqrt((n*sxx - sx*sx) / (n*(n-1))) AS std_qty
         |FROM mom ORDER BY Quarter""".stripMargin,
    "q_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS cnt FROM terms GROUP BY 1, 2
        |), tfl AS (
        |  SELECT doc_id, term, cnt, SUM(cnt) OVER (PARTITION BY doc_id) AS len FROM tf
        |), df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term,
        |    round((CAST(cnt AS DOUBLE) / len) * ln(n_docs / df), 10) AS score
        |  FROM tfl JOIN df USING (term) CROSS JOIN nd
        |), ranked AS (
        |  SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
        |  FROM scored)
        |SELECT doc_id, term, score FROM ranked WHERE rk <= 5 ORDER BY doc_id, term""".stripMargin,
    "q_join_semi_anti" ->
      """SELECT * FROM (
        |  SELECT c_custkey, c_mktsegment, 'has_orders' AS op FROM customer c
        |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, 'no_orders' AS op FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
        |ORDER BY c_custkey""".stripMargin,
    "q_histogram" ->
      """WITH mm AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders),
        |mw AS (SELECT mn, (mx - mn) / 20.0 AS w FROM mm),
        |b AS (
        |  SELECT CAST(CASE WHEN w = 0 THEN 0.0
        |              ELSE least(floor((o_totalprice - mn) / w), 19.0) END AS INTEGER) AS bin,
        |         mn, w
        |  FROM orders CROSS JOIN mw)
        |SELECT bin, mn + bin*w AS lo, COUNT(*) AS n
        |FROM b GROUP BY bin, mn, w ORDER BY bin""".stripMargin,
    "q_zscore_outliers" ->
      s"""WITH o AS (
         |  SELECT o_orderkey, o_totalprice,
         |    year(o_orderdate) || '-Q' || quarter(o_orderdate) AS Quarter FROM orders
         |), mom AS (
         |  SELECT Quarter, CAST(COUNT(*) AS DOUBLE) AS n,
         |    ${ss("o_totalprice")} AS s1, ${sp("o_totalprice", "o_totalprice")} AS s2
         |  FROM o GROUP BY 1
         |), st AS (
         |  SELECT Quarter, s1/n AS mean, sqrt((s2 - s1*s1/n) / (n-1)) AS std FROM mom)
         |SELECT o_orderkey, Quarter, o_totalprice, round((o_totalprice - mean)/std, 9) AS z
         |FROM o JOIN st USING (Quarter)
         |WHERE abs(round((o_totalprice - mean)/std, 9)) > 1.7
         |ORDER BY o_orderkey""".stripMargin,
    "q_sample_hash" -> {
      val k0 = "((l_orderkey*31 + l_linenumber) % 2147483647)"
      s"""SELECT l_orderkey, l_linenumber, l_quantity FROM (
         |  SELECT l_orderkey, l_linenumber, l_quantity,
         |    ${mixSql(mixSql(k0, TextOps.DefaultMixMult), TextOps.DefaultMixMult)} AS h
         |  FROM lineitem)
         |WHERE h % 100 < 5 ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    "q_range_join" ->
      """WITH qdim AS (
        |  SELECT DISTINCT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qstart FROM orders
        |), q2 AS (SELECT qstart, CAST(qstart + INTERVAL 3 MONTH AS DATE) AS qend FROM qdim)
        |SELECT qstart, COUNT(*) AS n_items
        |FROM lineitem JOIN q2 ON l_shipdate >= qstart AND l_shipdate < qend
        |GROUP BY qstart ORDER BY qstart""".stripMargin,
    "q_collect_agg" ->
      """SELECT o_orderpriority,
        |  array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_scan_jsonl" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "q_string_funcs" ->
      """SELECT p_partkey,
        |  upper(p_name) AS name_up,
        |  lpad(p_brand, 12, '*') AS brand_pad,
        |  translate(p_type, ' ', '_') AS type_snake,
        |  CAST(levenshtein(p_brand, 'Brand#13') AS INTEGER) AS lev,
        |  substring(p_name, 1, 10) AS frag
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_window_ranks" ->
      """SELECT Quarter, o_orderkey, o_totalprice, rk, pct_rk, quartile FROM (
        |  SELECT year(o_orderdate) || '-Q' || quarter(o_orderdate) AS Quarter,
        |    o_orderkey, o_totalprice,
        |    CAST(rank() OVER w AS INTEGER) AS rk,
        |    percent_rank() OVER w AS pct_rk,
        |    CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |  FROM orders
        |  WINDOW w AS (PARTITION BY year(o_orderdate) || '-Q' || quarter(o_orderdate)
        |               ORDER BY o_totalprice DESC, o_orderkey ASC))
        |WHERE rk <= 5 ORDER BY Quarter, rk""".stripMargin,
    "q_month_spine" ->
      s"""WITH mm AS (
         |  SELECT CAST(min(date_trunc('month', o_orderdate)) AS DATE) AS mn,
         |    CAST(max(date_trunc('month', o_orderdate)) AS DATE) AS mx FROM orders
         |), spine AS (
         |  SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS DATE) AS month FROM mm
         |), sparse AS (
         |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         |    ${sa("o_totalprice")} AS avg_big_urgent
         |  FROM orders
         |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 495000.0 GROUP BY 1)
         |SELECT month, avg_big_urgent,
         |  last_value(avg_big_urgent IGNORE NULLS)
         |    OVER (ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
         |FROM spine LEFT JOIN sparse USING (month) ORDER BY month""".stripMargin,
    "q_skew_salted" ->
      s"""SELECT year(l_shipdate) || '-Q' || quarter(l_shipdate) AS Quarter,
         |  ${ss("l_quantity")} AS sum_value,
         |  COUNT(l_quantity) AS n,
         |  ${ss("l_quantity")} / COUNT(l_quantity) AS avg_value
         |FROM lineitem GROUP BY 1 ORDER BY Quarter""".stripMargin,
    "q_join_bucketed" ->
      s"""SELECT o_orderpriority, ${ss("l_quantity")} AS sum_qty, COUNT(*) AS n
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_stream_quarterly" ->
      s"""SELECT year(ts) || '-Q' || quarter(ts) AS Quarter,
         |  COUNT(*) AS n, ${ss("value")} AS sum_value
         |FROM events GROUP BY 1 ORDER BY Quarter""".stripMargin,
    "q_stream_dedup" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    "q_regex_extract" ->
      """SELECT CAST(regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS INTEGER) AS brand_num,
        |  COUNT(*) AS n
        |FROM part GROUP BY 1 ORDER BY brand_num""".stripMargin,
    "q_minmax_by" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    year(o_orderdate) || '-Q' || quarter(o_orderdate) AS Quarter,
        |    lpad(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), 12, '0')
        |      || '#' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS k
        |  FROM orders)
        |SELECT Quarter,
        |  arg_max(o_orderkey, k) AS top_order,
        |  arg_min(o_orderkey, k) AS bottom_order,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent
        |FROM o GROUP BY 1 ORDER BY Quarter""".stripMargin,
    "q_map_pivot" ->
      s"""SELECT year(l_shipdate) || '-Q' || quarter(l_shipdate) AS Quarter,
         |  ${ss("CASE WHEN l_returnflag = 'A' THEN l_quantity END")} AS qty_a,
         |  ${ss("CASE WHEN l_returnflag = 'N' THEN l_quantity END")} AS qty_n,
         |  ${ss("CASE WHEN l_returnflag = 'R' THEN l_quantity END")} AS qty_r
         |FROM lineitem GROUP BY 1 ORDER BY Quarter""".stripMargin,
  )
}
