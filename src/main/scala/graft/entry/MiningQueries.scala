package graft.entry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.entry.EntryHelpers._
import graft.graph.PageRank
import graft.ops.Fixpoint
import graft.sources.Tables


/** Round-6 mining/statistics additions, in three strands (the fourth —
  * curation/embedding evaluations — lives in [[EvalQueries]]):
  *  - trend & tests: OLS + Theil-Sen trends, two-proportion z, Welch t,
  *    1-D EMD, JS divergence, CUSUM trace + binary changepoint, Benford,
  *    day-of-week seasonality, 2-D histogram, cumulative-distinct growth,
  *    rolling 7-day actives, quarter-over-quarter movers;
  *  - relational: TPC-H Q12 (ship-lag) and Q21 (waiting-supplier) shapes,
  *    Pareto/ABC and RFM rank analytics on the distributed prefix sum;
  *  - graph mining: Adamic-Adar + neighbor-Jaccard link prediction,
  *    HITS, personalized PageRank, degree assortativity, frequent
  *    triples, association rules over the co-purchase graph.
  *
  * One `queries` entry per operator (driver contract) with its DuckDB
  * `oracleSql` twin; all counts exact integers, all transcendentals one
  * rounded libm call (the round-9 convention), all float accumulation
  * through exact decimals — so every query hash-matches cross-engine.
  */
private[graft] object MiningQueries {

  /** A2+ OLS trend of daily revenue: slope/intercept of (day-index,
    * daily-revenue-cents) by the closed-form normal equations. Every sum
    * (n, Σx, Σx², Σxy, Σy) is an exact BIGINT from one combinable
    * aggregate over the day-count table (x is anchored at the min day so
    * the products stay far from overflow at any SF); the final formula
    * runs in IEEE doubles over those exact integers — bit-identical
    * cross-engine. The classic "is ingest volume growing" probe.
    */
  private def qOlsTrend(s: SparkSession, dir: String): DataFrame = {
    val dayrev = Tables.table(s, dir, "orders")
      .groupBy(date_trunc("day", col("o_orderdate")).cast("date").as("d"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("yq"))
    val m = dayrev.agg(min("d").as("mind"))
    val xy = dayrev.crossJoin(broadcast(m))
      .select(datediff(col("d"), col("mind")).cast("long").as("x"), col("yq"))
    val sums = xy.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("yq")).as("sxy"),
      sum("yq").as("sy"))
    val (nD, sxD, sxxD, sxyD, syD) =
      (col("n").cast("double"), col("sx").cast("double"), col("sxx").cast("double"),
        col("sxy").cast("double"), col("sy").cast("double"))
    val slope = (nD * sxyD - sxD * syD) / (nD * sxxD - sxD * sxD)
    sums.select(col("n").as("n_days"),
      round(slope, 9).as("slope_cents_per_day"),
      round((syD - slope * sxD) / nD, 9).as("intercept_cents"))
  }

  /** A2+ Benford first-digit audit over order totals — the fraud/synthetic-
    * data smell test. The leading digit comes from the integer part cast
    * through a string (identical across engines, no log10 boundary risk);
    * observed shares are exact-count ratios; the Benford expectation is the
    * one rounded transcendental. Map-side-combinable 9-row output.
    */
  private def qBenford(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.table(s, dir, "orders").select(
      substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
    val t = d.agg(count(lit(1)).as("n"))
    d.groupBy("digit").agg(count(lit(1)).as("n_orders"))
      .crossJoin(broadcast(t))
      .select(col("digit"), col("n_orders"),
        round(col("n_orders").cast("double") / col("n").cast("double"), 9).as("observed"),
        round(log((col("digit") + 1).cast("double") / col("digit").cast("double"))
          / log(lit(10.0)), 9).as("benford"))
      .orderBy("digit")
  }

  /** A2+ CUSUM change-point trace of daily event volume, fully integer:
    * the classic scaled cumulative deviation N·Σ_{j≤i}c_j − i·Σc (zero at
    * both ends, extremum at the change point) needs no mean division, so
    * the whole trace is exact BIGINTs. Corpus work is one combinable daily
    * count; the window runs over the day spine only (day-count-bounded,
    * like q_forecast_eval's).
    */
  private def qCusum(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(count(lit(1)).as("c"))
    val t = daily.agg(count(lit(1)).as("nd"), sum("c").as("tot"))
    val wo = Window.orderBy("d")
    daily.crossJoin(broadcast(t))
      .withColumn("cum", sum("c").over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(wo).cast("long"))
      .select(col("d"), col("c"),
        (col("nd") * col("cum") - col("rn") * col("tot")).as("cusum_scaled"))
      .orderBy("d")
  }

  /** TPC-H Q12 shape (ship-mode → ship-lag, our lineitem carries no
    * shipmode): bucket every lineitem by its order-to-ship lag and split
    * line counts by priority class — one fact-fact equi-join and one
    * conditional aggregation, 4-row output. The join key is the natural
    * orderkey co-partitioning; at 100 TB this is the bucketed-join case.
    */
  private def qSqlShipLag(s: SparkSession, dir: String): DataFrame = {
    val j = Tables.table(s, dir, "lineitem")
      .join(Tables.table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(datediff(col("l_shipdate"), col("o_orderdate")).as("lag"),
        col("o_orderpriority"))
    val bucket = when(col("lag") < 0, "0_early").when(col("lag") <= 90, "1_0-90")
      .when(col("lag") <= 365, "2_91-365").otherwise("3_over365")
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j.groupBy(bucket.as("lag_bucket"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy("lag_bucket")
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting), in the
    * aggregation formulation instead of the textbook EXISTS/NOT-EXISTS
    * self-joins: one pass groups each finished order's lines into
    * (distinct suppliers, distinct LATE suppliers, the late supplier when
    * unique), then "multi-supplier order where exactly one supplier
    * shipped >60 days late" is a plain filter — same semantics, no
    * correlated-subquery re-scans, linear in lineitem at any SF.
    */
  private def qSqlWaitingSupplier(s: SparkSession, dir: String): DataFrame = {
    val late = (datediff(col("l_shipdate"), col("o_orderdate")) > 60).cast("int")
    val per = Tables.table(s, dir, "lineitem")
      .join(Tables.table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderstatus") === "F")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"), late.as("late"))
      .groupBy("ok")
      .agg(countDistinct("sk").as("ns"),
        countDistinct(when(col("late") === 1, col("sk"))).as("nlate"),
        max(when(col("late") === 1, col("sk"))).as("late_sk"))
    per.filter(col("ns") >= 2 && col("nlate") === 1)
      .join(Tables.table(s, dir, "supplier"), col("late_sk") === col("s_suppkey"))
      .groupBy("s_name").agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name")).limit(20)
  }

  /** Symmetrized support-≥2 co-purchase edges + degrees — the shared base
    * of the two link-prediction queries. The support filter is the hub
    * cap: it bounds degrees the way the stop-shingle df cap bounds
    * inverted lists, keeping the wedge join linear-ish in edges.
    */
  private def linkBase(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val e = graft.sources.GraphTables.copurchasePairs(s, dir)
      .filter(col("support") >= 2)
      .select(col("pa").as("a"), col("pb").as("b"))
      .localCheckpoint()
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("z")).agg(count(lit(1)).as("deg"))
    (e, sym, deg)
  }

  /** X4+ Adamic-Adar link prediction on the co-purchase graph: for
    * non-adjacent part pairs, Σ_z∈N(x)∩N(y) 1/ln(deg z) — the classic
    * "which products WILL be bought together" score. Wedges come from one
    * equi-join of the symmetrized edge list on the shared neighbor (never
    * an all-pairs); each wedge contributes one rounded transcendental
    * accumulated in exact decimals; existing edges leave by anti-join;
    * bounded top-30 output.
    */
  private def qAdamicAdar(s: SparkSession, dir: String): DataFrame = {
    val (e, sym, deg) = linkBase(s, dir)
    val n1 = sym.select(col("a").as("z"), col("b").as("x"))
    val wedges = n1.join(n1.select(col("z"), col("x").as("y")), "z")
      .filter(col("x") < col("y"))
    val contrib = round(lit(1.0) / log(col("deg").cast("double")), 9)
      .cast(DecimalType(28, 9))
    val aa = wedges.join(deg, "z")
      .groupBy("x", "y")
      .agg(count(lit(1)).as("n_common"), sum(contrib).as("scored"))
    aa.join(e, aa("x") === e("a") && aa("y") === e("b"), "left_anti")
      .select(col("x").as("part_x"), col("y").as("part_y"), col("n_common"),
        col("scored").cast("double").as("aa_score"))
      .orderBy(col("aa_score").desc, col("part_x"), col("part_y")).limit(30)
  }

  /** X4+ neighbor-Jaccard node similarity (structural equivalence): for
    * each 2-hop part pair |N(x)∩N(y)| / |N(x)∪N(y)| from the same wedge
    * machinery as q_adamic_adar — counts exact integers, one double
    * division rounded at the end, bounded top-30.
    */
  private def qNodeJaccard(s: SparkSession, dir: String): DataFrame = {
    val (_, sym, deg) = linkBase(s, dir)
    val n1 = sym.select(col("a").as("z"), col("b").as("x"))
    val common = n1.join(n1.select(col("z"), col("x").as("y")), "z")
      .filter(col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("c"))
    common
      .join(deg.select(col("z").as("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("z").as("y"), col("deg").as("dy")), "y")
      .select(col("x").as("part_x"), col("y").as("part_y"), col("c").as("n_common"),
        round(col("c").cast("double") / (col("dx") + col("dy") - col("c")).cast("double"), 9)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("part_x"), col("part_y")).limit(30)
  }

  /** A1+ association rules from frequent pairs: confidence and lift for
    * both directions of every support-≥3 co-purchase pair — the actionable
    * form of market-basket mining. All counts exact integers through the
    * shared in-row basket explode; two rounded divisions per rule; bounded
    * top-30 by lift.
    */
  private def qAssocRules(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.table(s, dir, "lineitem")
    val pp = li.select("l_orderkey", "l_partkey").distinct()
    val nb = pp.agg(countDistinct("l_orderkey").as("nb"))
    val freq = pp.groupBy(col("l_partkey").as("p")).agg(count(lit(1)).as("n_p"))
    val pairs = graft.sources.GraphTables.copurchasePairs(s, dir)
      .filter(col("support") >= 3)
    val rules = pairs.select(col("pa").as("ante"), col("pb").as("cons"), col("support"))
      .union(pairs.select(col("pb").as("ante"), col("pa").as("cons"), col("support")))
    rules
      .join(freq.select(col("p").as("ante"), col("n_p").as("n_a")), "ante")
      .join(freq.select(col("p").as("cons"), col("n_p").as("n_c")), "cons")
      .crossJoin(broadcast(nb))
      .select(col("ante"), col("cons"), col("support"),
        round(col("support").cast("double") / col("n_a").cast("double"), 9).as("confidence"),
        round(col("support").cast("double") * col("nb").cast("double")
          / (col("n_a") * col("n_c")).cast("double"), 9).as("lift"))
      .orderBy(col("lift").desc, col("ante"), col("cons")).limit(30)
  }



  /** Daily revenue-cents table with a min-anchored integer day index —
    * shared by the two trend estimators. */
  private def dayRevenue(s: SparkSession, dir: String): DataFrame = {
    val dayrev = Tables.table(s, dir, "orders")
      .groupBy(date_trunc("day", col("o_orderdate")).cast("date").as("d"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("yq"))
    val m = dayrev.agg(min("d").as("mind"))
    dayrev.crossJoin(broadcast(m))
      .select(datediff(col("d"), col("mind")).cast("long").as("x"), col("yq"))
  }

  /** A2+ Theil-Sen robust trend: the MEDIAN of all pairwise slopes —
    * immune to the outlier days that drag q_ols_trend around. The pair
    * join runs over the DAY SPINE only (calendar-bounded at any SF — a
    * century is 36k rows — never corpus-sized), so the O(days²) pair set
    * is fine and constant in data volume; the median is the exact
    * interpolated percentile both engines compute identically.
    */
  private def qTheilSen(s: SparkSession, dir: String): DataFrame = {
    val xy = dayRevenue(s, dir).localCheckpoint()
    val i = xy.select(col("x").as("xi"), col("yq").as("yi"))
    val j = xy.select(col("x").as("xj"), col("yq").as("yj"))
    val slopes = i.join(j, col("xi") < col("xj"))
      .select(((col("yj") - col("yi")).cast("double")
        / (col("xj") - col("xi")).cast("double")).as("slope"))
    slopes.agg(count(lit(1)).as("n_pairs"),
      round(expr("percentile(slope, 0.5)"), 9).as("theil_slope_cents_per_day"))
  }

  /** A2+ two-proportion z-test (the A/B-test workhorse): urgent-order
    * rate of BUILDING vs MACHINERY customers. All four counts come from
    * ONE conditional aggregate over the join; the z statistic is pure
    * double arithmetic over those exact integers plus one rounded sqrt.
    */
  private def qAbTest(s: SparkSession, dir: String): DataFrame = {
    val conv = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    val bld = col("c_mktsegment") === "BUILDING"
    val mch = col("c_mktsegment") === "MACHINERY"
    val agg = Tables.table(s, dir, "orders")
      .join(Tables.table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .filter(bld || mch)
      .agg(sum(when(bld, 1L).otherwise(0L)).as("n1"),
        sum(when(bld && conv, 1L).otherwise(0L)).as("x1"),
        sum(when(mch, 1L).otherwise(0L)).as("n2"),
        sum(when(mch && conv, 1L).otherwise(0L)).as("x2"))
    val (n1, x1, n2, x2) = (col("n1").cast("double"), col("x1").cast("double"),
      col("n2").cast("double"), col("x2").cast("double"))
    val pp = (x1 + x2) / (n1 + n2)
    val z = (x1 / n1 - x2 / n2) / sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / n1 + lit(1.0) / n2))
    agg.select(col("n1"), col("x1"), col("n2"), col("x2"), round(z, 9).as("z_stat"))
  }

  /** A1+ frequent triples (the A-Priori step past q_copurchase's pairs):
    * support-≥2 part triples from the same in-row basket explode —
    * blowup bounded by basket size³ over ≤7-line baskets, never a
    * corpus self-join; map-side-combined count, bounded top-30.
    */
  private def qFreqTriples(s: SparkSession, dir: String): DataFrame = {
    val lists = Tables.table(s, dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
      .groupBy("l_orderkey").agg(sort_array(collect_set("l_partkey")).as("ps"))
      .filter(size(col("ps")) >= 3)
    // ps is sorted-distinct, so suffix slices enumerate EXACTLY the
    // C(n,3) ordered triples — generating n³ structs and filtering
    // pa<pb<pc allocated 6× the combinations plus all the a=b=c walls
    // (343 vs 35 per 7-item basket); slice clamps at the array end, so
    // the tail slices are simply empty.
    //
    // Enumerated as THREE chained posexplodes (positions are 0-based;
    // slice starts are 1-based, hence the +2/+3) instead of the nested
    // `flatten(transform(...))` stack: higher-order-function lambdas are
    // CodegenFallback — the triple enumeration ran INTERPRETED, one
    // nested array allocation per (basket, a, b) — and it also built
    // each basket's full C(n,3) struct array in memory before explode.
    // Generate+Project chains stay in whole-stage codegen and stream;
    // map-side partial aggregation combines before the one shuffle
    // (guide §4 / §2.3). Triple set identical by construction.
    val trips = lists
      .select(col("ps"), posexplode(col("ps")).as(Seq("i", "pa")))
      .select(col("ps"), col("i"), col("pa"),
        posexplode(slice(col("ps"), col("i") + lit(2), size(col("ps")))).as(Seq("j", "pb")))
      .select(col("pa"), col("pb"),
        explode(slice(col("ps"), col("i") + col("j") + lit(3), size(col("ps")))).as("pc"))
    trips
      .groupBy(col("pa"), col("pb"), col("pc"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .orderBy(col("support").desc, col("pa"), col("pb"), col("pc")).limit(30)
  }

  /** X4 HITS hubs & authorities over the customer→supplier purchase
    * bipartite graph, in fixed-point BIGINT: each half-step is one
    * equi-join + one combinable aggregate, normalization divides by the
    * current max (one-row broadcast) in integer micro-units — every
    * iteration bit-replayable in SQL, the PageRank convention. Two full
    * iterations, supplier authorities out (top-20).
    */
  private def qHits(s: SparkSession, dir: String): DataFrame = {
    val unit = 1000000L
    val e = Tables.table(s, dir, "orders")
      .join(Tables.table(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sup")).distinct()
      .localCheckpoint()
    // FIXED 2-iteration unroll with NO mid-loop materialization. The
    // real invariant (NOT a linear chain): araw/hraw are each consumed
    // TWICE — the max aggregate and the join — so the unmaterialized
    // plan DOUBLES per half-step (~16 copies of the e-join subtree after
    // 2 iterations); it is only acceptable because the iteration count
    // is hard-bounded at 2 and ReuseExchange dedups the identical
    // aggregate exchanges at execution. DO NOT raise the iteration count
    // without reinstating a per-iteration localCheckpoint — the plan
    // grows 4x per added iteration. The four per-half-step
    // localCheckpoints this replaces each cost a full job round-trip
    // (plus a separate max-aggregate job); one query execution now
    // computes the max-normalizations as broadcast subtrees inside the
    // same job (guide §1.2: remove passes; measured 34 jobs →
    // single-digit at sf0.1, same plan arithmetic).
    var hub = e.select("c").distinct().withColumn("h", lit(unit))
    var auth: DataFrame = null
    for (_ <- 1 to 2) {
      val araw = e.join(hub, "c").groupBy("sup").agg(sum("h").as("ar"))
      val amax = araw.agg(max("ar").as("am"))
      auth = araw.crossJoin(broadcast(amax))
        .select(col("sup"), expr(s"ar * $unit div am").as("a"))
      val hraw = e.join(auth, "sup").groupBy("c").agg(sum("a").as("hr"))
      val hmax = hraw.agg(max("hr").as("hm"))
      hub = hraw.crossJoin(broadcast(hmax))
        .select(col("c"), expr(s"hr * $unit div hm").as("h"))
    }
    auth.select(col("sup").as("s_suppkey"), col("a").as("auth"))
      .orderBy(col("auth").desc, col("s_suppkey")).limit(20)
  }

  /** A1+ Pareto/ABC inventory classification: parts ranked by revenue,
    * classed by cumulative share (A ≤ 50%, B ≤ 80%, C rest). Revenue
    * cents exact; the rank-order cumulative uses the DISTRIBUTED
    * two-level prefix sum (Ordered.prefixSum) — parallelism = partition
    * count, never one global-window task; 3-row output.
    */
  private def qParetoAbc(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.table(s, dir, "lineitem")
      .groupBy("l_partkey")
      .agg(sum(floor(col("l_extendedprice") * 100).cast("long")).as("revc"))
    val cum = graft.ops.Ordered.prefixSum(rev,
      Seq(col("revc").desc, col("l_partkey")), col("revc"), "cum_prev")
    val tot = rev.agg(sum("revc").as("tot"))
    val share = (col("cum_prev") + col("revc")).cast("double") / col("tot").cast("double")
    cum.crossJoin(broadcast(tot))
      .select(when(share <= 0.5, "A").when(share <= 0.8, "B").otherwise("C").as("abc_class"),
        col("revc"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"), sum("revc").as("revenue_cents"))
      .orderBy("abc_class")
  }

  /** A2+ day-of-week seasonal index of event volume: per-dow mean daily
    * count over the overall mean, as the exact rational c_dow·N_days /
    * (n_dow·C_total) — one combinable daily count, then dow-bounded
    * arithmetic. Monday=0 convention pinned on both engines.
    */
  private def qDowProfile(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(count(lit(1)).as("c"))
    val t = daily.agg(count(lit(1)).as("nd"), sum("c").as("tot"))
    daily.select(((dayofweek(col("d")) + 5) % 7).as("dow"), col("c"))
      .groupBy("dow").agg(count(lit(1)).as("n_days"), sum("c").as("n_events"))
      .crossJoin(broadcast(t))
      .select(col("dow"), col("n_days"), col("n_events"),
        round((col("n_events") * col("nd")).cast("double")
          / (col("n_days") * col("tot")).cast("double"), 9).as("seasonal_index"))
      .orderBy("dow")
  }

  /** A1+ RFM customer segmentation: recency/frequency/monetary quintile
    * scores. Quintiles come from the deterministic rank formula
    * 5 − (idx·5) div n over the DISTRIBUTED two-level prefix-sum rank
    * (Ordered.prefixSum with unit weights — no single-partition ntile
    * window), custkey tie-breaks pin every rank cross-engine.
    */
  private def qRfm(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.table(s, dir, "orders")
      .groupBy(col("o_custkey").as("ck"))
      .agg(max("o_orderdate").as("last"), count(lit(1)).as("f"),
        sum(floor(col("o_totalprice") * 100).cast("long")).as("mc"))
    val mx = cust.agg(max("last").as("gmax"))
    val base = cust.crossJoin(broadcast(mx))
      .select(col("ck"), datediff(col("gmax"), col("last")).cast("long").as("rdays"),
        col("f"), col("mc"))
      .localCheckpoint()
    val n = base.count()
    def score(order: Seq[Column], name: String): DataFrame =
      graft.ops.Ordered.prefixSum(base, order, lit(1L), "idx")
        .select(col("ck"), (lit(5L) - expr(s"(idx * 5) div $n")).as(name))
    base
      .join(score(Seq(col("rdays"), col("ck")), "r_score"), "ck")
      .join(score(Seq(col("f").desc, col("ck")), "f_score"), "ck")
      .join(score(Seq(col("mc").desc, col("ck")), "m_score"), "ck")
      .select(col("ck").as("custkey"), col("rdays"), col("f"), col("mc"),
        col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")).as("segment"))
      .orderBy("custkey")
  }





  /** X4 degree assortativity of the co-purchase graph: Pearson r between
    * endpoint degrees over every directed edge — do hubs attach to hubs?
    * All five moments exact BIGINTs from one combinable aggregate over
    * the edge⋈degree join; the coefficient is doubles over exact
    * integers, one rounded division.
    */
  private def qAssortativity(s: SparkSession, dir: String): DataFrame = {
    val (_, sym, deg) = linkBase(s, dir)
    val dd = sym
      .join(deg.select(col("z").as("a"), col("deg").as("dx")), "a")
      .join(deg.select(col("z").as("b"), col("deg").as("dy")), "b")
    val m = dd.agg(count(lit(1)).as("n"), sum("dx").as("sx"), sum("dy").as("sy"),
      sum(col("dx") * col("dy")).as("sxy"), sum(col("dx") * col("dx")).as("sxx"),
      sum(col("dy") * col("dy")).as("syy"))
    val (nD, sxD, syD, sxyD, sxxD, syyD) = (col("n").cast("double"),
      col("sx").cast("double"), col("sy").cast("double"), col("sxy").cast("double"),
      col("sxx").cast("double"), col("syy").cast("double"))
    m.select(col("n").as("n_directed_edges"),
      round((nD * sxyD - sxD * syD)
        / (sqrt(nD * sxxD - sxD * sxD) * sqrt(nD * syyD - syD * syD)), 9)
        .as("assortativity"))
  }

  /** A2+ 2-D histogram (price × quantity): equal-width 10×10 grid from a
    * one-row min/max broadcast, bucket = clamped floor arithmetic
    * (identical IEEE ops both engines), one combinable count — the
    * heatmap feed / copula sketch of bivariate profiling.
    */
  private def qHist2d(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.table(s, dir, "lineitem")
    val mm = li.agg(min("l_extendedprice").as("pmn"), max("l_extendedprice").as("pmx"),
      min("l_quantity").as("qmn"), max("l_quantity").as("qmx"))
    def bucket(v: Column, mn: Column, mx: Column): Column =
      least(floor((v - mn) * 10.0 / (mx - mn)), lit(9.0)).cast("int")
    li.crossJoin(broadcast(mm))
      .select(bucket(col("l_extendedprice"), col("pmn"), col("pmx")).as("price_bucket"),
        bucket(col("l_quantity"), col("qmn"), col("qmx")).as("qty_bucket"))
      .groupBy("price_bucket", "qty_bucket").agg(count(lit(1)).as("n"))
      .orderBy("price_bucket", "qty_bucket")
  }

  /** A1+ cumulative-distinct growth curve: each user attributed to their
    * FIRST active day (one combinable min), new-user counts per day, and
    * the running total — the "cumulative unique users" chart computed
    * without any daily COUNT(DISTINCT) rescans; the window runs over the
    * day spine only.
    */
  private def qRunningDistinct(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val first = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(min(date_trunc("day", col("ts")).cast("date")).as("d"))
    val daily = first.groupBy("d").agg(count(lit(1)).as("new_users"))
    daily.withColumn("cum_users",
        sum("new_users").over(Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("d")
  }

  /** X4 personalized PageRank from a seed part (teleport always returns
    * to the seed) — "related products" by random-walk proximity, in the
    * same fixed-point BIGINT conventions as q_pagerank/q_hits: 3
    * iterations, each one equi-join + one combinable aggregate, every
    * step div-truncated integer arithmetic replayable in SQL. Top-20.
    */
  private def qPpr(s: SparkSession, dir: String): DataFrame = {
    val unit = 1000000L
    val damping = 850000L
    val (_, sym, _) = linkBase(s, dir)
    val e = sym.select(col("a").as("src"), col("b").as("dst")).localCheckpoint()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).localCheckpoint()
    val seed = lit(deg.agg(min("src")).head().get(0))
    // the PageRank.ranks static table and round, with the restart term
    val pre = PageRank.massTable(e, deg)
    val r = Fixpoint.iterate(3, pre) {
      pre.count()
      deg.select(col("src").as("id"), when(col("src") === seed, lit(unit)).otherwise(lit(0L)).as("r"))
    } { (r, _) =>
      PageRank.contribs(pre, r)
        .select(col("id"),
          (when(col("id") === seed, lit(unit - damping)).otherwise(lit(0L)) +
            expr(s"($damping * contrib) div $unit")).as("r"))
    }
    r.filter(col("r") > 0).orderBy(col("r").desc, col("id")).limit(20)
  }



  /** A2+ 1-D earth mover's distance between the BUILDING and MACHINERY
    * balance distributions — the area between the two CDFs, the
    * magnitude-aware complement to q_ks_test's max gap. Balances quantize
    * to cents; each distinct value contributes the exact BIGINT
    * |cum1·n2 − cum2·n1|·gap, accumulated in exact decimals; ONE double
    * division at the end.
    */
  private def qEmd1d(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = Tables.table(s, dir, "customer")
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .groupBy(floor(col("c_acctbal") * 100).cast("long").as("xq"))
      .agg(sum(when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)).as("c1"),
        sum(when(col("c_mktsegment") === "MACHINERY", 1L).otherwise(0L)).as("c2"))
    val wo = Window.orderBy("xq")
    val cums = v.select(col("xq"),
      sum("c1").over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum1"),
      sum("c2").over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum2"),
      (lead("xq", 1).over(wo) - col("xq")).as("gap"))
    val tot = v.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    cums.filter(col("gap").isNotNull).crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"),
        // cum·n products in Decimal(38,0) (not BIGINT) so extreme segment
        // counts can't overflow under ANSI where DuckDB HUGEINT-promotes
        (abs(col("cum1").cast(DecimalType(38, 0)) * col("n2")
            - col("cum2").cast(DecimalType(38, 0)) * col("n1"))
          * col("gap")).as("term"))
      .groupBy("n1", "n2").agg(sum("term").as("s"))
      .select(col("n1"), col("n2"),
        round(col("s").cast("double")
          / (col("n1") * col("n2")).cast("double") / 100.0, 9).as("emd"))
  }

  /** DQ Jensen-Shannon divergence of the event-type mix, first vs second
    * half by event time — the bounded symmetric cousin of q_drift_psi's
    * PSI: exact conditional counts, the PSI-style 1e-6 floor for absent
    * types, one rounded transcendental per (type, side), exact-decimal
    * accumulation. Vocabulary-sized work after one combinable count.
    */
  private def qJsDivergence(s: SparkSession, dir: String): DataFrame = {
    val e = graft.sources.Tables.events(s, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
    val piv = e.agg(expr("(min(us) + max(us)) div 2").as("pv"))
    val cnt = e.crossJoin(broadcast(piv))
      .groupBy("event_type")
      .agg(sum(when(col("us") <= col("pv"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("us") > col("pv"), 1L).otherwise(0L)).as("c2"))
    val tot = cnt.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    val p = greatest(col("c1").cast("double") / col("n1").cast("double"), lit(1e-6))
    val q = greatest(col("c2").cast("double") / col("n2").cast("double"), lit(1e-6))
    val m = (p + q) / 2.0
    val contrib = round(p * log(p / m) * 0.5 + q * log(q / m) * 0.5, 9)
      .cast(DecimalType(28, 9))
    cnt.crossJoin(broadcast(tot))
      .select(contrib.as("c"))
      .agg(round(sum("c").cast("double"), 9).as("js_nats"))
  }

  /** A2+ Welch two-sample t-test: weekday vs weekend mean daily event
    * volume. Daily counts are exact; per-group n/Σ/Σ² are exact BIGINTs
    * from one conditional aggregate; the t statistic is doubles over
    * those integers with one rounded sqrt. The means-test beside
    * q_ab_test's proportions.
    */
  private def qTtestMeans(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(count(lit(1)).as("c"))
      .select(((dayofweek(col("d")) + 5) % 7 >= 5).as("weekend"), col("c"))
    val agg = daily.agg(
      sum(when(!col("weekend"), 1L).otherwise(0L)).as("n1"),
      sum(when(!col("weekend"), col("c")).otherwise(0L)).as("s1"),
      sum(when(!col("weekend"), col("c") * col("c")).otherwise(0L)).as("q1"),
      sum(when(col("weekend"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("weekend"), col("c")).otherwise(0L)).as("s2"),
      sum(when(col("weekend"), col("c") * col("c")).otherwise(0L)).as("q2"))
    val (n1, s1, q1, n2, s2, q2) = (col("n1").cast("double"), col("s1").cast("double"),
      col("q1").cast("double"), col("n2").cast("double"), col("s2").cast("double"),
      col("q2").cast("double"))
    val v1 = (q1 - s1 * s1 / n1) / (n1 - 1.0)
    val v2 = (q2 - s2 * s2 / n2) / (n2 - 1.0)
    val t = (s1 / n1 - s2 / n2) / sqrt(v1 / n1 + v2 / n2)
    agg.select(col("n1").as("n_weekday"), col("n2").as("n_weekend"),
      round(s1 / n1, 9).as("mean_weekday"), round(s2 / n2, 9).as("mean_weekend"),
      round(t, 9).as("t_stat"))
  }

  /** A1+ rolling 7-day active users (WAU) + stickiness: each distinct
    * (user, day) pair contributes IN-ROW to the 7 windows it falls in
    * (a ×7 bounded explode — no per-day COUNT DISTINCT rescan, no
    * quadratic range join), distinct-collapse, count per window end;
    * DAU/WAU is the classic stickiness ratio.
    */
  private def qRollingActive(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("d"))
      .distinct().localCheckpoint()
    val span = ud.agg(min("d").as("mind"), max("d").as("maxd"))
    val wau = ud.select(col("user_id"),
        explode(sequence(col("d"), date_add(col("d"), 6))).as("w"))
      .distinct()
      .crossJoin(broadcast(span))
      .filter(col("w") >= col("mind") && col("w") <= col("maxd"))
      .groupBy(col("w").as("d")).agg(count(lit(1)).as("wau"))
    val dau = ud.groupBy("d").agg(count(lit(1)).as("dau"))
    wau.join(dau, Seq("d"), "left")
      .select(col("d"), coalesce(col("dau"), lit(0L)).as("dau"), col("wau"),
        round(coalesce(col("dau"), lit(0L)).cast("double") / col("wau").cast("double"), 9)
          .as("stickiness"))
      .orderBy("d")
  }

  /** A1+ quarter-over-quarter top movers: per-part revenue by quarter,
    * lag within each part (per-key window, scalable), top 20 by absolute
    * change — the "what changed" report. Revenue cents exact end to end.
    */
  private def qTopMovers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qr = Tables.table(s, dir, "lineitem")
      .groupBy(col("l_partkey"), graft.ops.Scalar.toQuarter(col("l_shipdate")).as("Quarter"))
      .agg(sum(floor(col("l_extendedprice") * 100).cast("long")).as("revc"))
    val w = Window.partitionBy("l_partkey").orderBy("Quarter")
    qr.withColumn("prev_revc", lag("revc", 1).over(w))
      .filter(col("prev_revc").isNotNull)
      .select(col("l_partkey"), col("Quarter"), col("prev_revc"), col("revc"),
        (col("revc") - col("prev_revc")).as("delta"))
      .orderBy(abs(col("delta")).desc, col("l_partkey"), col("Quarter")).limit(20)
  }

  /** A2+ binary changepoint estimate on top of q_cusum's trace: the day
    * with the maximum |scaled CUSUM| (earliest-day tie rule) splits the
    * series; exact before/after mean daily volume. One combinable daily
    * count; everything after runs day-spine-sized.
    */
  private def qChangepoint(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(count(lit(1)).as("c"))
    val t = daily.agg(count(lit(1)).as("nd"), sum("c").as("tot"))
    val wo = Window.orderBy("d")
    val trace = daily.crossJoin(broadcast(t))
      .withColumn("cum", sum("c").over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(wo).cast("long"))
      .select(col("d"), col("c"), col("cum"), col("rn"), col("nd"), col("tot"),
        abs(col("nd") * col("cum") - col("rn") * col("tot")).as("dev"))
      .localCheckpoint()
    val pick = trace.orderBy(col("dev").desc, col("d")).limit(1)
      .select(col("d").as("change_day"), col("cum").as("cum_at"), col("rn").as("n_before"))
    trace.groupBy("nd", "tot").agg(max("rn").as("ndays"))
      .crossJoin(broadcast(pick))
      .select(col("change_day"), col("n_before"),
        (col("nd") - col("n_before")).as("n_after"),
        round(col("cum_at").cast("double") / col("n_before").cast("double"), 9)
          .as("mean_before"),
        round((col("tot") - col("cum_at")).cast("double")
          / (col("nd") - col("n_before")).cast("double"), 9).as("mean_after"))
  }






  /** A1+ time-to-event: per-user first view → first purchase latency
    * (the funnel-latency / attribution-window report): two conditional
    * mins in ONE combinable aggregate, then exact epoch-ms differences
    * summarized by interpolated percentiles — corpus work is the one
    * grouped pass, the summary runs user-count-bounded.
    */
  private def qTimeToEvent(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(s, dir)
    val lat = ev.filter(col("event_type").isin("view", "purchase"))
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("ts"))).as("fv"),
        min(when(col("event_type") === "purchase", col("ts"))).as("fp"))
      .filter(col("fv").isNotNull && col("fp").isNotNull && col("fp") >= col("fv"))
      .select((unix_millis(col("fp")) - unix_millis(col("fv"))).as("lat_ms"))
    lat.agg(count(lit(1)).as("n_users"), min("lat_ms").as("min_ms"),
      round(expr("percentile(lat_ms, 0.5)"), 9).as("median_ms"),
      round(expr("percentile(lat_ms, 0.9)"), 9).as("p90_ms"),
      max("lat_ms").as("max_ms"))
  }

  /** A2+ additive seasonal decomposition (STL-lite) of daily event
    * volume: trend = centered 7-day moving mean (exact BIGINT window sum,
    * one division), seasonal = per-dow mean of the detrended series in
    * exact decimals, residual = the rest. Only full windows emit (no
    * edge-effect half-means). Everything after the one combinable daily
    * count runs day-spine-sized.
    */
  private def decomposeDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(count(lit(1)).as("c"))
    val w7 = Window.orderBy("d").rowsBetween(-3, 3)
    val ma = daily
      .withColumn("n7", count(lit(1)).over(w7))
      .withColumn("ma7", round(sum("c").over(w7).cast("double") / 7.0, 9))
      .filter(col("n7") === 7)
      .withColumn("det", round(col("c").cast("double") - col("ma7"), 9))
      .withColumn("dow", (dayofweek(col("d")) + 5) % 7)
      .localCheckpoint()
    val seas = ma.groupBy("dow")
      .agg(round(sum(col("det").cast(DecimalType(28, 9))).cast("double")
        / count(lit(1)).cast("double"), 9).as("seasonal"))
    ma.join(broadcast(seas), "dow")
      .select(col("d"), col("c"), col("ma7"), col("seasonal"),
        round(col("det") - col("seasonal"), 9).as("residual"))
  }

  private def qSeasonalDecompose(s: SparkSession, dir: String): DataFrame =
    decomposeDaily(s, dir).orderBy("d")

  /** A2+ STL residual outliers: days whose decomposition residual sits
    * > 2× the residual MAD from the residual median — anomalies AFTER
    * trend and weekly seasonality are explained away, which is what an
    * on-call actually wants flagged. Exact percentiles over the
    * deterministic rounded residuals; day-spine-sized work.
    */
  private def qStlOutliers(s: SparkSession, dir: String): DataFrame = {
    val dec = decomposeDaily(s, dir).localCheckpoint()
    val med = dec.agg(expr("percentile(residual, 0.5)").as("mr"))
    val withDev = dec.crossJoin(broadcast(med))
      .withColumn("adev", abs(col("residual") - col("mr")))
    val mad = withDev.agg(expr("percentile(adev, 0.5)").as("mad"))
    withDev.crossJoin(broadcast(mad))
      .filter(col("adev") > col("mad") * 2.0)
      .select(col("d"), col("c"), col("residual"),
        round(col("mr"), 9).as("res_median"), round(col("mad"), 9).as("res_mad"))
      .orderBy("d")
  }

  /** J1+ nation trade matrix: revenue by (customer nation × supplier
    * nation) — the generalized Q7 heatmap; one fact scan, the 25-row
    * nation table broadcast (twice, under each role), customer/supplier
    * left to the planner because they are SF-proportional (150k·SF rows —
    * a forced broadcast would OOM the driver at large SF; AQE still
    * broadcasts them when they fit), cents exact, nation²-bounded output.
    */
  private def qTradeMatrix(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.table(s, dir, "lineitem")
    val o = Tables.table(s, dir, "orders")
    val c = Tables.table(s, dir, "customer")
    val sup = Tables.table(s, dir, "supplier")
    val n = Tables.table(s, dir, "nation")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n.select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("cnk"))
      .join(broadcast(n.select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("snk"))
      .groupBy("cust_nation", "supp_nation")
      .agg(sum(floor(col("l_extendedprice") * 100).cast("long")).as("revenue_cents"))
      .orderBy("cust_nation", "supp_nation")
  }

  /** A2+ Lorenz deciles: customers ranked by spend (ascending) into
    * deciles via the distributed prefix-sum rank; per-decile spend share
    * and the cumulative Lorenz points the Gini integrates — inequality
    * as a 10-row report. Cents exact until the two final divisions.
    */
  private def qLorenzDeciles(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.table(s, dir, "orders")
      .groupBy(col("o_custkey").as("ck"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("mc"))
      .localCheckpoint()
    val n = cust.count()
    val tot = cust.agg(sum("mc").as("tot"))
    val ranked = graft.ops.Ordered.prefixSum(cust,
      Seq(col("mc"), col("ck")), lit(1L), "idx")
    val perDec = ranked.select(expr(s"(idx * 10) div $n").as("decile"), col("mc"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_cust"), sum("mc").as("spend_cents"))
    val wo = Window.orderBy("decile")
    perDec.crossJoin(broadcast(tot))
      .withColumn("cum", sum("spend_cents")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("decile"), col("n_cust"), col("spend_cents"),
        round(col("spend_cents").cast("double") / col("tot").cast("double"), 9)
          .as("share"),
        round(col("cum").cast("double") / col("tot").cast("double"), 9)
          .as("cum_share"))
      .orderBy("decile")
  }

  /** A2+ IQR outlier days (Tukey fences) on daily event-VALUE totals
    * (volumes are too uniform on this feed to trip any fence — totals
    * carry the heavy tail): daily sums through the decimal-stable
    * aggregate, exact interpolated quartiles broadcast as one row,
    * flags outside [q1 − 1.5·IQR, q3 + 1.5·IQR] — the boxplot rule
    * beside the z-score and MAD flags.
    */
  private def qAnomalyIqr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(graft.ops.Scalar.stableSum(col("value")).as("v"))
    val qs = daily.agg(expr("percentile(v, 0.25)").as("q1"),
      expr("percentile(v, 0.75)").as("q3"))
    val lo = col("q1") - (col("q3") - col("q1")) * 1.5
    val hi = col("q3") + (col("q3") - col("q1")) * 1.5
    daily.crossJoin(broadcast(qs))
      .filter(col("v") < lo || col("v") > hi)
      .select(col("d"), col("v"), round(lo, 9).as("lo_bound"), round(hi, 9).as("hi_bound"))
      .orderBy("d")
  }

  /** A1+ weekly churn: for each ISO week, the share of the PREVIOUS
    * week's active users who did not return — distinct (user, week)
    * pairs once (one combinable pass), then a self-equi-join on
    * (user, next week); week-spine-bounded output.
    */
  private def qChurnRate(s: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("w"))
      .distinct().localCheckpoint()
    val prev = uw.groupBy("w").agg(count(lit(1)).as("n_prev"))
    val retained = uw.as("a")
      .join(uw.select(col("user_id"), col("w").as("wn")).as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("wn") === date_add(col("a.w"), 7))
      .groupBy(col("a.w").as("w")).agg(count(lit(1)).as("retained"))
    prev.join(retained, Seq("w"), "left")
      .select(col("w").as("week_start"), col("n_prev"),
        coalesce(col("retained"), lit(0L)).as("retained"),
        round(lit(1.0) - coalesce(col("retained"), lit(0L)).cast("double")
          / col("n_prev").cast("double"), 9).as("churn_rate"))
      .orderBy("week_start")
  }

  /** A1+ inter-event gap percentiles per the whole stream — the number
    * that CALIBRATES the sessionization threshold (q_sessionize's 30-min
    * gap should sit far above the p50 and near the p99 tail): per-user
    * ordered lags ((ts, event_id) tie pinning), exact epoch-ms gaps,
    * interpolated percentiles.
    */
  private def qGapPercentiles(s: SparkSession, dir: String): DataFrame = {
    val e = graft.sources.Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("t"))
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
    val gaps = e.withColumn("gap_ms", col("t") - lag("t", 1).over(w))
      .filter(col("gap_ms").isNotNull)
    gaps.agg(count(lit(1)).as("n_gaps"),
      round(expr("percentile(gap_ms, 0.5)"), 9).as("p50_ms"),
      round(expr("percentile(gap_ms, 0.9)"), 9).as("p90_ms"),
      round(expr("percentile(gap_ms, 0.99)"), 9).as("p99_ms"))
  }

  /** A2+ power-of-2 length histogram: floor(log2 n_chars) via the
    * binary-string length (exact integer arithmetic on both engines —
    * no float log near bucket boundaries), the long-tail view equal-width
    * buckets hide; map-side-combinable, ~60-row output ceiling.
    */
  private def qLog2Hist(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")
      .filter(col("n_chars") > 0)
      .select((length(bin(col("n_chars"))) - 1).as("log2_bucket"))
      .groupBy("log2_bucket")
      .agg(count(lit(1)).as("n_docs"))
      .select(col("log2_bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), log2_bucket)").as("bucket_lo"),
        col("n_docs"))
      .orderBy("log2_bucket")

  /** A2+ per-group quartiles: doc-length Q1/median/Q3 per language —
    * the grouped distribution summary (q_lang_length_filter's p10 floor
    * generalized); one exact-percentile aggregate per group, group-count
    * output.
    */
  private def qLenQuartilesByLang(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(expr("percentile(n_chars, 0.25)"), 9).as("q1"),
        round(expr("percentile(n_chars, 0.5)"), 9).as("median"),
        round(expr("percentile(n_chars, 0.75)"), 9).as("q3"))
      .orderBy("lang")

  /** P5+ aggregate-of-aggregate (nested GROUP BY shape): per-order line
    * and distinct-part counts, then corpus means — the "how big is a
    * basket" question whose inner aggregate must complete before the
    * outer can start; both levels map-side combinable.
    */
  private def qSqlAvgBasket(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.table(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_lines"), countDistinct("l_partkey").as("n_parts"))
    per.agg(count(lit(1)).as("n_orders"),
      round(sum("n_lines").cast("double") / count(lit(1)).cast("double"), 9)
        .as("avg_lines"),
      round(sum("n_parts").cast("double") / count(lit(1)).cast("double"), 9)
        .as("avg_parts"),
      max("n_lines").as("max_lines"))
  }

  /** A1+ day-of-week × hour activity heatmap: exact counts on the
    * Monday=0 convention — the capacity/ops view every event stream
    * ships; one combinable aggregate, 168-cell ceiling.
    */
  private def qDowHourHeatmap(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(((dayofweek(date_trunc("day", col("ts")).cast("date")) + 5) % 7).as("dow"),
        hour(col("ts")).as("hr"))
      .groupBy("dow", "hr").agg(count(lit(1)).as("n"))
      .orderBy("dow", "hr")

  /** A1+ audience-overlap matrix: Jaccard of USER SETS between event
    * types (do purchasers also view?) — distinct (user, type) pairs once,
    * one self-equi-join on user (type-count-bounded blowup per user),
    * exact set sizes, one rounded division per cell.
    */
  private def qAudienceOverlap(s: SparkSession, dir: String): DataFrame = {
    val ut = Tables.events(s, dir)
      .select(col("user_id"), col("event_type")).distinct().localCheckpoint()
    val sizes = ut.groupBy(col("event_type").as("t")).agg(count(lit(1)).as("n"))
    val common = ut.as("a")
      .join(ut.select(col("user_id"), col("event_type").as("tb")).as("b"), "user_id")
      .filter(col("event_type") < col("tb"))
      .groupBy(col("event_type").as("ta"), col("tb"))
      .agg(count(lit(1)).as("c"))
    common
      .join(sizes.select(col("t").as("ta"), col("n").as("na")), "ta")
      .join(sizes.select(col("t").as("tb"), col("n").as("nb")), "tb")
      .select(col("ta"), col("tb"), col("c").as("n_common"),
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")).cast("double"), 9)
          .as("jaccard"))
      .orderBy("ta", "tb")
  }

  /** A1+ Markov stationary distribution of the event-type chain: the
    * long-run mix the transition matrix converges to, in fixed-point
    * BIGINT micro-units (row-normalize with integer division, 8 power
    * iterations, every step div-truncated and SQL-replayable — the
    * PageRank convention on a state-count-bounded matrix). The "where
    * does the user journey settle" complement to q_transitions' counts.
    */
  private def qMarkovStationary(s: SparkSession, dir: String): DataFrame = {
    val unit = 1000000L
    val seq0 = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = seq0.withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("f"), col("next_type").as("t"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val rowsum = trans.groupBy("f").agg(sum("cnt").as("rs"))
    val states = trans.select(col("f").as("st")).distinct()
    val n = states.count()
    // row-normalized transitions, destinations restricted to states plus
    // one zero-probability self row per state, so each round's aggregate
    // emits every state — no left join back to the state universe (the
    // PageRank.massTable discipline)
    val p = trans.join(rowsum, "f")
      .join(states.select(col("st").as("t")), Seq("t"), "left_semi")
      .select(col("f"), col("t"), expr(s"cnt * $unit div rs").as("p"))
      .union(states.select(col("st").as("f"), col("st").as("t"), lit(0L).as("p")))
      .localCheckpoint()
    val pi = Fixpoint.iterate(8) {
      states.select(col("st"), lit(unit / n).as("pi"))
    } { (pi, _) =>
      p.join(pi, col("f") === col("st"))
        .groupBy(col("t").as("st")).agg(sum(expr(s"pi * p div $unit")).as("pi"))
    }
    pi.select(col("st").as("state"), col("pi").as("pi_micro")).orderBy("state")
  }

  /** A1+ supplier concentration (HHI) per nation: Σ share² of supplier
    * revenue — the antitrust/fragility index of a supply base. Revenue
    * cents exact; one rounded share² per supplier accumulated in exact
    * decimals; nation-bounded output.
    */
  private def qSupplierHhi(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.table(s, dir, "lineitem")
      .join(Tables.table(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.table(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), col("s_suppkey"))
      .agg(sum(floor(col("l_extendedprice") * 100).cast("long")).as("rc"))
    val tot = rev.groupBy("nation").agg(sum("rc").as("tot"), count(lit(1)).as("n_suppliers"))
    val share = col("rc").cast("double") / col("tot").cast("double")
    rev.join(tot, "nation")
      .select(col("nation"), col("n_suppliers"),
        round(share * share, 9).cast(DecimalType(28, 9)).as("c2"))
      .groupBy("nation", "n_suppliers")
      .agg(round(sum("c2").cast("double"), 9).as("hhi"))
      .orderBy("nation")
  }

  /** X3+ tokenizer fertility by language: whitespace tokens and BPE-ish
    * regex tokens per 100 characters — the per-language tokenizer-cost
    * metric (scripts that fragment into more tokens cost more context
    * budget). Exact sums, two rounded ratios per language.
    */
  private def qTokenizerFertility(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")
      .select(col("lang"),
        graft.text.TextOps.tokenCount(col("text")).cast("long").as("ws"),
        graft.text.TextOps.bpeTokenCount(col("text")).cast("long").as("bpe"),
        length(col("text")).cast("long").as("ch"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("ws").as("ws_tokens"),
        sum("bpe").as("bpe_tokens"), sum("ch").as("chars"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
        round(col("ws_tokens").cast("double") * 100.0 / col("chars").cast("double"), 9)
          .as("ws_per_100ch"),
        round(col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"), 9)
          .as("bpe_per_ws"))
      .orderBy("lang")

  /** A1+ quarter-over-quarter growth: revenue totals with lag-based
    * growth rates — the BI staple; cents exact, one rounded division
    * per quarter, quarter-spine-bounded window.
    */
  private def qQoqGrowth(s: SparkSession, dir: String): DataFrame = {
    val qr = Tables.table(s, dir, "lineitem")
      .groupBy(graft.ops.Scalar.toQuarter(col("l_shipdate")).as("Quarter"))
      .agg(sum(floor(col("l_extendedprice") * 100).cast("long")).as("revc"))
    val w = Window.orderBy("Quarter")
    qr.withColumn("prev", lag("revc", 1).over(w))
      .select(col("Quarter"), col("revc"), col("prev"),
        when(col("prev").isNotNull,
          round((col("revc") - col("prev")).cast("double") / col("prev").cast("double"), 9))
          .as("growth"))
      .orderBy("Quarter")
  }

  /** P5+ correlated-comparison shape: orders priced above their OWN
    * customer's average — "vs your own baseline", the classic correlated
    * subquery, as one grouped pass + a key join (no per-row re-scan);
    * top 20 by relative excess.
    */
  private def qSqlAboveAvg(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.table(s, dir, "orders")
    val avg = o.groupBy(col("o_custkey").as("ck"))
      .agg((sum(floor(col("o_totalprice") * 100).cast("long")) / count(lit(1)))
        .as("avg_cents"))
    o.join(avg, col("o_custkey") === col("ck"))
      .filter(floor(col("o_totalprice") * 100) > col("avg_cents"))
      .select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice") * 100).cast("long").as("price_cents"),
        round(col("avg_cents"), 9).as("cust_avg_cents"),
        round(floor(col("o_totalprice") * 100) / col("avg_cents"), 9).as("ratio"))
      .orderBy(col("ratio").desc, col("o_orderkey")).limit(20)
  }

  /** A1+ first-touch attribution: among purchasing users, which event
    * type was their FIRST EVER touch — the channel-attribution split;
    * one per-user min-by pass (ts, event_id tie pinning) + a semi-join
    * on purchasers + one combinable count.
    */
  private def qFirstTouch(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val first = ev.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("first_touch"))
    val buyers = ev.filter(col("event_type") === "purchase")
      .select("user_id").distinct()
    val cells = first.join(buyers, "user_id")
      .groupBy("first_touch").agg(count(lit(1)).as("n_buyers"))
    val t = cells.agg(sum("n_buyers").as("tot"))
    cells.crossJoin(broadcast(t))
      .select(col("first_touch"), col("n_buyers"),
        round(col("n_buyers").cast("double") / col("tot").cast("double"), 9).as("share"))
      .orderBy("first_touch")
  }

  /** A2+ per-type value quantiles: p25/p50/p75/p95 of the event value
    * per event type — the grouped distribution card of stream metrics;
    * one exact-percentile aggregate per group.
    */
  private def qValueQuantilesByType(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(value, 0.25)"), 9).as("p25"),
        round(expr("percentile(value, 0.5)"), 9).as("p50"),
        round(expr("percentile(value, 0.75)"), 9).as("p75"),
        round(expr("percentile(value, 0.95)"), 9).as("p95"))
      .orderBy("event_type")

  /** A1+ dormancy leaderboard: the 20 users with the LONGEST silent
    * stretch between consecutive events — churn-risk ranking; per-user
    * lag windows ((ts, event_id) pinned), one max per user, bounded
    * top-k.
    */
  private def qDormancyTopk(s: SparkSession, dir: String): DataFrame = {
    val e = graft.sources.Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("t"))
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
    e.withColumn("gap_ms", col("t") - lag("t", 1).over(w))
      .filter(col("gap_ms").isNotNull)
      .groupBy("user_id").agg(max("gap_ms").as("max_gap_ms"), count(lit(1)).as("n_gaps"))
      .orderBy(col("max_gap_ms").desc, col("user_id")).limit(20)
  }

  /** DQ shuffle-key skew diagnostic: lineitem's supplier key hashed into
    * 32 synthetic reducer buckets with the portable mix (what a hash
    * exchange on this key would actually do), per-bucket row counts and
    * balance = n·buckets/total (1.0 = perfectly even) — the pre-flight
    * check that decides salting/AQE-skew handling BEFORE a 100-TB
    * shuffle, not after one straggles. One combinable count; the verdict
    * column `hot` flags buckets past 2× their fair share.
    */
  private def qPartitionSkew(s: SparkSession, dir: String): DataFrame = {
    val m = graft.text.TextOps.HashMod
    val b = Tables.table(s, dir, "lineitem")
      .groupBy(pmod(graft.text.TextOps.mixedOf(
        pmod(col("l_suppkey"), lit(m))), lit(32L)).as("bucket"))
      .agg(count(lit(1)).as("n_rows"))
    val t = b.agg(sum("n_rows").as("tot"), count(lit(1)).as("nb"))
    b.crossJoin(broadcast(t))
      .select(col("bucket"), col("n_rows"),
        round(col("n_rows").cast("double") * col("nb").cast("double")
          / col("tot").cast("double"), 9).as("balance"),
        (col("n_rows") * col("nb") > col("tot") * 2L).cast("int").as("hot"))
      .orderBy("bucket")
  }

  /** This family's share of SparkEntry.queries. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_partition_skew" -> (qPartitionSkew _),
    "q_time_to_event" -> (qTimeToEvent _),
    "q_value_quantiles_by_type" -> (qValueQuantilesByType _),
    "q_dormancy_topk" -> (qDormancyTopk _),
    "q_qoq_growth" -> (qQoqGrowth _),
    "q_sql_above_avg" -> (qSqlAboveAvg _),
    "q_first_touch" -> (qFirstTouch _),
    "q_markov_stationary" -> (qMarkovStationary _),
    "q_supplier_hhi" -> (qSupplierHhi _),
    "q_tokenizer_fertility" -> (qTokenizerFertility _),
    "q_dow_hour_heatmap" -> (qDowHourHeatmap _),
    "q_audience_overlap" -> (qAudienceOverlap _),
    "q_stl_outliers" -> (qStlOutliers _),
    "q_trade_matrix" -> (qTradeMatrix _),
    "q_lorenz_deciles" -> (qLorenzDeciles _),
    "q_log2_hist" -> (qLog2Hist _),
    "q_len_quartiles_by_lang" -> (qLenQuartilesByLang _),
    "q_sql_avg_basket" -> (qSqlAvgBasket _),
    "q_churn_rate" -> (qChurnRate _),
    "q_gap_percentiles" -> (qGapPercentiles _),
    "q_seasonal_decompose" -> (qSeasonalDecompose _),
    "q_anomaly_iqr" -> (qAnomalyIqr _),
    "q_emd_1d" -> (qEmd1d _),
    "q_js_divergence" -> (qJsDivergence _),
    "q_ttest_means" -> (qTtestMeans _),
    "q_rolling_active" -> (qRollingActive _),
    "q_top_movers" -> (qTopMovers _),
    "q_changepoint" -> (qChangepoint _),
    "q_assortativity" -> (qAssortativity _),
    "q_hist2d" -> (qHist2d _),
    "q_running_distinct" -> (qRunningDistinct _),
    "q_ppr" -> (qPpr _),
    "q_theil_sen" -> (qTheilSen _),
    "q_ab_test" -> (qAbTest _),
    "q_freq_triples" -> (qFreqTriples _),
    "q_hits" -> (qHits _),
    "q_pareto_abc" -> (qParetoAbc _),
    "q_dow_profile" -> (qDowProfile _),
    "q_rfm" -> (qRfm _),
    "q_ols_trend" -> (qOlsTrend _),
    "q_benford" -> (qBenford _),
    "q_cusum" -> (qCusum _),
    "q_sql_ship_lag" -> (qSqlShipLag _),
    "q_sql_waiting_supplier" -> (qSqlWaitingSupplier _),
    "q_adamic_adar" -> (qAdamicAdar _),
    "q_node_jaccard" -> (qNodeJaccard _),
    "q_assoc_rules" -> (qAssocRules _),
  )

  /** Shared co-purchase link-prediction CTE prefix (mirrors linkBase):
    * support-≥2 canonical edges → symmetrized → degrees → wedges. */
  private val linkCtes: String =
    """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT a.l_partkey AS a, b.l_partkey AS b
      |  FROM pp a JOIN pp b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT a AS z, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
      |w AS (
      |  SELECT s1.b AS x, s2.b AS y, s1.a AS z
      |  FROM sym s1 JOIN sym s2 ON s1.a = s2.a AND s1.b < s2.b)""".stripMargin

  /** This family's share of SparkEntry.oracleSql. */
  def oracleSql: Map[String, String] = Map(
    "q_partition_skew" -> {
      val mk = mixSql(mixSql("(l_suppkey % 2147483647)",
        graft.text.TextOps.DefaultMixMult), graft.text.TextOps.DefaultMixMult)
      s"""WITH b AS (
         |  SELECT ($mk) % 32 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows
         |  FROM lineitem GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS tot,
         |             CAST(COUNT(*) AS BIGINT) AS nb FROM b)
         |SELECT bucket, n_rows,
         |  round(CAST(n_rows AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(tot AS DOUBLE), 9) AS balance,
         |  CAST(n_rows * nb > tot * 2 AS INTEGER) AS hot
         |FROM b CROSS JOIN t ORDER BY bucket""".stripMargin
    },
    "q_ols_trend" ->
      """WITH dayrev AS (
        |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS yq
        |  FROM orders GROUP BY 1),
        |m AS (SELECT MIN(d) AS mind FROM dayrev),
        |xy AS (SELECT CAST(date_diff('day', mind, d) AS BIGINT) AS x, yq
        |       FROM dayrev CROSS JOIN m),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |  CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(x*yq) AS BIGINT) AS sxy,
        |  CAST(SUM(yq) AS BIGINT) AS sy FROM xy)
        |SELECT n AS n_days,
        |  round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)), 9)
        |    AS slope_cents_per_day,
        |  round((CAST(sy AS DOUBLE)
        |    - (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |      * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 9) AS intercept_cents
        |FROM s""".stripMargin,
    "q_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
        |    AS INTEGER) AS digit
        |  FROM orders),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d)
        |SELECT digit, COUNT(*) AS n_orders,
        |  round(CAST(COUNT(*) AS DOUBLE) / CAST(n AS DOUBLE), 9) AS observed,
        |  round(ln(CAST(digit + 1 AS DOUBLE) / CAST(digit AS DOUBLE)) / ln(10.0), 9) AS benford
        |FROM d CROSS JOIN t GROUP BY digit, n ORDER BY digit""".stripMargin,
    "q_cusum" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(c) AS BIGINT) AS tot FROM daily),
        |x AS (
        |  SELECT d, c,
        |    CAST(SUM(c) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn
        |  FROM daily)
        |SELECT d, c, CAST(nd * cum - rn * tot AS BIGINT) AS cusum_scaled
        |FROM x CROSS JOIN t ORDER BY d""".stripMargin,
    "q_sql_ship_lag" ->
      """WITH j AS (
        |  SELECT date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS lag,
        |    o_orderpriority
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT CASE WHEN lag < 0 THEN '0_early' WHEN lag <= 90 THEN '1_0-90'
        |            WHEN lag <= 365 THEN '2_91-365' ELSE '3_over365' END AS lag_bucket,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)
        |    AS BIGINT) AS low_line_count
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_sql_waiting_supplier" ->
      """WITH j AS (
        |  SELECT l_orderkey AS ok, l_suppkey AS sk,
        |    CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 60
        |         THEN 1 ELSE 0 END AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        |per AS (
        |  SELECT ok, COUNT(DISTINCT sk) AS ns,
        |    COUNT(DISTINCT CASE WHEN late = 1 THEN sk END) AS nlate,
        |    MAX(CASE WHEN late = 1 THEN sk END) AS late_sk
        |  FROM j GROUP BY 1)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM per JOIN supplier ON late_sk = s_suppkey
        |WHERE ns >= 2 AND nlate = 1
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "q_adamic_adar" ->
      s"""$linkCtes,
         |aa AS (
         |  SELECT x, y, COUNT(*) AS n_common,
         |    SUM(CAST(round(1.0 / ln(CAST(deg AS DOUBLE)), 9) AS DECIMAL(28,9))) AS scored
         |  FROM w JOIN deg USING (z) GROUP BY 1, 2)
         |SELECT x AS part_x, y AS part_y, n_common, CAST(scored AS DOUBLE) AS aa_score
         |FROM aa LEFT JOIN e ON aa.x = e.a AND aa.y = e.b
         |WHERE e.a IS NULL
         |ORDER BY aa_score DESC, part_x, part_y LIMIT 30""".stripMargin,
    "q_node_jaccard" ->
      s"""$linkCtes,
         |common AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM w GROUP BY 1, 2)
         |SELECT x AS part_x, y AS part_y, c AS n_common,
         |  round(CAST(c AS DOUBLE) / CAST(dx.deg + dy.deg - c AS DOUBLE), 9) AS jaccard
         |FROM common JOIN deg dx ON common.x = dx.z JOIN deg dy ON common.y = dy.z
         |ORDER BY jaccard DESC, part_x, part_y LIMIT 30""".stripMargin,
    "q_assoc_rules" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS nb FROM pp),
        |freq AS (SELECT l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS n_p FROM pp GROUP BY 1),
        |pairs AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS support
        |  FROM pp a JOIN pp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |rules AS (
        |  SELECT pa AS ante, pb AS cons, support FROM pairs
        |  UNION ALL SELECT pb, pa, support FROM pairs)
        |SELECT ante, cons, support,
        |  round(CAST(support AS DOUBLE) / CAST(fa.n_p AS DOUBLE), 9) AS confidence,
        |  round(CAST(support AS DOUBLE) * CAST(nb AS DOUBLE)
        |    / CAST(fa.n_p * fc.n_p AS DOUBLE), 9) AS lift
        |FROM rules JOIN freq fa ON ante = fa.p JOIN freq fc ON cons = fc.p CROSS JOIN nb
        |ORDER BY lift DESC, ante, cons LIMIT 30""".stripMargin,
    "q_value_quantiles_by_type" ->
      """SELECT event_type, COUNT(*) AS n,
        |  round(quantile_cont(value, 0.25), 9) AS p25,
        |  round(quantile_cont(value, 0.5), 9) AS p50,
        |  round(quantile_cont(value, 0.75), 9) AS p75,
        |  round(quantile_cont(value, 0.95), 9) AS p95
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dormancy_topk" ->
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_ms(ts) - lag(epoch_ms(ts), 1)
        |      OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS gap_ms
        |  FROM events)
        |SELECT user_id, CAST(MAX(gap_ms) AS BIGINT) AS max_gap_ms,
        |  CAST(COUNT(*) AS BIGINT) AS n_gaps
        |FROM g WHERE gap_ms IS NOT NULL
        |GROUP BY 1 ORDER BY max_gap_ms DESC, user_id LIMIT 20""".stripMargin,
    "q_qoq_growth" ->
      """WITH qr AS (
        |  SELECT year(l_shipdate) || '-Q' || quarter(l_shipdate) AS Quarter,
        |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revc
        |  FROM lineitem GROUP BY 1)
        |SELECT Quarter, revc, lag(revc, 1) OVER (ORDER BY Quarter) AS prev,
        |  CASE WHEN lag(revc, 1) OVER (ORDER BY Quarter) IS NOT NULL THEN
        |    round(CAST(revc - lag(revc, 1) OVER (ORDER BY Quarter) AS DOUBLE)
        |      / CAST(lag(revc, 1) OVER (ORDER BY Quarter) AS DOUBLE), 9) END AS growth
        |FROM qr ORDER BY Quarter""".stripMargin,
    "q_sql_above_avg" ->
      """WITH a AS (
        |  SELECT o_custkey AS ck,
        |    SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) / COUNT(*) AS avg_cents
        |  FROM orders GROUP BY 1)
        |SELECT o_orderkey, o_custkey,
        |  CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents,
        |  round(avg_cents, 9) AS cust_avg_cents,
        |  round(CAST(FLOOR(o_totalprice * 100) AS BIGINT) / avg_cents, 9) AS ratio
        |FROM orders JOIN a ON o_custkey = ck
        |WHERE CAST(FLOOR(o_totalprice * 100) AS BIGINT) > avg_cents
        |ORDER BY ratio DESC, o_orderkey LIMIT 20""".stripMargin,
    "q_first_touch" ->
      """WITH f AS (
        |  SELECT user_id, event_type AS first_touch FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM events) WHERE rn = 1),
        |b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        |cells AS (
        |  SELECT first_touch, CAST(COUNT(*) AS BIGINT) AS n_buyers
        |  FROM f JOIN b USING (user_id) GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_buyers) AS BIGINT) AS tot FROM cells)
        |SELECT first_touch, n_buyers,
        |  round(CAST(n_buyers AS DOUBLE) / CAST(tot AS DOUBLE), 9) AS share
        |FROM cells CROSS JOIN t ORDER BY first_touch""".stripMargin,
    "q_markov_stationary" -> {
      val rounds = (1 to 8).map { k =>
        s"""pi$k AS (
           |  SELECT s.st, CAST(COALESCE(m.m, 0) AS BIGINT) AS pi
           |  FROM st s LEFT JOIN (
           |    SELECT t, CAST(SUM(pi * p // 1000000) AS BIGINT) AS m
           |    FROM p JOIN pi${k - 1} ON p.f = pi${k - 1}.st GROUP BY 1) m
           |  ON s.st = m.t)""".stripMargin
      }.mkString(",\n")
      s"""WITH tr AS (
         |  SELECT event_type AS f, next_type AS t, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT event_type,
         |      lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
         |    FROM events)
         |  WHERE next_type IS NOT NULL GROUP BY 1, 2),
         |rs AS (SELECT f, CAST(SUM(cnt) AS BIGINT) AS rs FROM tr GROUP BY 1),
         |p AS (SELECT f, t, CAST(cnt * 1000000 // rs AS BIGINT) AS p
         |      FROM tr JOIN rs USING (f)),
         |st AS (SELECT DISTINCT f AS st FROM p),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM st),
         |pi0 AS (SELECT st, CAST(1000000 // n AS BIGINT) AS pi FROM st CROSS JOIN nn),
         |$rounds
         |SELECT st AS state, pi AS pi_micro FROM pi8 ORDER BY state""".stripMargin
    },
    "q_supplier_hhi" ->
      """WITH rev AS (
        |  SELECT n_name AS nation, s_suppkey,
        |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rc
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT nation, CAST(SUM(rc) AS BIGINT) AS tot, COUNT(*) AS n_suppliers
        |  FROM rev GROUP BY 1)
        |SELECT rev.nation, n_suppliers,
        |  round(CAST(CAST(SUM(CAST(round((CAST(rc AS DOUBLE) / CAST(tot AS DOUBLE))
        |    * (CAST(rc AS DOUBLE) / CAST(tot AS DOUBLE)), 9) AS DECIMAL(28,9)))
        | AS VARCHAR(64)) AS DOUBLE), 9) AS hhi
        |FROM rev JOIN tot USING (nation)
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q_tokenizer_fertility" ->
      """WITH m AS (
        |  SELECT lang,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS ws,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe,
        |    CAST(length(text) AS BIGINT) AS ch
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(ws) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
        |  round(CAST(SUM(ws) AS DOUBLE) * 100.0 / CAST(SUM(ch) AS DOUBLE), 9)
        |    AS ws_per_100ch,
        |  round(CAST(SUM(bpe) AS DOUBLE) / CAST(SUM(ws) AS DOUBLE), 9) AS bpe_per_ws
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_stl_outliers" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |ma AS (
        |  SELECT d, c,
        |    CAST(COUNT(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |      AS BIGINT) AS n7,
        |    round(CAST(SUM(c) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |      AS DOUBLE) / 7.0, 9) AS ma7
        |  FROM daily),
        |det AS (
        |  SELECT d, c, ma7, round(CAST(c AS DOUBLE) - ma7, 9) AS det,
        |    CAST(isodow(d) - 1 AS INTEGER) AS dow
        |  FROM ma WHERE n7 = 7),
        |seas AS (
        |  SELECT dow,
        |    round(CAST(CAST(SUM(CAST(det AS DECIMAL(28,9))) AS VARCHAR(64)) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE), 9) AS seasonal
        |  FROM det GROUP BY 1),
        |dec AS (
        |  SELECT d, c, round(det - seasonal, 9) AS residual
        |  FROM det JOIN seas USING (dow)),
        |med AS (SELECT quantile_cont(residual, 0.5) AS mr FROM dec),
        |dev AS (SELECT d, c, residual, mr, abs(residual - mr) AS adev
        |        FROM dec CROSS JOIN med),
        |mad AS (SELECT quantile_cont(adev, 0.5) AS mad FROM dev)
        |SELECT d, c, residual, round(mr, 9) AS res_median, round(mad, 9) AS res_mad
        |FROM dev CROSS JOIN mad
        |WHERE adev > mad * 2.0
        |ORDER BY d""".stripMargin,
    "q_trade_matrix" ->
      """SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
        |  CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_lorenz_deciles" ->
      """WITH cust AS (
        |  SELECT o_custkey AS ck,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS mc
        |  FROM orders GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cust),
        |t AS (SELECT CAST(SUM(mc) AS BIGINT) AS tot FROM cust),
        |ranked AS (
        |  SELECT mc,
        |    CAST(((row_number() OVER (ORDER BY mc, ck) - 1) * 10) // n AS BIGINT) AS decile
        |  FROM cust CROSS JOIN n),
        |per AS (
        |  SELECT decile, COUNT(*) AS n_cust, CAST(SUM(mc) AS BIGINT) AS spend_cents
        |  FROM ranked GROUP BY 1),
        |cum AS (
        |  SELECT decile, n_cust, spend_cents,
        |    CAST(SUM(spend_cents) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM per)
        |SELECT decile, n_cust, spend_cents,
        |  round(CAST(spend_cents AS DOUBLE) / CAST(tot AS DOUBLE), 9) AS share,
        |  round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 9) AS cum_share
        |FROM cum CROSS JOIN t ORDER BY decile""".stripMargin,
    "q_dow_hour_heatmap" ->
      """SELECT CAST(isodow(CAST(date_trunc('day', ts) AS DATE)) - 1 AS INTEGER) AS dow,
        |  CAST(hour(ts) AS INTEGER) AS hr, COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |sizes AS (SELECT event_type AS t, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY 1),
        |common AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT ta, tb, c AS n_common,
        |  round(CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE), 9) AS jaccard
        |FROM common JOIN sizes sa ON ta = sa.t JOIN sizes sb ON tb = sb.t
        |ORDER BY ta, tb""".stripMargin,
    "q_log2_hist" ->
      """SELECT log2_bucket, CAST(1 AS BIGINT) << log2_bucket AS bucket_lo,
        |  COUNT(*) AS n_docs
        |FROM (SELECT CAST(length(bin(n_chars)) - 1 AS INTEGER) AS log2_bucket
        |      FROM documents WHERE n_chars > 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_len_quartiles_by_lang" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  round(quantile_cont(n_chars, 0.25), 9) AS q1,
        |  round(quantile_cont(n_chars, 0.5), 9) AS median,
        |  round(quantile_cont(n_chars, 0.75), 9) AS q3
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_sql_avg_basket" ->
      """WITH per AS (
        |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |    CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
        |  FROM lineitem GROUP BY 1)
        |SELECT COUNT(*) AS n_orders,
        |  round(CAST(SUM(n_lines) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS avg_lines,
        |  round(CAST(SUM(n_parts) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS avg_parts,
        |  CAST(MAX(n_lines) AS BIGINT) AS max_lines
        |FROM per""".stripMargin,
    "q_churn_rate" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w FROM events),
        |prev AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_prev FROM uw GROUP BY 1),
        |ret AS (
        |  SELECT a.w, CAST(COUNT(*) AS BIGINT) AS retained
        |  FROM uw a JOIN uw b ON a.user_id = b.user_id AND b.w = a.w + 7
        |  GROUP BY 1)
        |SELECT prev.w AS week_start, n_prev, COALESCE(retained, 0) AS retained,
        |  round(1.0 - CAST(COALESCE(retained, 0) AS DOUBLE) / CAST(n_prev AS DOUBLE), 9)
        |    AS churn_rate
        |FROM prev LEFT JOIN ret ON prev.w = ret.w
        |ORDER BY week_start""".stripMargin,
    "q_gap_percentiles" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS t FROM events),
        |g AS (
        |  SELECT t - lag(t, 1) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap_ms
        |  FROM e)
        |SELECT COUNT(*) AS n_gaps,
        |  round(quantile_cont(gap_ms, 0.5), 9) AS p50_ms,
        |  round(quantile_cont(gap_ms, 0.9), 9) AS p90_ms,
        |  round(quantile_cont(gap_ms, 0.99), 9) AS p99_ms
        |FROM g WHERE gap_ms IS NOT NULL""".stripMargin,
    "q_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |ma AS (
        |  SELECT d, c,
        |    CAST(COUNT(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |      AS BIGINT) AS n7,
        |    round(CAST(SUM(c) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |      AS DOUBLE) / 7.0, 9) AS ma7
        |  FROM daily),
        |det AS (
        |  SELECT d, c, ma7, round(CAST(c AS DOUBLE) - ma7, 9) AS det,
        |    CAST(isodow(d) - 1 AS INTEGER) AS dow
        |  FROM ma WHERE n7 = 7),
        |seas AS (
        |  SELECT dow,
        |    round(CAST(CAST(SUM(CAST(det AS DECIMAL(28,9))) AS VARCHAR(64)) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE), 9) AS seasonal
        |  FROM det GROUP BY 1)
        |SELECT d, c, ma7, seasonal, round(det - seasonal, 9) AS residual
        |FROM det JOIN seas USING (dow)
        |ORDER BY d""".stripMargin,
    "q_anomaly_iqr" ->
      s"""WITH daily AS (
         |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, ${ss("value")} AS v
         |  FROM events GROUP BY 1),
         |qs AS (
         |  SELECT quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.75) AS q3 FROM daily)
         |SELECT d, v,
         |  round(q1 - (q3 - q1) * 1.5, 9) AS lo_bound,
         |  round(q3 + (q3 - q1) * 1.5, 9) AS hi_bound
         |FROM daily CROSS JOIN qs
         |WHERE v < q1 - (q3 - q1) * 1.5 OR v > q3 + (q3 - q1) * 1.5
         |ORDER BY d""".stripMargin,
    "q_time_to_event" ->
      """WITH f AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS fv,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1),
        |lat AS (
        |  SELECT epoch_ms(fp) - epoch_ms(fv) AS lat_ms
        |  FROM f WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv)
        |SELECT COUNT(*) AS n_users, CAST(MIN(lat_ms) AS BIGINT) AS min_ms,
        |  round(quantile_cont(lat_ms, 0.5), 9) AS median_ms,
        |  round(quantile_cont(lat_ms, 0.9), 9) AS p90_ms,
        |  CAST(MAX(lat_ms) AS BIGINT) AS max_ms
        |FROM lat""".stripMargin,
    "q_emd_1d" ->
      """WITH v AS (
        |  SELECT CAST(floor(c_acctbal * 100) AS BIGINT) AS xq,
        |    CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM customer WHERE c_mktsegment IN ('BUILDING','MACHINERY') GROUP BY 1),
        |cums AS (
        |  SELECT xq,
        |    CAST(SUM(c1) OVER (ORDER BY xq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum1,
        |    CAST(SUM(c2) OVER (ORDER BY xq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum2,
        |    lead(xq, 1) OVER (ORDER BY xq) - xq AS gap
        |  FROM v),
        |t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM v)
        |SELECT n1, n2,
        |  round(CAST(SUM(CAST(ABS(cum1*n2 - cum2*n1) AS HUGEINT) * gap) AS DOUBLE)
        |    / CAST(n1 * n2 AS DOUBLE) / 100.0, 9) AS emd
        |FROM cums CROSS JOIN t WHERE gap IS NOT NULL GROUP BY n1, n2""".stripMargin,
    "q_js_divergence" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |piv AS (SELECT (MIN(us) + MAX(us)) // 2 AS pv FROM e),
        |cnt AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN us <= pv THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN us > pv THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM e CROSS JOIN piv GROUP BY 1),
        |t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM cnt),
        |pq AS (
        |  SELECT greatest(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE), 1e-6) AS p,
        |         greatest(CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE), 1e-6) AS q
        |  FROM cnt CROSS JOIN t),
        |c AS (
        |  SELECT CAST(round(p * ln(p / ((p + q) / 2.0)) * 0.5
        |                  + q * ln(q / ((p + q) / 2.0)) * 0.5, 9) AS DECIMAL(28,9)) AS c
        |  FROM pq)
        |SELECT round(CAST(SUM(c) AS DOUBLE), 9) AS js_nats FROM c""".stripMargin,
    "q_ttest_means" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |w AS (SELECT (isodow(d) - 1) >= 5 AS weekend, c FROM daily),
        |a AS (SELECT
        |  CAST(SUM(CASE WHEN NOT weekend THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(SUM(CASE WHEN NOT weekend THEN c ELSE 0 END) AS BIGINT) AS s1,
        |  CAST(SUM(CASE WHEN NOT weekend THEN c*c ELSE 0 END) AS BIGINT) AS q1,
        |  CAST(SUM(CASE WHEN weekend THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(SUM(CASE WHEN weekend THEN c ELSE 0 END) AS BIGINT) AS s2,
        |  CAST(SUM(CASE WHEN weekend THEN c*c ELSE 0 END) AS BIGINT) AS q2
        |  FROM w)
        |SELECT n1 AS n_weekday, n2 AS n_weekend,
        |  round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 9) AS mean_weekday,
        |  round(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE), 9) AS mean_weekend,
        |  round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        |    / sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |            / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)
        |         + ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        |            / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE)), 9) AS t_stat
        |FROM a""".stripMargin,
    "q_rolling_active" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events),
        |span AS (SELECT MIN(d) AS mind, MAX(d) AS maxd FROM ud),
        |wexp AS (
        |  SELECT DISTINCT user_id, d + CAST(i AS INTEGER) AS w
        |  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS i)),
        |wau AS (
        |  SELECT w AS d, CAST(COUNT(*) AS BIGINT) AS wau FROM wexp CROSS JOIN span
        |  WHERE w >= mind AND w <= maxd GROUP BY 1),
        |dau AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1)
        |SELECT wau.d, COALESCE(dau.dau, 0) AS dau, wau.wau,
        |  round(CAST(COALESCE(dau.dau, 0) AS DOUBLE) / CAST(wau.wau AS DOUBLE), 9)
        |    AS stickiness
        |FROM wau LEFT JOIN dau ON wau.d = dau.d
        |ORDER BY wau.d""".stripMargin,
    "q_top_movers" ->
      """WITH qr AS (
        |  SELECT l_partkey, year(l_shipdate) || '-Q' || quarter(l_shipdate) AS Quarter,
        |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revc
        |  FROM lineitem GROUP BY 1, 2),
        |lagd AS (
        |  SELECT l_partkey, Quarter,
        |    lag(revc, 1) OVER (PARTITION BY l_partkey ORDER BY Quarter) AS prev_revc, revc
        |  FROM qr)
        |SELECT l_partkey, Quarter, prev_revc, revc, CAST(revc - prev_revc AS BIGINT) AS delta
        |FROM lagd WHERE prev_revc IS NOT NULL
        |ORDER BY abs(revc - prev_revc) DESC, l_partkey, Quarter LIMIT 20""".stripMargin,
    "q_changepoint" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(c) AS BIGINT) AS tot FROM daily),
        |tr0 AS (
        |  SELECT d,
        |    CAST(SUM(c) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn
        |  FROM daily),
        |trace AS (
        |  SELECT d, cum, rn, CAST(ABS(nd * cum - rn * tot) AS BIGINT) AS dev
        |  FROM tr0 CROSS JOIN t),
        |pick AS (
        |  SELECT d AS change_day, cum AS cum_at, rn AS n_before
        |  FROM trace ORDER BY dev DESC, d LIMIT 1)
        |SELECT change_day, n_before, CAST(nd - n_before AS BIGINT) AS n_after,
        |  round(CAST(cum_at AS DOUBLE) / CAST(n_before AS DOUBLE), 9) AS mean_before,
        |  round(CAST(tot - cum_at AS DOUBLE) / CAST(nd - n_before AS DOUBLE), 9) AS mean_after
        |FROM t CROSS JOIN pick""".stripMargin,
    "q_assortativity" ->
      s"""$linkCtes,
         |dd AS (
         |  SELECT dx.deg AS dx, dy.deg AS dy
         |  FROM sym JOIN deg dx ON sym.a = dx.z JOIN deg dy ON sym.b = dy.z),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dx) AS BIGINT) AS sx,
         |  CAST(SUM(dy) AS BIGINT) AS sy, CAST(SUM(dx*dy) AS BIGINT) AS sxy,
         |  CAST(SUM(dx*dx) AS BIGINT) AS sxx, CAST(SUM(dy*dy) AS BIGINT) AS syy
         |  FROM dd)
         |SELECT n AS n_directed_edges,
         |  round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
         |    / (sqrt(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
         |     * sqrt(CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 9)
         |    AS assortativity
         |FROM m""".stripMargin,
    "q_hist2d" ->
      """WITH mm AS (
        |  SELECT MIN(l_extendedprice) AS pmn, MAX(l_extendedprice) AS pmx,
        |    MIN(l_quantity) AS qmn, MAX(l_quantity) AS qmx
        |  FROM lineitem)
        |SELECT
        |  CAST(least(floor((l_extendedprice - pmn) * 10.0 / (pmx - pmn)), 9.0) AS INTEGER)
        |    AS price_bucket,
        |  CAST(least(floor((l_quantity - qmn) * 10.0 / (qmx - qmn)), 9.0) AS INTEGER)
        |    AS qty_bucket,
        |  COUNT(*) AS n
        |FROM lineitem CROSS JOIN mm
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_running_distinct" ->
      """WITH first_d AS (
        |  SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS d
        |  FROM events GROUP BY 1),
        |daily AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS new_users FROM first_d GROUP BY 1)
        |SELECT d, new_users,
        |  CAST(SUM(new_users) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM daily ORDER BY d""".stripMargin,
    "q_ppr" ->
      s"""$linkCtes,
         |eg AS (SELECT a AS src, b AS dst FROM sym),
         |odeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM eg GROUP BY 1),
         |seed AS (SELECT MIN(src) AS sd FROM odeg),
         |r0 AS (
         |  SELECT src AS id, CAST(CASE WHEN src = sd THEN 1000000 ELSE 0 END AS BIGINT) AS r
         |  FROM odeg CROSS JOIN seed),
         |c1 AS (
         |  SELECT dst, CAST(SUM(r // outdeg) AS BIGINT) AS contrib
         |  FROM eg JOIN odeg USING (src) JOIN r0 ON eg.src = r0.id GROUP BY 1),
         |r1 AS (
         |  SELECT d.src AS id,
         |    CAST(CASE WHEN d.src = sd THEN 150000 ELSE 0 END
         |      + (850000 * COALESCE(c.contrib, 0)) // 1000000 AS BIGINT) AS r
         |  FROM odeg d CROSS JOIN seed LEFT JOIN c1 c ON d.src = c.dst),
         |c2 AS (
         |  SELECT dst, CAST(SUM(r // outdeg) AS BIGINT) AS contrib
         |  FROM eg JOIN odeg USING (src) JOIN r1 ON eg.src = r1.id GROUP BY 1),
         |r2 AS (
         |  SELECT d.src AS id,
         |    CAST(CASE WHEN d.src = sd THEN 150000 ELSE 0 END
         |      + (850000 * COALESCE(c.contrib, 0)) // 1000000 AS BIGINT) AS r
         |  FROM odeg d CROSS JOIN seed LEFT JOIN c2 c ON d.src = c.dst),
         |c3 AS (
         |  SELECT dst, CAST(SUM(r // outdeg) AS BIGINT) AS contrib
         |  FROM eg JOIN odeg USING (src) JOIN r2 ON eg.src = r2.id GROUP BY 1),
         |r3 AS (
         |  SELECT d.src AS id,
         |    CAST(CASE WHEN d.src = sd THEN 150000 ELSE 0 END
         |      + (850000 * COALESCE(c.contrib, 0)) // 1000000 AS BIGINT) AS r
         |  FROM odeg d CROSS JOIN seed LEFT JOIN c3 c ON d.src = c.dst)
         |SELECT id, r FROM r3 WHERE r > 0 ORDER BY r DESC, id LIMIT 20""".stripMargin,
    "q_theil_sen" ->
      """WITH dayrev AS (
        |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS yq
        |  FROM orders GROUP BY 1),
        |m AS (SELECT MIN(d) AS mind FROM dayrev),
        |xy AS (SELECT CAST(date_diff('day', mind, d) AS BIGINT) AS x, yq
        |       FROM dayrev CROSS JOIN m),
        |slopes AS (
        |  SELECT CAST(j.yq - i.yq AS DOUBLE) / CAST(j.x - i.x AS DOUBLE) AS slope
        |  FROM xy i JOIN xy j ON i.x < j.x)
        |SELECT COUNT(*) AS n_pairs,
        |  round(quantile_cont(slope, 0.5), 9) AS theil_slope_cents_per_day
        |FROM slopes""".stripMargin,
    "q_ab_test" ->
      """WITH a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING'
        |      AND o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS x1,
        |    CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY'
        |      AND o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS x2
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING','MACHINERY'))
        |SELECT n1, x1, n2, x2,
        |  round((CAST(x1 AS DOUBLE)/CAST(n1 AS DOUBLE) - CAST(x2 AS DOUBLE)/CAST(n2 AS DOUBLE))
        |    / sqrt((CAST(x1 AS DOUBLE)+CAST(x2 AS DOUBLE))/(CAST(n1 AS DOUBLE)+CAST(n2 AS DOUBLE))
        |      * (1.0 - (CAST(x1 AS DOUBLE)+CAST(x2 AS DOUBLE))/(CAST(n1 AS DOUBLE)+CAST(n2 AS DOUBLE)))
        |      * (1.0/CAST(n1 AS DOUBLE) + 1.0/CAST(n2 AS DOUBLE))), 9) AS z_stat
        |FROM a""".stripMargin,
    "q_freq_triples" ->
      """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS pa, b.l_partkey AS pb, c.l_partkey AS pc,
        |  CAST(COUNT(*) AS BIGINT) AS support
        |FROM pp a JOIN pp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |          JOIN pp c ON b.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
        |GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
        |ORDER BY support DESC, pa, pb, pc LIMIT 30""".stripMargin,
    "q_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |h0 AS (SELECT DISTINCT c, CAST(1000000 AS BIGINT) AS h FROM e),
        |ar1 AS (SELECT sup, CAST(SUM(h) AS BIGINT) AS ar FROM e JOIN h0 USING (c) GROUP BY 1),
        |am1 AS (SELECT MAX(ar) AS am FROM ar1),
        |a1 AS (SELECT sup, CAST(ar * 1000000 // am AS BIGINT) AS a FROM ar1 CROSS JOIN am1),
        |hr1 AS (SELECT c, CAST(SUM(a) AS BIGINT) AS hr FROM e JOIN a1 USING (sup) GROUP BY 1),
        |hm1 AS (SELECT MAX(hr) AS hm FROM hr1),
        |h1 AS (SELECT c, CAST(hr * 1000000 // hm AS BIGINT) AS h FROM hr1 CROSS JOIN hm1),
        |ar2 AS (SELECT sup, CAST(SUM(h) AS BIGINT) AS ar FROM e JOIN h1 USING (c) GROUP BY 1),
        |am2 AS (SELECT MAX(ar) AS am FROM ar2),
        |a2 AS (SELECT sup, CAST(ar * 1000000 // am AS BIGINT) AS a FROM ar2 CROSS JOIN am2)
        |SELECT sup AS s_suppkey, a AS auth FROM a2
        |ORDER BY auth DESC, s_suppkey LIMIT 20""".stripMargin,
    "q_pareto_abc" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revc
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(SUM(revc) AS BIGINT) AS tot FROM rev),
        |cum AS (
        |  SELECT revc,
        |    CAST(SUM(revc) OVER (ORDER BY revc DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cuminc
        |  FROM rev)
        |SELECT CASE WHEN CAST(cuminc AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.5 THEN 'A'
        |            WHEN CAST(cuminc AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.8 THEN 'B'
        |            ELSE 'C' END AS abc_class,
        |  COUNT(*) AS n_parts, CAST(SUM(revc) AS BIGINT) AS revenue_cents
        |FROM cum CROSS JOIN t GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dow_profile" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(c) AS BIGINT) AS tot FROM daily)
        |SELECT CAST(isodow(d) - 1 AS INTEGER) AS dow, COUNT(*) AS n_days,
        |  CAST(SUM(c) AS BIGINT) AS n_events,
        |  round(CAST(SUM(c) * nd AS DOUBLE) / CAST(COUNT(*) * tot AS DOUBLE), 9)
        |    AS seasonal_index
        |FROM daily CROSS JOIN t GROUP BY 1, nd, tot ORDER BY 1""".stripMargin,
    "q_rfm" ->
      """WITH cust AS (
        |  SELECT o_custkey AS ck, MAX(o_orderdate) AS last_o, CAST(COUNT(*) AS BIGINT) AS f,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS mc
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT MAX(last_o) AS gmax FROM cust),
        |base AS (
        |  SELECT ck, CAST(date_diff('day', CAST(last_o AS DATE), CAST(gmax AS DATE)) AS BIGINT)
        |    AS rdays, f, mc
        |  FROM cust CROSS JOIN mx),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
        |r AS (SELECT ck, CAST(5 - ((row_number() OVER (ORDER BY rdays, ck) - 1) * 5) // n
        |  AS BIGINT) AS r_score FROM base CROSS JOIN n),
        |fq AS (SELECT ck, CAST(5 - ((row_number() OVER (ORDER BY f DESC, ck) - 1) * 5) // n
        |  AS BIGINT) AS f_score FROM base CROSS JOIN n),
        |m AS (SELECT ck, CAST(5 - ((row_number() OVER (ORDER BY mc DESC, ck) - 1) * 5) // n
        |  AS BIGINT) AS m_score FROM base CROSS JOIN n)
        |SELECT base.ck AS custkey, rdays, f, mc, r_score, f_score, m_score,
        |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR)
        |    AS segment
        |FROM base JOIN r USING (ck) JOIN fq USING (ck) JOIN m USING (ck)
        |ORDER BY custkey""".stripMargin,
  )
}
