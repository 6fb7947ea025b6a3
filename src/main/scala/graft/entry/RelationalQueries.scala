package graft.entry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.graph.PageRank
import graft.ingest.Normalize
import graft.multimodal.Media
import graft.ops.{Ordered, Profile, Reshape, Scalar}
import graft.pipeline.Marts
import graft.sim.Similarity
import graft.sources.Tables
import graft.text.{Dedup, TextOps}

import graft.entry.EntryHelpers._

/** Scans, sinks, projection/filter predicates, joins, reshape/pivot,
  * group-by aggregation, scalar transforms and window/ordered operators
  * (SURVEY.md §2.1–2.8 core relational surface).
  *
  * One `queries` entry per operator (driver contract) with its DuckDB
  * `oracleSql` twin; split out of the monolithic SparkEntry (round-5
  * verdict ask #8), zero behavior change.
  */
private[graft] object RelationalQueries {
  // =====================================================================
  // §2.1 scans / sources / sinks
  // =====================================================================

  /** S1 CSV scan (reference get_csv, src/ETL-NPL-Pipeline.py:34-40):
    * parquet->CSV round-trip of `region`, read back with explicit schema.
    */
  private def qScanCsv(s: SparkSession, dir: String): DataFrame = {
    val tmp = tmpDir("scan_csv", dir)
    graft.pipeline.Sink.writeCsv(Tables.table(s, dir, "region"), tmp)
    Normalize.readCsv(s, tmp, StructType.fromDDL("r_regionkey INT, r_name STRING"))
      .orderBy("r_regionkey")
  }

  /** S2 Excel scan DECLARED (reference pd.read_excel, src:48-54,513):
    * region → .xlsx (inline-string workbook written by the library's own
    * minimal OPC writer) → Xlsx sheet reader → header promoted → typed
    * columns. The collect() is 5 ingest-sized rows — the same sanctioned
    * exception as the hostile-CSV header handling (SURVEY §7.4.1).
    */
  private def qScanXlsx(s: SparkSession, dir: String): DataFrame = {
    val path = s"${tmpDir("scan_xlsx", dir)}.xlsx"
    val rows = Tables.table(s, dir, "region").orderBy("r_regionkey")
      .select(col("r_regionkey").cast("string"), col("r_name"))
      .collect().map(r => Seq(r.getString(0), r.getString(1))).toSeq
    graft.sources.Xlsx.writeSheet(path, Seq("r_regionkey", "r_name") +: rows)
    graft.sources.Xlsx.readSheetDf(s, path)
      .filter(col("_idx") > 0) // drop the header row
      .select(col("_c0").cast("int").as("r_regionkey"), col("_c1").as("r_name"))
      .orderBy("r_regionkey")
  }

  /** S3/S5 JSON records -> table (observations_bot + json_normalize,
    * src:78-112,218): parse the `events.props` JSON column with an explicit
    * schema (never infer on a 100 TB scan).
    */
  private def qJsonRecords(s: SparkSession, dir: String): DataFrame =
    Normalize.jsonRecords(
        Tables.events(s, dir).select(col("event_id"), col("props")),
        col("props"), StructType.fromDDL("k INT"))
      .select("event_id", "k").orderBy("event_id")

  /** S4/O3 month-paginated fetch + batch accumulation (interest_bot,
    * src:271-327): union of day-range slices reassembles the whole table.
    */
  private def qUnionBatches(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Seq((1, 10), (11, 20), (21, 31))
      .map { case (a, b) => ev.filter(dayofmonth(col("ts")).between(a, b)) }
      .reduce(_.unionByName(_))
      .orderBy("event_id")
  }

  /** S6 timestamped CSV sink (src:769-793): aggregate -> header CSV ->
    * re-read with schema; count/values preserved.
    */
  private def qSinkRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = tmpDir("sink", dir)
    graft.pipeline.Sink.writeCsv(
      Tables.table(s, dir, "orders").groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders")), tmp)
    Normalize.readCsv(s, tmp, StructType.fromDDL("o_orderpriority STRING, n_orders BIGINT"))
      .orderBy("o_orderpriority")
  }

  /** S6 scale path: partitioned-parquet sink round-trip. Writes per-quarter
    * aggregates partitioned by l_returnflag, re-reads with a partition
    * filter — the read scans only the `l_returnflag=A/` directory
    * (partition pruning), which is the 100 TB layout for segment marts.
    */
  private def qSinkPartitioned(s: SparkSession, dir: String): DataFrame = {
    val tmp = tmpDir("sink_part", dir)
    val agg = Tables.table(s, dir, "lineitem")
      .groupBy(Scalar.toQuarter(col("l_shipdate")).as("Quarter"), col("l_returnflag"))
      .agg(Scalar.stableSum(col("l_quantity")).as("sum_qty"))
    graft.pipeline.Sink.writePartitioned(agg, tmp, "l_returnflag")
    graft.pipeline.Sink.readPartitioned(s, tmp)
      .filter(col("l_returnflag") === "A")
      .select("Quarter", "l_returnflag", "sum_qty")
      .orderBy("Quarter")
  }

  // =====================================================================
  // §2.2 projections / filters / predicates
  // =====================================================================

  /** P1/P2 projection by name and by position (src:251,365). */
  private def qProject(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.table(s, dir, "lineitem")
    val c = li.columns
    li.select(col(c(0)), col(c(3)), col(c(4))) // positional: orderkey, linenumber, quantity
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** P3 column drop (src:189). */
  private def qDropCol(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "part").drop("p_retailprice", "p_size").orderBy("p_partkey")

  /** P5 equality predicate (src:426 `query("name_eng != ...")`). */
  private def qFilterEq(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "customer").filter(col("c_mktsegment") =!= "BUILDING")
      .orderBy("c_custkey")

  /** P6 substring predicate (src:180-186 `.str.contains`). */
  private def qFilterContains(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "part").filter(col("p_name").contains("red")).orderBy("p_partkey")

  /** P7 string-length predicate (src:407 drop 4-char year rows). */
  private def qFilterStrlen(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "nation").filter(length(col("n_name")) =!= 4).orderBy("n_nationkey")

  /** P8 positional row slice (src:125-126 `iloc[[4,5,16,17,18], ...]`):
    * explicit ordinal + isin/range — pandas row positions on an unordered
    * engine (SURVEY.md §7.4.1).
    */
  private def qRowsByOrdinal(s: SparkSession, dir: String): DataFrame =
    Normalize.withOrdinal(
        Tables.table(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        col("o_orderkey"))
      .filter(col("_idx").isin(5, 6, 17, 18, 19) || col("_idx").between(100, 120))
      .orderBy("_idx")

  // =====================================================================
  // §2.3 joins
  // =====================================================================

  /** J1 chained inner equi-joins (src:241-242). At testdata scale AQE
    * broadcasts orders/customer; at 100 TB they become shuffle joins on the
    * join keys — no hints needed, Catalyst decides.
    */
  private def qJoinInner(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.table(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    val o = Tables.table(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    val c = Tables.table(s, dir, "customer").select("c_custkey", "c_name")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select("l_orderkey", "l_linenumber", "l_quantity", "o_totalprice", "c_name")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** J2 chained full-outer joins on Quarter (src:706-708), key coalesced by
    * usingColumns like pandas `merge(on=)`.
    */
  private def qJoinFullOuter(s: SparkSession, dir: String): DataFrame =
    Marts.commonSeries(s, dir).orderBy("Quarter")

  /** As-of join (beyond the reference: panel-data "latest value at or
    * before t"): every event joined to its user's most recent purchase.
    * Spark side composes union + keyed ffill window (ops.AsOf — one
    * shuffle); the oracle cross-validates against DuckDB's native
    * ASOF LEFT JOIN.
    */
  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    // Dedupe the right side to one row per (user_id, ts) BEFORE the as-of:
    // with ties present, Spark's window fill and DuckDB's ASOF each pick an
    // arbitrary row and the hash-compare goes flaky (ADVICE r1). max(value)
    // is the deterministic representative on both engines.
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("last_purchase_value"))
    graft.ops.AsOf.joinLastBefore(
        ev.select("event_id", "user_id", "ts", "event_type", "value"),
        purchases, keys = Seq("user_id"), timeCol = "ts",
        valueCols = Seq("last_purchase_value"))
      .select("event_id", "user_id", "event_type", "value", "last_purchase_value")
      .orderBy("event_id")
  }

  // =====================================================================
  // §2.4 reshape
  // =====================================================================

  /** R1 wide->long unpivot (pandas stack, src:149-160). */
  private def qUnpivot(s: SparkSession, dir: String): DataFrame = {
    val wide = Tables.table(s, dir, "orders")
      .groupBy(Scalar.toQuarter(col("o_orderdate")).as("Quarter"))
      .agg(
        Scalar.stableAvg(col("o_totalprice")).as("avg_price"),
        Scalar.stableSum(col("o_totalprice")).as("sum_price"),
        count(lit(1)).cast("double").as("n_orders"))
    Reshape.unpivotWide(wide, Seq("Quarter"),
        Seq("avg_price", "sum_price", "n_orders"), "metric", "value")
      .orderBy("Quarter", "metric")
  }

  /** R2 long->wide pivot (src:163-165) with explicit pivot values — no
    * discovery scan (Reshape scale note).
    */
  private def qPivot(s: SparkSession, dir: String): DataFrame =
    Reshape.pivotLong(
        Tables.table(s, dir, "lineitem").select(
          Scalar.toQuarter(col("l_shipdate")).as("Quarter"),
          col("l_returnflag"), col("l_quantity")),
        Seq("Quarter"), "l_returnflag", Seq("A", "N", "R"),
        Scalar.stableSum(col("l_quantity")))
      .orderBy("Quarter")

  /** SQL surface: the engine's full Spark SQL dialect over registered
    * views — capability the reference lacks entirely (it has no query
    * language, SURVEY.md §3) but that falls out of riding Catalyst. TPC-H
    * Q1 shape with decimal-stable aggregates.
    */
  private def qSqlPricingSummary(s: SparkSession, dir: String): DataFrame = {
    Tables.table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP_NTZ '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** J1+ TPC-H Q8-shaped market share through `spark.sql`: the 8-relation
    * snowflake (part + lineitem + orders + customer + 2×nation + region +
    * supplier) where the CUSTOMER side fixes the market (ASIA) and the
    * SUPPLIER side attributes each sale's nation — the classic
    * two-role-dimension join. Share = conditional decimal sum / total
    * decimal sum, both exact, cast to double only for the final division
    * (IEEE-identical across engines). Every dimension broadcasts; the
    * only real shuffles are the two fact-side equi-joins and a
    * years-sized aggregate.
    */
  private def qSqlMarketShare(s: SparkSession, dir: String): DataFrame = {
    Seq("part", "lineitem", "orders", "customer", "supplier", "nation", "region")
      .foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))
    s.sql(sqlMarketShare)
  }

  private val sqlMarketShare =
    """SELECT o_year,
      |  CAST(SUM(CASE WHEN nation = 'NATION_2' THEN volume ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(volume) AS DOUBLE) AS mkt_share
      |FROM (
      |  SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
      |    CAST(l.l_extendedprice AS DECIMAL(18,6))
      |      * CAST(1 - l.l_discount AS DECIMAL(18,6)) AS volume,
      |    n2.n_name AS nation
      |  FROM part p
      |  JOIN lineitem l ON p.p_partkey = l.l_partkey
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      |  JOIN region r ON n1.n_regionkey = r.r_regionkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      |  WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
      |    AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |) GROUP BY o_year ORDER BY o_year""".stripMargin

  /** A1+ TPC-H Q15-shaped top supplier: per-supplier quarterly revenue
    * (exact decimal sums cast to double once), then keep the supplier(s)
    * matching the scalar-subquery MAX — the revenue doubles on both
    * sides are the same exact-decimal cast, so the equality is safe.
    * One fact-side aggregate, one broadcast dimension join, one scalar
    * subquery.
    */
  private def qSqlTopSupplier(s: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "supplier")
      .foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))
    s.sql(sqlTopSupplier)
  }

  private val sqlTopSupplier =
    """WITH rev AS (
      |  SELECT l_suppkey AS supplier_no,
      |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
      |             * CAST(1 - l_discount AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s.s_suppkey, s.s_name, r.total_revenue
      |FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
      |WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  /** P5+ TPC-H Q4-shaped EXISTS semi-join through `spark.sql`: orders in
    * one quarter counted by priority when at least one line shipped more
    * than 90 days after the order date. Catalyst rewrites the EXISTS to a
    * left-semi hash join on o_orderkey — the subquery never multiplies
    * rows, which is the point of the Q4 shape.
    */
  private def qSqlLateOrders(s: SparkSession, dir: String): DataFrame = {
    Seq("orders", "lineitem")
      .foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))
    s.sql(sqlLateOrders)
  }

  private val sqlLateOrders =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** J2+ TPC-H Q13-shaped distribution: customers LEFT OUTER joined to
    * their non-urgent orders (the join predicate carries the filter, so
    * order-less customers survive with count 0), per-customer order
    * counts, then the count-of-counts histogram — two nested aggregates,
    * both map-side combinable.
    */
  private def qSqlCustDist(s: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders")
      .foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))
    s.sql(sqlCustDist)
  }

  private val sqlCustDist =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      |  FROM customer c LEFT OUTER JOIN orders o
      |    ON c.c_custkey = o.o_custkey
      |    AND o.o_orderpriority <> '1-URGENT'
      |  GROUP BY c.c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** A1+ TPC-H Q14-shaped promo share through `spark.sql`: one month of
    * lineitem joined to part, CASE-conditional decimal revenue over
    * total — the conditional-aggregation-ratio shape; both sums exact
    * decimals, one double division at the end, rounded to 9 places
    * (the q_embed_quantize convention): the month-scale decimal sums are
    * large enough that the two engines' decimal→double casts disagree at
    * the LAST ULP (DuckDB divides the scaled int by 10^scale in double;
    * Spark goes through BigDecimal's correctly-rounded conversion), and
    * the division amplifies it into the hash. Q14's 100× presentation
    * scaling is also dropped — a `100.0` literal is DECIMAL in both
    * engines with divergent promotion rounding.
    */
  private def qSqlPromoShare(s: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "part")
      .foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))
    s.sql(sqlPromoShare)
  }

  private val sqlPromoShare =
    """SELECT
      |  ROUND(CAST(CAST(SUM(CASE WHEN p.p_type = 'PROMO'
      |      THEN CAST(l.l_extendedprice AS DECIMAL(18,6))
      |         * CAST(1 - l.l_discount AS DECIMAL(18,6))
      |      ELSE 0 END) AS VARCHAR(64)) AS DOUBLE)
      |    / CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
      |         * CAST(1 - l.l_discount AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE), 9) AS promo_share
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      |  AND l.l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin

  /** J1+ TPC-H Q10-shaped returned-item report: customers ranked by the
    * revenue they returned in a quarter — fact slice, returnflag filter,
    * two dimension hops, top 20 by (revenue desc, custkey). The classic
    * "who should we call" analytics join.
    */
  private def qSqlReturnedCust(s: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem", "nation")
      .foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))
    s.sql(sqlReturnedCust)
  }

  private val sqlReturnedCust =
    """SELECT c.c_custkey, c.c_name, n.n_name,
      |  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
      |           * CAST(1 - l.l_discount AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS revenue
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |WHERE l.l_returnflag = 'R'
      |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |GROUP BY c.c_custkey, c.c_name, n.n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** J1+ TPC-H Q3-shaped shipping priority: one market segment's orders
    * placed before a cutoff whose lines ship after it, ranked by revenue.
    * Plan: segment filter reaches the customer scan, both joins are
    * fact-keyed equi-joins, and the final top-10 is a global sort of an
    * order-count-sized aggregate, not the fact table.
    */
  private def qSqlShipPriority(s: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem")
      .foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))
    s.sql(sqlShipPriority)
  }

  private val sqlShipPriority =
    """SELECT l.l_orderkey, o.o_orderdate,
      |  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
      |           * CAST(1 - l.l_discount AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS revenue
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate < TIMESTAMP '1997-06-15 00:00:00'
      |  AND l.l_shipdate > TIMESTAMP '1997-06-15 00:00:00'
      |GROUP BY l.l_orderkey, o.o_orderdate
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** A1+ TPC-H Q6-shaped forecast revenue delta: the pure-scan aggregate —
    * three pushable predicates and ONE exact decimal sum, no joins at all.
    * At 100 TB this is the query that proves predicate pushdown: every
    * filter reaches the parquet scan, and the aggregate is a map-side
    * combine into a single row.
    */
  private def qSqlDiscRevenue(s: SparkSession, dir: String): DataFrame = {
    Tables.table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql(sqlDiscRevenue)
  }

  // revenue as exact BIGINT micros (the q_sql_disjunctive convention):
  // the year-scale decimal sum's decimal→double cast diverges at the
  // last ULP between engines once the total reaches ~4e7 — caught by
  // the round-8 sf0.1 correctness sweep (green at sf0.01, red at sf0.1)
  private val sqlDiscRevenue =
    """SELECT
      |  CAST(floor(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
      |           * CAST(l_discount AS DECIMAL(18,6))) * 1000000) AS BIGINT)
      |    AS revenue_micros,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin

  /** J1+ TPC-H Q7-shaped bilateral nation volume: revenue flowing between
    * two fixed nations in either direction (supplier side × customer
    * side), by year. The two nation dimensions broadcast; the disjunctive
    * nation-pair predicate prunes after the dimension hops.
    */
  private def qSqlNationVolume(s: SparkSession, dir: String): DataFrame = {
    Seq("supplier", "lineitem", "orders", "customer", "nation")
      .foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))
    s.sql(sqlNationVolume)
  }

  // same exact-micros convention as sqlDiscRevenue (same sf0.1 ULP catch)
  private val sqlNationVolume =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(floor(SUM(volume) * 1000000) AS BIGINT) AS revenue_micros
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
      |    CAST(l.l_extendedprice AS DECIMAL(18,6))
      |      * CAST(1 - l.l_discount AS DECIMAL(18,6)) AS volume
      |  FROM supplier s
      |  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** A3+ TPC-H Q17-shaped small-quantity revenue: lines under 20% of their
    * part's average quantity. The correlated AVG is spelled as a grouped
    * CTE re-joined on the part key (the form Catalyst would rewrite to
    * anyway) with the exact-decimal-sum / one-double-division convention
    * so the 0.2·avg threshold is bit-identical across engines.
    */
  private def qSqlSmallQty(s: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "part")
      .foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))
    s.sql(sqlSmallQty)
  }

  private val sqlSmallQty =
    """WITH pa AS (
      |  SELECT l_partkey,
      |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) / COUNT(*) AS avg_qty
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS total_extprice,
      |  COUNT(*) AS n_lines
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |JOIN pa ON pa.l_partkey = l.l_partkey
      |WHERE p.p_brand = 'Brand#1'
      |  AND CAST(l.l_quantity AS DOUBLE) < 0.2 * pa.avg_qty""".stripMargin

  /** A1+ TPC-H Q18-shaped large-volume orders: orders whose total quantity
    * clears a threshold (HAVING subquery → left-semi join on the order
    * key), re-aggregated with their customer. Both aggregates are
    * map-side combinable; the IN subquery never widens rows.
    */
  private def qSqlLargeOrders(s: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem")
      .foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))
    s.sql(sqlLargeOrders)
  }

  private val sqlLargeOrders =
    """SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
      |  CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS total_qty
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |WHERE o.o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 250)
      |GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
      |ORDER BY o.o_totalprice DESC, o.o_orderkey
      |LIMIT 20""".stripMargin

  /** P5+ TPC-H Q19-shaped disjunctive predicate revenue: three OR'd
    * brand/size/quantity bands over the part join. Catalyst extracts the
    * common l_partkey equi-key so this stays a hash join with the
    * disjunction as a post-join filter — the shape that breaks naive
    * planners into nested loops.
    */
  private def qSqlDisjunctive(s: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "part")
      .foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))
    s.sql(sqlDisjunctive)
  }

  // Revenue emitted as exact BIGINT micro-units: this sum's magnitude
  // (~7e7) hits the engines' divergent decimal→double last-ulp casts
  // (the q_sql_promo_share pathology); floor(decimal·1e6) is exact on
  // both sides, so the integer spelling sidesteps doubles entirely.
  private val sqlDisjunctive =
    """SELECT CAST(floor(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
      |           * CAST(1 - l.l_discount AS DECIMAL(18,6))) * 1000000) AS BIGINT)
      |    AS revenue_micros,
      |  COUNT(*) AS n_lines
      |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
      |       AND l.l_quantity >= 1 AND l.l_quantity <= 20)
      |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
      |       AND l.l_quantity >= 10 AND l.l_quantity <= 30)
      |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
      |       AND l.l_quantity >= 20 AND l.l_quantity <= 40)""".stripMargin

  /** P5+ TPC-H Q22-shaped dormant customers: above-average balances with
    * no recent orders, counted per nation. Adapted to this schema: every
    * customer has SOME order at these SFs, so dormancy = NOT EXISTS an
    * order since 1999 (the anti-join still only ships the key column).
    * The global average is a scalar subquery that broadcasts as one row.
    */
  private def qSqlDormantCust(s: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders")
      .foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))
    s.sql(sqlDormantCust)
  }

  private val sqlDormantCust =
    """SELECT c.c_nationkey, COUNT(*) AS numcust,
      |  CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS totacctbal
      |FROM customer c
      |WHERE c.c_acctbal > (
      |    SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) / COUNT(*)
      |    FROM customer WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
      |GROUP BY c.c_nationkey
      |ORDER BY c.c_nationkey""".stripMargin

  // The five round-8 TPC-H shapes (Q2/Q9/Q11/Q16/Q20) need the partsupp
  // bridge this schema doesn't ship; each derives its stand-in from
  // lineitem as a `ps` CTE (supplycost = MIN observed line price,
  // availqty = total shipped quantity per (part, supplier)) — one grouped
  // pass, map-side combinable, and the same derivation text runs on both
  // engines so the adaptation itself is oracle-checked. Every plan
  // pattern the originals exercise survives: the correlated min, the
  // multi-fact profit join, the scalar-subquery HAVING, NOT IN +
  // count-distinct, and the nested semi-join chain.

  /** J1+ TPC-H Q2-shaped minimum-cost supplier: for small parts, the
    * supplier(s) in one region offering the MINIMUM derived supply cost —
    * the correlated-min-over-a-4-way-dimension-join classic. The
    * correlated subquery re-walks ps⋈supplier⋈nation⋈region per part;
    * Catalyst decorrelates it into one grouped min re-joined on the part
    * key. Unit cost is one IEEE double division (engine-identical) and
    * MIN picks an exact input value, so the equality is safe cross-engine.
    */
  private def qSqlMinCostSupp(s: SparkSession, dir: String): DataFrame = {
    Seq("part", "lineitem", "supplier", "nation", "region")
      .foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))
    s.sql(sqlMinCostSupp)
  }

  private val sqlMinCostSupp =
    """WITH ps AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    MIN(CAST(l_extendedprice AS DOUBLE) / CAST(l_quantity AS DOUBLE))
      |      AS ps_supplycost
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_type,
      |  ps.ps_supplycost
      |FROM part p
      |JOIN ps ON p.p_partkey = ps.ps_partkey
      |JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE p.p_size <= 15 AND p.p_type = 'SMALL' AND r.r_name = 'ASIA'
      |  AND ps.ps_supplycost = (
      |    SELECT MIN(ps2.ps_supplycost)
      |    FROM ps ps2
      |    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
      |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
      |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
      |    WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'ASIA')
      |ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
      |LIMIT 100""".stripMargin

  /** A1+ TPC-H Q9-shaped product-type profit: revenue minus derived
    * supply cost for name-matched parts, by nation and year — the
    * part-filtered multi-fact join (part⋈lineitem⋈ps⋈supplier⋈orders⋈
    * nation). Profit is emitted as exact BIGINT micros (the
    * q_sql_disjunctive convention): both decimal products carry the same
    * scale so the subtraction aligns without a lossy re-cast, the sum is
    * exact on both engines, and floor(×1e6) sidesteps the divergent
    * decimal→double last-ULP casts entirely.
    */
  private def qSqlProductProfit(s: SparkSession, dir: String): DataFrame = {
    Seq("part", "lineitem", "supplier", "orders", "nation")
      .foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))
    s.sql(sqlProductProfit)
  }

  private val sqlProductProfit =
    """WITH ps AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS ps_supplycost
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT nation, o_year,
      |  CAST(floor(SUM(amount) * 1000000) AS BIGINT) AS profit_micros
      |FROM (
      |  SELECT n.n_name AS nation,
      |    CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
      |    CAST(l.l_extendedprice AS DECIMAL(12,2))
      |      * CAST(1 - l.l_discount AS DECIMAL(8,6))
      |    - ps.ps_supplycost * CAST(l.l_quantity AS DECIMAL(12,6)) AS amount
      |  FROM part p
      |  JOIN lineitem l ON p.p_partkey = l.l_partkey
      |  JOIN ps ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey
      |  WHERE p.p_name LIKE '%red%')
      |GROUP BY nation, o_year ORDER BY nation, o_year DESC""".stripMargin

  /** A1+ TPC-H Q11-shaped important stock: one nation's per-part derived
    * inventory value, kept when it clears a FRACTION of the nation's
    * total — the HAVING-over-a-scalar-subquery-share shape (spelled as a
    * WHERE over the shared CTE: the one `v` table feeds both the rows
    * and the one-row total, which broadcasts). Values are exact BIGINT
    * micros; only the share threshold compares in doubles, far from any
    * ULP boundary.
    */
  private def qSqlImportantStock(s: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "supplier", "nation")
      .foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))
    s.sql(sqlImportantStock)
  }

  private val sqlImportantStock =
    """WITH ps AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS ps_supplycost,
      |    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS ps_availqty
      |  FROM lineitem GROUP BY 1, 2),
      |v AS (
      |  SELECT ps.ps_partkey AS p_partkey,
      |    CAST(floor(SUM(ps.ps_supplycost * ps.ps_availqty) * 1000000) AS BIGINT)
      |      AS value_micros
      |  FROM ps
      |  JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey
      |  WHERE n.n_name = 'NATION_3'
      |  GROUP BY 1)
      |SELECT p_partkey, value_micros
      |FROM v
      |WHERE CAST(value_micros AS DOUBLE) >
      |  (SELECT CAST(SUM(value_micros) AS DOUBLE) * 0.001 FROM v)
      |ORDER BY value_micros DESC, p_partkey""".stripMargin

  /** A1+ TPC-H Q16-shaped supplier breadth: DISTINCT supplier counts per
    * (brand, type, size) for non-excluded parts, with complaint suppliers
    * removed by NOT IN — the anti-join + count-distinct shape. The NOT IN
    * list is a key column (never NULL), so both engines agree on the
    * three-valued-logic-free fast path; the DISTINCT pair table collapses
    * lineitem once before the dimension join.
    */
  private def qSqlPartsSupp(s: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "part", "supplier")
      .foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))
    s.sql(sqlPartsSupp)
  }

  private val sqlPartsSupp =
    """WITH pss AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      |SELECT p.p_brand, p.p_type, p.p_size,
      |  COUNT(DISTINCT pss.l_suppkey) AS supplier_cnt
      |FROM pss JOIN part p ON p.p_partkey = pss.l_partkey
      |WHERE p.p_brand <> 'Brand#1' AND p.p_type NOT LIKE 'PROMO%'
      |  AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 25)
      |  AND pss.l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_name LIKE '%07')
      |GROUP BY p.p_brand, p.p_type, p.p_size
      |ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size""".stripMargin

  /** P5+ TPC-H Q20-shaped potential promotion: suppliers in one region
    * holding excess derived stock of name-matched parts — the nested
    * semi-join chain (IN → IN → correlated scalar aggregate). The inner
    * correlated SUM compares one year's shipments against total
    * availability; an empty window yields NULL and the comparison drops
    * the row identically on both engines.
    */
  private def qSqlPotentialPromo(s: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "part", "supplier", "nation")
      .foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))
    s.sql(sqlPotentialPromo)
  }

  private val sqlPotentialPromo =
    """WITH ps AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS ps_availqty
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT s.s_name, n.n_name
      |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
      |WHERE n.n_regionkey = 2
      |  AND s.s_suppkey IN (
      |    SELECT ps.ps_suppkey FROM ps
      |    WHERE ps.ps_partkey IN (
      |        SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      |      AND CAST(ps.ps_availqty AS DOUBLE) > 0.5 * (
      |        SELECT CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS VARCHAR(64)) AS DOUBLE)
      |        FROM lineitem l
      |        WHERE l.l_partkey = ps.ps_partkey AND l.l_suppkey = ps.ps_suppkey
      |          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |          AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'))
      |ORDER BY s.s_name""".stripMargin

  // =====================================================================
  // §2.5 aggregation
  // =====================================================================

  /** A1/A2 group-by mean to quarterly (src:353,441). */
  private def qGroupbyAvg(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "orders")
      .groupBy(Scalar.toQuarter(col("o_orderdate")).as("Quarter"))
      .agg(
        Scalar.stableAvg(col("o_totalprice")).as("avg_price"),
        count(col("o_orderkey")).as("n_orders"))
      .orderBy("Quarter")

  /** Grouped top-k via ranking window. Catalyst's WindowGroupLimit rewrite
    * keeps only k rows per group on the map side before the shuffle — the
    * scalable form of "top N per key" without a custom operator.
    */
  private def qTopkPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("value"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy("user_id", "rn")
  }

  /** Exact distinct counts per quarter (Spark plans partial distinct
    * aggregation; the approximate path is approx_count_distinct, not
    * oracle-comparable across engines).
    */
  private def qDistinctCount(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "lineitem")
      .groupBy(Scalar.toQuarter(col("l_shipdate")).as("Quarter"))
      .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
        countDistinct(col("l_partkey")).as("n_parts"))
      .orderBy("Quarter")

  /** Sketch aggregate: HyperLogLog++ approximate distinct checked against
    * the exact count. The raw estimate is engine-specific (each engine's
    * HLL hashes differently), so the PORTABLE contract is the verdict:
    * each engine computes its own sketch AND its own exact count and
    * emits `within_10pct` — at rsd 0.02 a 10% bound is ~5σ, so both
    * engines' verdicts agree deterministically and the row hash-checks.
    * At 100 TB the exact distinct needs a full shuffle of the keys; the
    * sketch is constant-size per group and map-side combinable.
    */
  private def qApproxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "lineitem")
      .groupBy(Scalar.toQuarter(col("l_shipdate")).as("Quarter"))
      .agg(countDistinct(col("l_suppkey")).as("exact_suppliers"),
        approx_count_distinct(col("l_suppkey"), 0.02).as("_approx"))
      .select(col("Quarter"), col("exact_suppliers"),
        (abs(col("_approx") - col("exact_suppliers"))
          <= col("exact_suppliers") * 0.1).cast("int").as("within_10pct"))
      .orderBy("Quarter")

  /** Sketch aggregate #2: approximate percentiles checked against the
    * exact ones — the q_approx_distinct portable-verdict convention for
    * the OTHER workhorse sketch (Spark runs GK/approx_percentile at
    * accuracy 100 = ≤1% rank error; DuckDB runs its t-digest
    * approx_quantile). Raw sketch outputs are engine-specific, so each
    * engine checks ITS OWN approximation against ITS OWN exact
    * interpolated percentile and emits the verdict: a 10% value
    * tolerance is far outside both sketches' rank-error bands on these
    * group sizes, so the verdicts agree deterministically and the row
    * hash-checks. The exact p50/p99 columns themselves hash-match
    * (both engines interpolate lower+(upper−lower)·frac).
    */
  private def qApproxQuantiles(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "lineitem")
      .groupBy(Scalar.toQuarter(col("l_shipdate")).as("Quarter"))
      .agg(expr("percentile(l_extendedprice, array(0.5, 0.99))").as("_e"),
        expr("approx_percentile(l_extendedprice, array(0.5, 0.99), 100)").as("_a"),
        count(lit(1)).as("n_rows"))
      .select(col("Quarter"), col("n_rows"),
        col("_e").getItem(0).as("p50"), col("_e").getItem(1).as("p99"),
        (abs(col("_a").getItem(0) - col("_e").getItem(0))
          <= col("_e").getItem(0) * 0.1).cast("int").as("p50_within_10pct"),
        (abs(col("_a").getItem(1) - col("_e").getItem(1))
          <= col("_e").getItem(1) * 0.1).cast("int").as("p99_within_10pct"))
      .orderBy("Quarter")

  /** Order statistics: exact interpolated percentiles per quarter (both
    * engines use the same lower+(upper-lower)*frac interpolation).
    */
  private def qQuantiles(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "orders")
      .groupBy(Scalar.toQuarter(col("o_orderdate")).as("Quarter"))
      // one exact-percentile aggregate (array of fractions) instead of two:
      // the value buffer is built and sorted once per group
      .agg(expr("percentile(o_totalprice, array(0.5, 0.9))").as("_p"))
      .select(col("Quarter"), col("_p").getItem(0).as("p50"),
        col("_p").getItem(1).as("p90"))
      .orderBy("Quarter")

  // =====================================================================
  // §2.6 scalar functions
  // =====================================================================

  /** F1 quarter-format swap (reformat_quarter, src:63-67) — pure regex. */
  private def qStrQswap(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "orders")
      .select(concat(lit("Q"), quarter(col("o_orderdate")).cast("string"),
        lit("/"), year(col("o_orderdate")).cast("string")).as("raw"))
      .distinct()
      .withColumn("swapped", Scalar.quarterSwap(col("raw")))
      .orderBy("swapped")

  /** F2/F3 revision-marker strip + trim (src:134,385). */
  private def qRegexStrip(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "part")
      .select(col("p_partkey"),
        concat(col("p_brand"),
          when(col("p_size") % 2 === 0, lit(" p")).otherwise(lit(" r1"))).as("raw"))
      .withColumn("clean", Scalar.stripRevision(col("raw")))
      .orderBy("p_partkey")

  /** F4/F11 de-comma numeric parse (src:173 `"106,371" -> 106371`). */
  private def qParseNumber(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "orders").filter(col("o_orderkey") >= 1000)
      .select(col("o_orderkey"),
        concat(expr("o_orderkey div 1000").cast("string"), lit(","),
          lpad((col("o_orderkey") % 1000).cast("string"), 3, "0")).as("fmt"))
      .withColumn("parsed", Scalar.deComma(col("fmt")))
      .orderBy("o_orderkey")

  /** F5 percent string -> ratio (src:169 etc.). */
  private def qPctRatio(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "part")
      .select(col("p_partkey"), col("p_size").cast("string").as("pct_str"))
      .withColumn("ratio", Scalar.pctToRatio(col("pct_str")))
      .orderBy("p_partkey")

  /** F6 derived ratio columns (src:176,245,248). */
  private def qDerivedRatio(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_rev"),
        (col("l_extendedprice") / (lit(1.0) + col("l_tax"))).as("pre_tax"))
      .orderBy("l_orderkey", "l_linenumber")

  /** F7 formatted date parse (src:344 `%d/%m/%y`; 4-digit year for
    * century-pivot parity with the oracle).
    */
  private def qDateParse(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "orders")
      .select(date_format(col("o_orderdate"), "d/M/yyyy").as("raw")).distinct()
      .withColumn("parsed", to_date(col("raw"), "d/M/yyyy"))
      .orderBy("parsed")

  /** F8 date -> quarter key (src:350,438). */
  private def qToQuarter(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "lineitem")
      .select(Scalar.toQuarter(col("l_shipdate")).as("Quarter"),
        date_trunc("quarter", col("l_shipdate")).cast("date").as("q_start"))
      .distinct().orderBy("Quarter")

  /** F9/F10 date arithmetic + formatting (src:298,302-303,323): month window
    * end = start + 1 month - 1 day; cursor advance = end + 1 day.
    */
  private def qDateArith(s: SparkSession, dir: String): DataFrame = {
    // Distinct FIRST on the truncated month (one narrow date column, ~100
    // distinct values), then derive/format — formatting before distinct
    // would run 3 formatter calls per input row instead of per month.
    val months = Tables.table(s, dir, "orders")
      .select(date_trunc("month", col("o_orderdate")).as("m")).distinct()
    val end = date_sub(add_months(col("m"), 1), 1)
    months
      .select(date_format(col("m"), "yyyy-MM-dd").as("month_start"),
        date_format(end, "yyyy-MM-dd").as("month_end"),
        date_format(date_add(end, 1), "yyyy-MM-dd").as("next_start"))
      .orderBy("month_start")
  }

  /** Set operations (beyond the reference's lone union): INTERSECT/EXCEPT
    * with SQL distinct semantics, tagged into one result.
    */
  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.table(s, dir, "customer")
    val building = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val rich = c.filter(col("c_acctbal") > 5000).select("c_custkey")
    building.intersect(rich).withColumn("op", lit("both"))
      .unionByName(building.except(rich).withColumn("op", lit("building_only")))
      .orderBy("op", "c_custkey")
  }

  /** Rollup totals (hierarchical grouping sets — free from Catalyst). */
  private def qRollup(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "lineitem")
      .rollup(Scalar.toQuarter(col("l_shipdate")).as("Quarter"), col("l_returnflag"))
      .agg(Scalar.stableSum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("Quarter"), asc_nulls_first("l_returnflag"))

  /** Cube grouping sets: all (quarter-year, priority) margin combinations
    * in one pass (free from Catalyst's Expand).
    */
  private def qCube(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "orders")
      .cube(year(col("o_orderdate")).cast("int").as("yr"), col("o_orderpriority"))
      .agg(Scalar.stableSum(col("o_totalprice")).as("sum_price"),
        count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("yr"), asc_nulls_first("o_orderpriority"))

  /** Array scalar functions over the embedding column (size / slice /
    * transform / element access / fold) — the multimodal column vocabulary
    * (X4). The sliced head is serialized as floor(x*1e6) ints joined with
    * ',': float→double is exact and double arithmetic is IEEE-identical
    * across engines, so the string (unlike raw float formatting, or an
    * array column — the driver's pandas compare can't sort ndarrays) is
    * bit-stable between Spark and DuckDB.
    */
  private def qArrayFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")
      .select(col("vec_id"),
        size(col("embedding")).as("dim"),
        serializeFloats(slice(col("embedding"), 1, 8)).as("head8"),
        element_at(col("embedding"), 1).cast("double").as("first_dim"))
      .orderBy("vec_id")

  /** Null handling over outer-join gaps (coalesce / nullif / CASE / IS
    * NULL) — the reference leaves NaNs untouched; an engine needs the
    * vocabulary.
    */
  private def qNullHandling(s: SparkSession, dir: String): DataFrame =
    Marts.commonSeries(s, dir).select(
        col("Quarter"),
        coalesce(col("avg_price"), lit(0.0)).as("price_filled"),
        col("avg_qty").isNull.as("qty_missing"),
        expr("nullif(n_urgent, 0)").as("urgent_or_null"),
        when(col("r_revenue") > 0, lit("has_returns")).otherwise(lit("none")).as("returns_flag"))
      .orderBy("Quarter")

  // =====================================================================
  // §2.7 ordered / stateful
  // =====================================================================

  /** Analytic window functions (lag/lead/cumulative) per user over event
    * time — absent from the reference, table stakes for an engine. The
    * running sum accumulates in DECIMAL: DuckDB evaluates window aggregates
    * over a segment tree whose combine order differs from a left fold, so
    * only an associative-exact accumulator is cross-engine stable.
    */
  private def qWindowAnalytics(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("next_value", lead(col("value"), 1).over(w))
      .withColumn("running_value",
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .orderBy("event_id")
  }

  /** Gap-based sessionization (native session_window, batch path; the
    * streaming path shares the expression — streaming.EventStreams).
    * Oracle: classic gaps-and-islands over lag + running flag sum. A new
    * session starts when the gap is >= 5 minutes (session_window's end is
    * exclusive: ts + gap).
    */
  private def qSessionize(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.sessionWindowAgg(
        Tables.events(s, dir).select("user_id", "ts", "value"), "5 minutes")
      .orderBy("user_id", "session_start")

  /** O1 forward-fill within a partition (src:131). */
  private def qFfill(s: SparkSession, dir: String): DataFrame = {
    val v = when(col("event_type") === "click", col("value"))
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), v.as("v"))
      .withColumn("filled",
        Ordered.ffill(col("v"), Seq(col("user_id")), Seq(col("event_id"))))
      .orderBy("event_id")
  }

  /** O2 stateful year fill-down (src:388-404): 4-char rows set the running
    * year, quarter rows inherit it — the GDP-sheet pathology on an ordinal.
    */
  private def qFillDown(s: SparkSession, dir: String): DataFrame = {
    val qs = Tables.table(s, dir, "orders")
      .select(year(col("o_orderdate")).cast("string").as("y"),
        quarter(col("o_orderdate")).cast("string").as("q"))
      .distinct()
    val labeled = qs.select(
      when(col("q") === "1", col("y")).otherwise(concat(lit("Q"), col("q"))).as("label"),
      col("y"), col("q"))
    Normalize.withOrdinal(labeled, col("y"), col("q"))
      .withColumn("year_filled", Ordered.carryYear(col("label"), Seq(col("_idx"))))
      .withColumn("quarter_key",
        when(length(col("label")) =!= 4,
          concat(col("year_filled"), lit("-"), col("label"))))
      .select("_idx", "label", "year_filled", "quarter_key")
      .orderBy("_idx")
  }


  /** This family's share of SparkEntry.queries. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scan_csv" -> (qScanCsv _),
    "q_scan_xlsx" -> (qScanXlsx _),
    "q_json_records" -> (qJsonRecords _),
    "q_union_batches" -> (qUnionBatches _),
    "q_sink_roundtrip" -> (qSinkRoundtrip _),
    "q_sink_partitioned" -> (qSinkPartitioned _),
    "q_project" -> (qProject _),
    "q_drop_col" -> (qDropCol _),
    "q_filter_eq" -> (qFilterEq _),
    "q_filter_contains" -> (qFilterContains _),
    "q_filter_strlen" -> (qFilterStrlen _),
    "q_rows_by_ordinal" -> (qRowsByOrdinal _),
    "q_join_inner" -> (qJoinInner _),
    "q_join_full_outer" -> (qJoinFullOuter _),
    "q_asof_join" -> (qAsofJoin _),
    "q_unpivot" -> (qUnpivot _),
    "q_pivot" -> (qPivot _),
    "q_groupby_avg" -> (qGroupbyAvg _),
    "q_sql_pricing_summary" -> (qSqlPricingSummary _),
    "q_sql_market_share" -> (qSqlMarketShare _),
    "q_sql_top_supplier" -> (qSqlTopSupplier _),
    "q_sql_late_orders" -> (qSqlLateOrders _),
    "q_sql_cust_dist" -> (qSqlCustDist _),
    "q_sql_promo_share" -> (qSqlPromoShare _),
    "q_sql_returned_cust" -> (qSqlReturnedCust _),
    "q_sql_ship_priority" -> (qSqlShipPriority _),
    "q_sql_disc_revenue" -> (qSqlDiscRevenue _),
    "q_sql_nation_volume" -> (qSqlNationVolume _),
    "q_sql_small_qty" -> (qSqlSmallQty _),
    "q_sql_large_orders" -> (qSqlLargeOrders _),
    "q_sql_disjunctive" -> (qSqlDisjunctive _),
    "q_sql_dormant_cust" -> (qSqlDormantCust _),
    "q_sql_min_cost_supp" -> (qSqlMinCostSupp _),
    "q_sql_product_profit" -> (qSqlProductProfit _),
    "q_sql_important_stock" -> (qSqlImportantStock _),
    "q_sql_parts_supp" -> (qSqlPartsSupp _),
    "q_sql_potential_promo" -> (qSqlPotentialPromo _),
    "q_topk_per_group" -> (qTopkPerGroup _),
    "q_distinct_count" -> (qDistinctCount _),
    "q_approx_distinct" -> (qApproxDistinct _),
    "q_approx_quantiles" -> (qApproxQuantiles _),
    "q_quantiles" -> (qQuantiles _),
    "q_str_qswap" -> (qStrQswap _),
    "q_regex_strip" -> (qRegexStrip _),
    "q_parse_number" -> (qParseNumber _),
    "q_pct_ratio" -> (qPctRatio _),
    "q_derived_ratio" -> (qDerivedRatio _),
    "q_date_parse" -> (qDateParse _),
    "q_to_quarter" -> (qToQuarter _),
    "q_date_arith" -> (qDateArith _),
    "q_set_ops" -> (qSetOps _),
    "q_rollup" -> (qRollup _),
    "q_cube" -> (qCube _),
    "q_array_funcs" -> (qArrayFuncs _),
    "q_null_handling" -> (qNullHandling _),
    "q_ffill" -> (qFfill _),
    "q_fill_down" -> (qFillDown _),
    "q_window_analytics" -> (qWindowAnalytics _),
    "q_sessionize" -> (qSessionize _),
  )

  /** This family's share of SparkEntry.oracleSql. */
  def oracleSql: Map[String, String] = Map(
    "q_scan_csv" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "q_scan_xlsx" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "q_json_records" ->
      "SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k FROM events ORDER BY event_id",
    "q_union_batches" ->
      "SELECT * FROM events ORDER BY event_id",
    "q_sink_roundtrip" ->
      "SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders GROUP BY 1 ORDER BY 1",
    "q_sink_partitioned" ->
      """SELECT year(l_shipdate) || '-Q' || quarter(l_shipdate) AS Quarter,
        |  l_returnflag,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_returnflag = 'A'
        |GROUP BY 1, 2 ORDER BY Quarter""".stripMargin,
    "q_project" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "q_drop_col" ->
      "SELECT p_partkey, p_name, p_brand, p_type FROM part ORDER BY p_partkey",
    "q_filter_eq" ->
      "SELECT * FROM customer WHERE c_mktsegment <> 'BUILDING' ORDER BY c_custkey",
    "q_filter_contains" ->
      "SELECT * FROM part WHERE p_name LIKE '%red%' ORDER BY p_partkey",
    "q_filter_strlen" ->
      "SELECT * FROM nation WHERE length(n_name) <> 4 ORDER BY n_nationkey",
    "q_rows_by_ordinal" ->
      """SELECT * FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS INTEGER) AS _idx,
        |         o_orderkey, o_totalprice
        |  FROM orders)
        |WHERE _idx IN (5,6,17,18,19) OR _idx BETWEEN 100 AND 120
        |ORDER BY _idx""".stripMargin,
    "q_join_inner" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, o_totalprice, c_name
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_join_full_outer" ->
      s"""WITH gdp AS (
         |  SELECT year(o_orderdate) || '-Q' || quarter(o_orderdate) AS Quarter,
         |    ${sa("o_totalprice")} AS avg_price FROM orders GROUP BY 1
         |), infl AS (
         |  SELECT year(l_shipdate) || '-Q' || quarter(l_shipdate) AS Quarter,
         |    ${sa("l_quantity")} AS avg_qty FROM lineitem GROUP BY 1
         |), flow AS (
         |  SELECT year(l_shipdate) || '-Q' || quarter(l_shipdate) AS Quarter,
         |    ${ss("l_extendedprice")} AS r_revenue
         |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
         |), shock AS (
         |  SELECT year(o_orderdate) || '-Q' || quarter(o_orderdate) AS Quarter,
         |    COUNT(*) AS n_urgent FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1
         |)
         |SELECT Quarter, avg_price, avg_qty, r_revenue, n_urgent
         |FROM gdp FULL JOIN infl USING (Quarter)
         |FULL JOIN flow USING (Quarter) FULL JOIN shock USING (Quarter)
         |ORDER BY Quarter""".stripMargin,
    "q_asof_join" ->
      """SELECT e.event_id, e.user_id, e.event_type, e.value,
        |  p.value AS last_purchase_value
        |FROM events e ASOF LEFT JOIN
        |  (SELECT user_id, ts, max(value) AS value FROM events
        |   WHERE event_type = 'purchase' GROUP BY user_id, ts) p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id""".stripMargin,
    "q_unpivot" ->
      s"""WITH wide AS (
         |  SELECT year(o_orderdate) || '-Q' || quarter(o_orderdate) AS Quarter,
         |    ${sa("o_totalprice")} AS avg_price,
         |    ${ss("o_totalprice")} AS sum_price,
         |    CAST(COUNT(*) AS DOUBLE) AS n_orders
         |  FROM orders GROUP BY 1
         |)
         |SELECT Quarter, metric, value FROM (
         |  SELECT Quarter, 'avg_price' AS metric, avg_price AS value FROM wide
         |  UNION ALL SELECT Quarter, 'sum_price', sum_price FROM wide
         |  UNION ALL SELECT Quarter, 'n_orders', n_orders FROM wide)
         |ORDER BY Quarter, metric""".stripMargin,
    "q_pivot" ->
      """SELECT year(l_shipdate) || '-Q' || quarter(l_shipdate) AS Quarter,
        |  CAST(CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS VARCHAR(64)) AS DOUBLE) AS A,
        |  CAST(CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS VARCHAR(64)) AS DOUBLE) AS N,
        |  CAST(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS VARCHAR(64)) AS DOUBLE) AS R
        |FROM lineitem GROUP BY 1 ORDER BY Quarter""".stripMargin,
    "q_groupby_avg" ->
      s"""SELECT year(o_orderdate) || '-Q' || quarter(o_orderdate) AS Quarter,
         |  ${sa("o_totalprice")} AS avg_price,
         |  COUNT(o_orderkey) AS n_orders
         |FROM orders GROUP BY 1 ORDER BY Quarter""".stripMargin,
    "q_sql_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // identical ANSI text runs on both engines — the decimal-sum /
    // cast-to-double-once convention keeps the doubles bit-equal.,
    "q_sql_market_share" -> sqlMarketShare,
    "q_sql_top_supplier" -> sqlTopSupplier,
    "q_sql_late_orders" -> sqlLateOrders,
    "q_sql_cust_dist" -> sqlCustDist,
    "q_sql_promo_share" -> sqlPromoShare,
    "q_sql_returned_cust" -> sqlReturnedCust,
    "q_sql_ship_priority" -> sqlShipPriority,
    "q_sql_disc_revenue" -> sqlDiscRevenue,
    "q_sql_nation_volume" -> sqlNationVolume,
    "q_sql_small_qty" -> sqlSmallQty,
    "q_sql_large_orders" -> sqlLargeOrders,
    "q_sql_disjunctive" -> sqlDisjunctive,
    "q_sql_dormant_cust" -> sqlDormantCust,
    "q_sql_min_cost_supp" -> sqlMinCostSupp,
    "q_sql_product_profit" -> sqlProductProfit,
    "q_sql_important_stock" -> sqlImportantStock,
    "q_sql_parts_supp" -> sqlPartsSupp,
    "q_sql_potential_promo" -> sqlPotentialPromo,
    "q_topk_per_group" ->
      """SELECT user_id, event_id, value, rn FROM (
        |  SELECT user_id, event_id, value,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS INTEGER) AS rn
        |  FROM events)
        |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,
    "q_distinct_count" ->
      """SELECT year(l_shipdate) || '-Q' || quarter(l_shipdate) AS Quarter,
        |  COUNT(DISTINCT l_suppkey) AS n_suppliers,
        |  COUNT(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY 1 ORDER BY Quarter""".stripMargin,
    "q_approx_distinct" ->
      """WITH g AS (
        |  SELECT year(l_shipdate) || '-Q' || quarter(l_shipdate) AS Quarter,
        |    COUNT(DISTINCT l_suppkey) AS exact_suppliers,
        |    approx_count_distinct(l_suppkey) AS approx
        |  FROM lineitem GROUP BY 1)
        |SELECT Quarter, exact_suppliers,
        |  CAST(abs(approx - exact_suppliers) <= 0.1 * exact_suppliers AS INTEGER)
        |    AS within_10pct
        |FROM g ORDER BY Quarter""".stripMargin,
    "q_approx_quantiles" ->
      """WITH g AS (
        |  SELECT year(l_shipdate) || '-Q' || quarter(l_shipdate) AS Quarter,
        |    COUNT(*) AS n_rows,
        |    percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
        |    percentile_cont(0.99) WITHIN GROUP (ORDER BY l_extendedprice) AS p99,
        |    approx_quantile(l_extendedprice, 0.5) AS a50,
        |    approx_quantile(l_extendedprice, 0.99) AS a99
        |  FROM lineitem GROUP BY 1)
        |SELECT Quarter, n_rows, p50, p99,
        |  CAST(abs(a50 - p50) <= 0.1 * p50 AS INTEGER) AS p50_within_10pct,
        |  CAST(abs(a99 - p99) <= 0.1 * p99 AS INTEGER) AS p99_within_10pct
        |FROM g ORDER BY Quarter""".stripMargin,
    "q_quantiles" ->
      """SELECT year(o_orderdate) || '-Q' || quarter(o_orderdate) AS Quarter,
        |  percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
        |  percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90
        |FROM orders GROUP BY 1 ORDER BY Quarter""".stripMargin,
    "q_str_qswap" ->
      """WITH r AS (
        |  SELECT DISTINCT 'Q' || quarter(o_orderdate) || '/' || year(o_orderdate) AS raw
        |  FROM orders)
        |SELECT raw, regexp_replace(raw, '^Q(\d)/(\d{4})$', '\2-Q\1') AS swapped
        |FROM r ORDER BY swapped""".stripMargin,
    "q_regex_strip" ->
      """SELECT p_partkey,
        |  p_brand || CASE WHEN p_size % 2 = 0 THEN ' p' ELSE ' r1' END AS raw,
        |  trim(regexp_replace(raw, '\s*(r1|p1|r|p)$', '')) AS clean
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_parse_number" ->
      """SELECT o_orderkey,
        |  CAST(o_orderkey // 1000 AS VARCHAR) || ',' ||
        |    lpad(CAST(o_orderkey % 1000 AS VARCHAR), 3, '0') AS fmt,
        |  CAST(replace(fmt, ',', '') AS BIGINT) AS parsed
        |FROM orders WHERE o_orderkey >= 1000 ORDER BY o_orderkey""".stripMargin,
    "q_pct_ratio" ->
      """SELECT p_partkey, CAST(p_size AS VARCHAR) AS pct_str,
        |  CAST(CAST(p_size AS VARCHAR(64)) AS DOUBLE) / 100 AS ratio
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_derived_ratio" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) AS net_rev,
        |  l_extendedprice / (1.0 + l_tax) AS pre_tax
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_date_parse" ->
      """WITH r AS (
        |  SELECT DISTINCT strftime(o_orderdate, '%-d/%-m/%Y') AS raw FROM orders)
        |SELECT raw, strptime(raw, '%-d/%-m/%Y')::DATE AS parsed
        |FROM r ORDER BY parsed""".stripMargin,
    "q_to_quarter" ->
      """SELECT DISTINCT year(l_shipdate) || '-Q' || quarter(l_shipdate) AS Quarter,
        |  date_trunc('quarter', l_shipdate) AS q_start
        |FROM lineitem ORDER BY Quarter""".stripMargin,
    "q_date_arith" ->
      """SELECT DISTINCT
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        |  strftime(date_trunc('month', o_orderdate) + INTERVAL 1 MONTH - INTERVAL 1 DAY, '%Y-%m-%d') AS month_end,
        |  strftime(date_trunc('month', o_orderdate) + INTERVAL 1 MONTH, '%Y-%m-%d') AS next_start
        |FROM orders ORDER BY month_start""".stripMargin,
    "q_set_ops" ->
      """WITH b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |     r AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |SELECT c_custkey, op FROM (
        |  SELECT c_custkey, 'both' AS op FROM (SELECT * FROM b INTERSECT SELECT * FROM r)
        |  UNION ALL
        |  SELECT c_custkey, 'building_only' FROM (SELECT * FROM b EXCEPT SELECT * FROM r))
        |ORDER BY op, c_custkey""".stripMargin,
    "q_rollup" ->
      """SELECT year(l_shipdate) || '-Q' || quarter(l_shipdate) AS Quarter,
        |  l_returnflag,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (year(l_shipdate) || '-Q' || quarter(l_shipdate), l_returnflag)
        |ORDER BY Quarter NULLS FIRST, l_returnflag NULLS FIRST""".stripMargin,
    "q_cube" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, o_orderpriority,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY CUBE (CAST(year(o_orderdate) AS INTEGER), o_orderpriority)
        |ORDER BY yr NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_array_funcs" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INTEGER) AS dim,
        |  array_to_string(list_transform(embedding[1:8],
        |    x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS VARCHAR)), ',') AS head8,
        |  CAST(embedding[1] AS DOUBLE) AS first_dim
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_null_handling" ->
      s"""WITH gdp AS (
         |  SELECT year(o_orderdate) || '-Q' || quarter(o_orderdate) AS Quarter,
         |    ${sa("o_totalprice")} AS avg_price FROM orders GROUP BY 1
         |), infl AS (
         |  SELECT year(l_shipdate) || '-Q' || quarter(l_shipdate) AS Quarter,
         |    ${sa("l_quantity")} AS avg_qty FROM lineitem GROUP BY 1
         |), flow AS (
         |  SELECT year(l_shipdate) || '-Q' || quarter(l_shipdate) AS Quarter,
         |    ${ss("l_extendedprice")} AS r_revenue
         |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
         |), shock AS (
         |  SELECT year(o_orderdate) || '-Q' || quarter(o_orderdate) AS Quarter,
         |    COUNT(*) AS n_urgent FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1
         |)
         |SELECT Quarter,
         |  COALESCE(avg_price, 0.0) AS price_filled,
         |  avg_qty IS NULL AS qty_missing,
         |  NULLIF(n_urgent, 0) AS urgent_or_null,
         |  CASE WHEN r_revenue > 0 THEN 'has_returns' ELSE 'none' END AS returns_flag
         |FROM gdp FULL JOIN infl USING (Quarter)
         |FULL JOIN flow USING (Quarter) FULL JOIN shock USING (Quarter)
         |ORDER BY Quarter""".stripMargin,
    "q_ffill" ->
      """SELECT event_id, user_id,
        |  CASE WHEN event_type = 'click' THEN value END AS v,
        |  last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM events ORDER BY event_id""".stripMargin,
    "q_fill_down" ->
      """WITH qs AS (
        |  SELECT DISTINCT CAST(year(o_orderdate) AS VARCHAR) AS y,
        |    CAST(quarter(o_orderdate) AS VARCHAR) AS q FROM orders
        |), lab AS (
        |  SELECT CASE WHEN q = '1' THEN y ELSE 'Q' || q END AS label, y, q FROM qs
        |), ord AS (
        |  SELECT CAST(row_number() OVER (ORDER BY y, q) AS INTEGER) AS _idx, label FROM lab
        |), f AS (
        |  SELECT _idx, label,
        |    last_value(CASE WHEN length(label) = 4 THEN label END IGNORE NULLS)
        |      OVER (ORDER BY _idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS year_filled
        |  FROM ord)
        |SELECT _idx, label, year_filled,
        |  CASE WHEN length(label) <> 4 THEN year_filled || '-' || label END AS quarter_key
        |FROM f ORDER BY _idx""".stripMargin,
    "q_window_analytics" ->
      """SELECT user_id, event_id, value,
        |  lag(value, 1) OVER w AS prev_value,
        |  lead(value, 1) OVER w AS next_value,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6)))
        |    OVER (PARTITION BY user_id ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR(64)) AS DOUBLE)
        |    AS running_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY event_id""".stripMargin,
    "q_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), numbered AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM flagged)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 5 MINUTE AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR(64)) AS DOUBLE) AS session_value
        |FROM numbered GROUP BY user_id, sess_id
        |ORDER BY user_id, session_start""".stripMargin,
  )
}
