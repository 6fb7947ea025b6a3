package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Scalar
import graft.sources.Tables

/** The reference's flagship "query": the 10-relation mart-assembly join graph
  * (src/ETL-NPL-Pipeline.py:706-728) re-expressed on the driver testdata —
  * per-segment quarterly aggregates full-outer-joined with a panel of macro
  * series on the `Quarter` key (SURVEY.md §3.3).
  *
  * Scale design: each series is a partial-aggregated (map-side combined)
  * groupBy producing one row per quarter — at 100 TB the fact scans dominate
  * and the joined series are tiny. The full-outer joins are the pipeline's
  * own [[Npl.quarterPanel]]: the series, tagged, in one union and one
  * aggregate on `Quarter`, so the executed plan has no join; the union
  * keeps the series' hash partitioning on `Quarter`, so the only exchange
  * past theirs is the presentation sort's. The `Quarter` string key sorts
  * chronologically (zero-padded "YYYY-Qx", SURVEY.md §7.4.3).
  */
object Marts {

  /** NPL-segment analog (src:121-191): lineitem split by l_returnflag, per
    * quarter: pct (avg discount), gross (sum extendedprice), and the derived
    * total = gross / pct (src:176).
    */
  def segment(s: SparkSession, dir: String, flag: String): DataFrame =
    Tables.table(s, dir, "lineitem")
      .filter(col("l_returnflag") === flag)
      .groupBy(Scalar.toQuarter(col("l_shipdate")).as("Quarter"))
      .agg(
        Scalar.stableAvg(col("l_discount")).as("pct_gross"),
        Scalar.stableSum(col("l_extendedprice")).as("gross_rev"))
      .withColumn("total_rev", col("gross_rev") / col("pct_gross"))

  /** The four quarterly series of the common macro panel (src:706-708). */
  private def common(s: SparkSession, dir: String): Seq[(String, DataFrame)] = {
    val orders = Tables.table(s, dir, "orders")
    val lineitem = Tables.table(s, dir, "lineitem")
    val gdp = orders // GDP-growth analog
      .groupBy(Scalar.toQuarter(col("o_orderdate")).as("Quarter"))
      .agg(Scalar.stableAvg(col("o_totalprice")).as("avg_price"))
    val inflation = lineitem // inflation analog
      .groupBy(Scalar.toQuarter(col("l_shipdate")).as("Quarter"))
      .agg(Scalar.stableAvg(col("l_quantity")).as("avg_qty"))
    val flow = lineitem // flowrate analog
      .filter(col("l_returnflag") === "R")
      .groupBy(Scalar.toQuarter(col("l_shipdate")).as("Quarter"))
      .agg(Scalar.stableSum(col("l_extendedprice")).as("r_revenue"))
    val shock = orders // macro-shock analog
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(Scalar.toQuarter(col("o_orderdate")).as("Quarter"))
      .agg(count(lit(1)).as("n_urgent"))
    Seq("gdp" -> gdp, "inflation" -> inflation, "flow" -> flow, "shock" -> shock)
  }

  /** The full-outer join of `sources` on Quarter, ordered by Quarter. */
  private def joinOnQuarter(sources: Seq[(String, DataFrame)]): DataFrame =
    Npl.quarterMart(Npl.quarterPanel(sources), sources)

  /** The common macro panel (src:706-708): its 4 series full-outer joined
    * on Quarter, the key coalesced as by a usingColumns join. */
  def commonSeries(s: SparkSession, dir: String): DataFrame = joinOnQuarter(common(s, dir))

  /** Mart assembly (src:714-728): segment ⟗ common ⟗ MRR-analog. The events
    * table lies in 2024 — disjoint from the 1995-2001 fact quarters — so the
    * outer join widens the key range with NULL gaps exactly like the
    * reference's 124-quarter marts (notebook cells 67-69).
    */
  def martAssembly(s: SparkSession, dir: String): DataFrame = {
    val mrr = Tables.events(s, dir)
      .groupBy(Scalar.toQuarter(col("ts")).as("Quarter"))
      .agg(Scalar.stableAvg(col("value")).as("mrr"))
    joinOnQuarter(("segment" -> segment(s, dir, "A")) +: common(s, dir) :+ ("mrr" -> mrr))
  }

  /** DuckDB oracle for [[martAssembly]] — same CTE graph. */
  def martAssemblySql: String = {
    val sa = Scalar.stableAvgSql _
    val ss = Scalar.stableSumSql _
    s"""WITH seg AS (
       |  SELECT year(l_shipdate) || '-Q' || quarter(l_shipdate) AS Quarter,
       |    ${sa("l_discount")} AS pct_gross, ${ss("l_extendedprice")} AS gross_rev
       |  FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1
       |), seg2 AS (
       |  SELECT Quarter, pct_gross, gross_rev, gross_rev / pct_gross AS total_rev FROM seg
       |), gdp AS (
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
       |), mrr AS (
       |  SELECT year(ts) || '-Q' || quarter(ts) AS Quarter, ${sa("value")} AS mrr
       |  FROM events GROUP BY 1
       |)
       |SELECT Quarter, pct_gross, gross_rev, total_rev, avg_price, avg_qty,
       |       r_revenue, n_urgent, mrr
       |FROM seg2
       |FULL JOIN gdp USING (Quarter) FULL JOIN infl USING (Quarter)
       |FULL JOIN flow USING (Quarter) FULL JOIN shock USING (Quarter)
       |FULL JOIN mrr USING (Quarter)
       |ORDER BY Quarter""".stripMargin
  }
}
