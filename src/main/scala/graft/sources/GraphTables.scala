package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialize-once graph tables derived from the warehouse facts.
  *
  * Fourteen graph/mining queries analyze one of two immutable derived
  * graphs — the symmetrized customer↔supplier purchase graph (PageRank,
  * label propagation, BFS, Bellman-Ford, random walks) and the
  * support-counted part co-purchase graph (frequent pairs, triangles,
  * item-CF, degree distribution, k-core, Adamic-Adar, neighbor Jaccard,
  * assortativity, association rules). Inline, each re-derived its graph
  * with its own fact join/explode — at 100 TB that is a dozen redundant
  * passes over the largest table for two immutable edge lists. Production
  * graph stacks materialize the edge table once per corpus snapshot and
  * point every algorithm at it; this does the same with the repo's
  * stamped-artifact convention (published once, path keyed by the
  * testdata stamp — Dedup.ensureBandIndex / Similarity.ensureCentroidIndex
  * precedent). Everything stored is exact BIGINTs, so the parquet
  * roundtrip loses nothing and every oracle still re-derives its graph
  * from the facts independently.
  */
object GraphTables {

  /** Symmetrized weighted purchase graph (src, dst, cnt): per-pair
    * lineitem⋈orders interaction counts, customers offset by 1e6 into a
    * disjoint id space, both orientations (cnt is per-pair, so it is the
    * same in each direction). Keyed on both source tables, so a
    * regenerated orders.parquet with an untouched lineitem.parquet still
    * misses the artifact.
    */
  def weightedPurchaseGraph(s: SparkSession, dir: String): DataFrame =
    Stamped.ensure(s, dir, Seq("lineitem.parquet", "orders.parquet"), "purchase_graph") {
      purchaseGraphFrom(Tables.table(s, dir, "lineitem"), Tables.table(s, dir, "orders"))
    }

  /** The derivation behind [[weightedPurchaseGraph]], on explicit fact
    * frames (specs and the scale probe replay it fresh).
    */
  private[graft] def purchaseGraphFrom(li: DataFrame, o: DataFrame): DataFrame = {
    // merge-pinned: orders is fact-sized, never broadcastable at scale
    // (and one plan shape at every SF keeps the scale probe honest)
    val e0 = li.hint("merge").join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy((col("o_custkey") + lit(1000000L)).as("c"),
        col("l_suppkey").as("sup"))
      .agg(count(lit(1)).as("cnt"))
    e0.select(col("c").as("src"), col("sup").as("dst"), col("cnt"))
      .union(e0.select(col("sup").as("src"), col("c").as("dst"), col("cnt")))
  }

  /** The unweighted symmetrized purchase graph (src, dst): a projection
    * of [[weightedPurchaseGraph]] — column pruning reaches the parquet
    * scan, so the cnt column is never read.
    */
  def purchaseGraph(s: SparkSession, dir: String): DataFrame =
    weightedPurchaseGraph(s, dir).select("src", "dst")

  /** Canonical (pa < pb) part pairs per order with their support count —
    * the co-purchase graph every basket consumer filters its own way
    * (support ≥ 2 for the link family, ≥ 3 for rules, unfiltered top-k
    * for frequent pairs). The pair explode happens IN-ROW on each
    * order's sorted distinct-part list, so the blowup is bounded by
    * basket size² (TPC-H baskets are ≤7 lines) — never a corpus
    * self-join; one shuffle to build baskets, one map-side-combinable
    * count, materialized once per testdata stamp.
    */
  def copurchasePairs(s: SparkSession, dir: String): DataFrame =
    Stamped.ensure(s, dir, "lineitem.parquet", "copurchase_pairs") {
      basketPairsFrom(Tables.table(s, dir, "lineitem"))
    }

  /** The derivation behind [[copurchasePairs]], on an explicit lineitem
    * frame (specs replay it against the artifact).
    */
  private[graft] def basketPairsFrom(li: DataFrame): DataFrame = {
    val lists = li.select("l_orderkey", "l_partkey").distinct()
      .groupBy("l_orderkey").agg(sort_array(collect_set("l_partkey")).as("ps"))
    val combos = filter(
      flatten(transform(col("ps"),
        a => transform(col("ps"), b => struct(a.as("pa"), b.as("pb"))))),
      p => p("pa") < p("pb"))
    lists.select(explode(combos).as("p"))
      .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .agg(count(lit(1)).as("support"))
  }
}
