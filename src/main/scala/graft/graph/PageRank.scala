package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Fixpoint

/** Distributed PageRank over an edge list (SURVEY.md §2.9 X4-adjacent:
  * link-graph centrality is the standard quality prior of web-corpus
  * pipelines — Common Crawl ranks hosts exactly this way before sampling
  * training documents).
  *
  * Fixed-point INTEGER arithmetic throughout: ranks are BIGINT micro-units
  * (1e6 = unit mass), per-edge contributions are `rank div outdeg`, and the
  * damping update is `150000 + (850000 * Σcontrib) div 1000000`. Integer
  * division truncates identically in Spark (`div`) and ANSI SQL (`//` in
  * DuckDB) for non-negative operands, so every iteration is bit-identical
  * cross-engine — the same trick that keeps the dedup hashes and the Gram
  * matrix oracle-checkable, applied to an iterative algorithm. (Float
  * PageRank would diverge across partitionings: double sums are
  * combine-order-dependent.)
  *
  * Shape for 100 TB: the edge⋈outdeg join is precomputed ONCE and cached
  * clustered+sorted on src — each iteration sort-merge-joins only the
  * node-sized (id, rank) table against it (the cached partitioning and
  * ordering are reused, so the edge-sized side never re-exchanges or
  * re-sorts) and runs one aggregation shuffle on the destination id, both
  * map-side combinable. [[graft.ops.Fixpoint]] keeps the plan
  * constant-depth; the driver never sees a row. Overflow headroom: a
  * single node's incoming contribution is bounded by TOTAL mass n·unit,
  * so the damping multiply
  * `damping · contrib` must stay below 2^63 — on hub-heavy graphs
  * (a star pulls nearly all mass into one node) that binds at n ≈ 10^6.5
  * nodes at the classic 1e6 micro-unit. The unit is therefore DERIVED
  * from the ranked-node count ([[unitFor]]): the largest power-of-ten
  * resolution whose worst-case damping multiply keeps 4× headroom under
  * 2^63 — a 100 TB link graph (10^10..10^11 nodes) lands at unit 1000,
  * still ample resolution for ordering nodes, and the floor of unit 100
  * carries ~10^14 nodes. The session runs ANSI mode, so if the bound is
  * ever wrong an overflow THROWS rather than silently corrupting ranks.
  * The chosen unit is emitted as a constant `unit` column — fixed-point
  * ranks are meaningless without their scale, and a cross-engine replay
  * must bake the same constants into its arithmetic.
  *
  * Dangling mass is NOT redistributed (the "weak PageRank" variant): nodes
  * are the sources of `edges`, and a node's rank drains if its out-edges
  * point at sink-only nodes. Callers ranking an undirected graph — the
  * common corpus case — pass the symmetrized edge list, where the variant
  * coincides with the classic one up to the dangling term.
  */
object PageRank {

  /** Classic (maximum) micro-units per unit of rank mass — the resolution
    * used whenever the graph is small enough to afford it. */
  val Unit: Long = 1000000L

  /** Damping factor 0.85 at the classic unit. */
  val DampingMicro: Long = 850000L

  /** Smallest unit [[unitFor]] will derive: 0.85·100 is still exact, and
    * the worst-case multiply 0.85·100·n·100 holds to n ≈ 2.7·10^14 nodes. */
  val MinUnit: Long = 100L

  /** The damping multiply's worst case is `0.85·unit · n·unit` (a star
    * graph pulls ~all mass into one node); `safe` keeps it ≤ 2^61 — 4×
    * headroom under Long — evaluated in BigInt so the CHECK can't
    * overflow either. */
  private def safeUnit(u: Long, n: Long): Boolean =
    BigInt(u) * u * n * 85L / 100L <= (BigInt(1) << 61)

  /** Largest power-of-ten unit in [[[MinUnit]], [[Unit]]] whose damping
    * multiply cannot overflow with `n` ranked nodes. Throws (rather than
    * degrading resolution below exact-damping territory) past ~2.7·10^14
    * nodes — orders of magnitude beyond any real link graph.
    */
  def unitFor(n: Long): Long = {
    require(n > 0, s"n=$n: need at least one ranked node")
    var u = Unit
    while (u > MinUnit && !safeUnit(u, n)) u /= 10
    require(safeUnit(u, n),
      s"graph of $n nodes exceeds fixed-point headroom even at unit=$MinUnit")
    u
  }

  /** Rank every node that has at least one out-edge in `edges`
    * (columns `src`, `dst`) after `iters` damped iterations.
    * Returns (id, r, unit) with r in micro-units of the derived (or
    * overridden) `unit` — constant per run, emitted because fixed-point
    * ranks are uninterpretable without their scale.
    *
    * `unitOverride` (power of ten, ≥ [[MinUnit]]) forces a resolution —
    * the cross-engine-parity and the simulated-large-graph test hook;
    * leave 0 to derive it from the node count.
    */
  def ranks(edges: DataFrame, iters: Int, unitOverride: Long = 0L): DataFrame = {
    require(iters >= 1, s"iters=$iters: at least one iteration")
    // the caller's edge build (often a scan+join+distinct) has TWO
    // consumers here — cache it so it runs once, released as soon as the
    // static per-edge table below is materialized
    val e = edges.cache()
    // eager checkpoint: deg anchors the static table's self rows AND the
    // rank init — left lazy, each re-runs the whole upstream edge build
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).localCheckpoint()
    // node count for the unit derivation: deg is materialized, so this is
    // a metadata-cheap job, not a second edge scan
    val unit = if (unitOverride > 0L) unitOverride else unitFor(deg.count())
    val damping = unit * 85L / 100L
    val base = unit - damping
    require(damping * 100L / 85L == unit,
      s"unit=$unit does not represent damping 0.85 exactly (power of ten >= $MinUnit)")
    val pre = massTable(e, deg)
    Fixpoint.iterate(iters, pre, e) {
      pre.count()
      e.unpersist()
      deg.select(col("src").as("id"), lit(unit).as("r")).localCheckpoint()
    } { (ranks, _) =>
      contribs(pre, ranks)
        .select(col("id"), (lit(base) + expr(s"($damping * contrib) div $unit")).as("r"))
    }.withColumn("unit", lit(unit))
  }

  /** The static per-edge table of a rank loop over `e` (src, dst) with
    * out-degrees `deg` (src, outdeg): (src, dst, outdeg, live), joined
    * once and cached CLUSTERED AND SORTED on src so every round's
    * sort-merge join reuses the cached partitioning and ordering
    * (InMemoryTableScan preserves both) — the edge-sized side never
    * re-exchanges or re-sorts, only the node-sized rank table moves.
    * Destinations are restricted to ranked nodes (the srcs of `deg`) and
    * every ranked node gets one zero-mass (live = 0) self row, so each
    * round's aggregate emits exactly the ranked nodes: a node receiving
    * no mass keeps its base rank without a join back to the node
    * universe. Unmaterialized; the caller fills and releases the cache.
    */
  private[graft] def massTable(e: DataFrame, deg: DataFrame): DataFrame =
    e.join(deg, "src")
      .join(deg.select(col("src").as("dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"), col("outdeg"), lit(1L).as("live"))
      .union(deg.select(col("src"), col("src").as("dst"), col("outdeg"), lit(0L).as("live")))
      .repartition(col("src")).sortWithinPartitions("src").cache()

  /** One round's incoming mass (id, contrib) for every ranked node of
    * [[massTable]] `pre`, from the node-sized (id, r) table `ranks`. */
  private[graft] def contribs(pre: DataFrame, ranks: DataFrame): DataFrame =
    // merge hint: ranks is node-sized — at web-graph scale it can never
    // broadcast, so SMJ over the pre-clustered cache IS the production
    // plan; pinning it also stops AQE from materializing a throwaway
    // exchange of the edge-sized side before flipping strategies
    pre.hint("merge").join(ranks, pre("src") === ranks("id"))
      .groupBy(col("dst").as("id"))
      .agg(sum(expr("(r div outdeg) * live")).as("contrib"))
}
