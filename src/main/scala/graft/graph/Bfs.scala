package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Fixpoint

/** Bounded-depth BFS hop distances over an edge list — the graph suite's
  * reachability member next to PageRank (mass), triangles (local
  * structure), and connected components (global structure). Distances are
  * exact BIGINTs, so the whole computation replays in an unrolled SQL
  * oracle (the PageRank discipline; no floats anywhere).
  *
  * FRONTIER formulation, not dist-table self-join: round k expands only
  * the nodes FIRST REACHED at round k-1 (`frontier ⋈ edges`, then
  * anti-join against everything already settled), so each edge is
  * traversed once per endpoint discovery — total work O(E) over the whole
  * run, the textbook distributed BFS. A naive `dist ⋈ edges` per round
  * re-expands the entire reached set every round — O(E·depth) — which is
  * the difference between a 6-round web-graph BFS finishing and not, at
  * 100 TB. The settled set is union-appended; its materialization
  * follows [[graft.ops.Fixpoint]].
  *
  * Returns (id, d): every node within `maxHops` of `seed`, d = exact
  * hop distance (min over paths — the anti-join guarantees first-reach,
  * and BFS first-reach IS the minimum in an unweighted graph).
  */
object Bfs {

  def hops(edges: DataFrame, seed: Long, maxHops: Int): DataFrame = {
    // cache the edge list CLUSTERED AND SORTED on src (the caller's edge
    // build is typically a fact-join + distinct — without the cache every
    // round re-executes that whole lineage, maxHops redundant corpus
    // scans at 100 TB), and pin the merge join: a web-scale frontier can
    // reach node-count size by hop 2-3, never broadcastable, so SMJ over
    // the clustered cache is the production plan — each round moves only
    // the frontier (PageRank.ranks discipline)
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).sortWithinPartitions("src").cache()
    // the frontier must materialize every round (it anchors both the next
    // expansion and the settled union); the settled UNION of the seed
    // literal and the checkpointed frontiers is the loop state, shallow
    // between barriers
    val start = e.sparkSession.range(1).select(lit(seed).as("id"), lit(0L).as("d"))
    var frontier = start.select("id")
    Fixpoint.iterate(maxHops, e) { e.count(); start } { (settled, round) =>
      val next = e.hint("merge").join(frontier, e("src") === frontier("id"))
        .select(col("dst").as("id")).distinct()
        .join(settled.select("id"), Seq("id"), "left_anti")
        .select(col("id"), lit(round.toLong).as("d"))
        .localCheckpoint()
      frontier = next.select("id")
      settled.union(next)
    }
  }

  /** Bounded-round Bellman-Ford cheapest paths over a WEIGHTED edge list
    * (src, dst, w) with non-negative BIGINT weights — paths of at most
    * `rounds` edges. Unlike [[hops]], a node's distance can IMPROVE after
    * first reach (a longer-but-cheaper path), so the frontier/anti-join
    * trick does not apply: each round is the full min-union relaxation
    *   d'(v) = min(d(v), min over (u,v,w) of d(u) + w)
    * — one equi-join + one combinable min aggregate, the textbook
    * distributed Bellman-Ford round, materialized by [[graft.ops.Fixpoint]].
    * O(E) work per round, `rounds` bounded by the caller (path
    * length in edges, the standard k-hop-cost query). Distances exact
    * BIGINT ⇒ replayable by an unrolled min-union oracle. Overflow: the
    * caller bounds w so that rounds·max(w) stays far under 2^63; ANSI
    * mode throws rather than wraps if that contract is broken.
    */
  def cheapest(edges: DataFrame, seed: Long, rounds: Int): DataFrame = {
    // same caching/clustering discipline as [[hops]]: the weighted edge
    // build runs once, each relaxation round moves only the node-sized
    // dist table into the pinned merge join
    val e = edges.select(col("src"), col("dst"), col("w"))
      .repartition(col("src")).sortWithinPartitions("src").cache()
    Fixpoint.iterate(rounds, e) {
      e.count()
      e.sparkSession.range(1).select(lit(seed).as("id"), lit(0L).as("d"))
    } { (dist, _) =>
      dist.union(
          e.hint("merge").join(dist, e("src") === dist("id"))
            .select(col("dst").as("id"), (col("d") + col("w")).as("d")))
        .groupBy("id").agg(min(col("d")).as("d"))
    }
  }
}
