package graft.ops

import org.apache.spark.sql.DataFrame

/** Scale-adaptive partition sizing for the iterative operators' pinned
  * loop tables (guide §2.1: size partitions to the data, not to a static
  * `spark.sql.shuffle.partitions`).
  *
  * The iterative families cache a loop table CLUSTERED on the per-round
  * join key so each round moves only the node-sized frame: the edge-sized
  * tables of BFS, Bellman-Ford, PageRank and PPR (materialized per
  * [[Fixpoint]]), and the node-sized adjacency of connected components.
  * The cluster step is an explicit `repartition(col)`, which inherits
  * `spark.sql.shuffle.partitions` — and a CACHED plan's output partitioning is pinned (AQE may not coalesce it:
  * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is false by
  * default), so a node-sized loop table at sf0.1 carries 32 near-empty
  * partitions through EVERY round's join, sort and aggregate — measured as
  * the 8-core-beats-32-core inversion of the loop families (r12 scaling
  * block: q_cheapest_path 0.34, q_kcore 0.54). Deriving the partition
  * count from the table's own row count fixes both ends: tiny loop tables
  * collapse to one partition (per-round stages stop paying 32 empty-task
  * round-trips), while at production scale the count grows with the data
  * up to the cluster's own `shuffle.partitions` ceiling — the same number
  * the cluster sized for every other shuffle.
  */
object Sizing {

  /** Partition count for a loop table of `rows` rows averaging
    * `bytesPerRow` bytes: ceil(bytes / 64 MiB) clamped to
    * [1, spark.sql.shuffle.partitions]. The caller has `rows` for free —
    * every clustered loop cache already counts to materialize eagerly.
    * `bytesPerRow` is the UnsafeRow footprint (a 2-3 long-column edge row
    * is ~32 B); precision hardly matters against the 64 MiB target, the
    * clamp does.
    */
  def loopPartitions(df: DataFrame, rows: Long, bytesPerRow: Long = 32L,
                     targetBytes: Long = 64L << 20): Int = {
    val cap = df.sparkSession.sessionState.conf.numShufflePartitions
    val want = math.max(1L, (rows * bytesPerRow + targetBytes - 1) / targetBytes)
    math.max(1, math.min(want, math.max(1, cap).toLong).toInt)
  }

  // Two loop-cache down-sizing variants for the EDGE-sized graph loop
  // tables (Bfs/PageRank/PPR) were implemented, measured at sf0.1, and
  // REVERTED (r13):
  //  - rebuild-after-count (cache at shuffle.partitions, count, re-cache
  //    at the size-derived count): the second full shuffle of the edge
  //    table cost more than the narrower loop stages saved
  //    (q_cheapest_path 3.1 -> 3.5 s);
  //  - single build at a plan-stats-derived count (exact for the stamped
  //    parquet edge artifacts): the few-MB edge tables landed at 1
  //    partition, which SERIALIZED the per-round merge join — 4-round
  //    A/B: q_cheapest_path 2.1-2.5 s at repartition(col) (32-way cache)
  //    vs 3.2-3.6 s pinned to 1; q_bfs_hops 2.2-2.8 vs 3.4-4.0.
  // Lesson recorded: [[loopPartitions]] sizing pays only for NODE-sized
  // loop tables whose per-round stages are pure overhead (dedupGroups'
  // adjacency — 118 -> 48 jobs), not for edge-sized tables that carry the
  // round's real compute; those keep `repartition(col)` at the session
  // shape, which production clusters size via shuffle.partitions anyway.
}
