package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Fixpoint

/** Synchronous label propagation (Raghavan et al. 2007) — community
  * detection over an edge list, the third member of the iterative graph
  * family beside PageRank's fixed-point ranks and Bfs's frontier
  * distances (reference has no graph ops; SURVEY.md §2.9 X4).
  *
  * Every node starts labeled with its own id; each round RE-labels every
  * node with the most frequent label among its neighbors, ties broken to
  * the LOWEST label — a fully deterministic argmax (the classic
  * formulation breaks ties randomly; a fixed rule is what makes the
  * result engine-replayable), evaluated synchronously from the previous
  * round's labels. Densely interconnected node groups converge onto one
  * label = the community id.
  *
  * Scale shape: per round ONE equi-join of the edge list against the
  * n-row label table (shuffle on dst, then on src for the count) and one
  * map-side-combinable argmax aggregate — O(E) per round like PageRank's
  * contribution join, never materializing neighborhoods. The label
  * table's materialization follows [[graft.ops.Fixpoint]].
  */
object LabelProp {

  /** `iters` synchronous rounds over `edges(src, dst)` (pass a
    * symmetrized edge list for undirected semantics). Returns
    * (id, lbl) — isolated nodes never appear (an edge list carries no
    * degree-0 nodes).
    */
  def communities(edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    Fixpoint.iterate(iters) {
      e.select(col("src").as("id")).distinct().withColumn("lbl", col("id"))
    } { (labels, _) =>
      e.join(labels.select(col("id").as("dst"), col("lbl").as("nl")), "dst")
        .groupBy(col("src"), col("nl"))
        .agg(count(lit(1)).as("cnt"))
        // argmax by (count desc, label asc): struct max takes the largest
        // count, then the largest -nl = the LOWEST label (ids are
        // non-negative), matching the oracle's row_number tie rule
        .groupBy(col("src").as("id"))
        .agg(max(struct(col("cnt"), (-col("nl")).as("neg"), col("nl"))).as("mm"))
        .select(col("id"), col("mm.nl").as("lbl"))
    }
  }
}
