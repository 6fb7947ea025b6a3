package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}

/** The one materialization policy of the fixed-round iterative loops
  * (PageRank, LabelProp, Bfs, PPR, Markov, the Lloyd loops): when a
  * loop's state is checkpointed, and when the caches that state reads
  * are released. No caller can set any part of it.
  *
  * Every loop run here reads its state exactly ONCE per round (the next
  * round's join), so the chain of lazy rounds is linear: nothing in it
  * recomputes, and only plan depth grows. (Bfs.hops reads its settled
  * set twice, but that set is a union of checkpointed frontiers, so a
  * second read is a scan, not a recompute.) A `localCheckpoint` every
  * [[Stride]] rounds keeps that depth constant-bounded while each
  * skipped checkpoint saves a full eager job round-trip.
  * Loops whose state is read twice per round (the Bfs frontier, k-core,
  * random walks, Bpe merges) must materialize every round and do not
  * use this.
  *
  * The last round is materialized exactly when the caller hands over
  * caches: they are released when the loop returns, and a result still
  * reading them would recompute its whole chain, uncached, at the
  * caller's action. With no caches handed over, the caller's own action
  * computes the last round, so checkpointing it would only add a job.
  */
object Fixpoint {

  /** Rounds per materialization barrier. */
  val Stride = 4

  /** Run `rounds` rounds of `step` (state, 1-based round) from `init`.
    * `release` are caches the rounds read: `init` (evaluated inside the
    * guard, so it may fill them) and every round run before they are
    * unpersisted, on every exit path including a throwing round. */
  def iterate(rounds: Int, release: Dataset[_]*)(init: => DataFrame)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    require(rounds >= 0, s"rounds=$rounds")
    try {
      var state = init
      for (i <- 1 to rounds) {
        state = step(state, i)
        if (if (i == rounds) release.nonEmpty else i % Stride == 0)
          state = state.localCheckpoint()
      }
      state
    } finally release.foreach(_.unpersist())
  }
}
