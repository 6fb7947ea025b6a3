package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sim.SignBandIndex
import graft.sources.Stamped

/** Continuous SEMANTIC media ingest: feature-vector shards (BoVW image
  * embeddings, any fixed-dim `array<float>` column) arrive as a stream
  * and each micro-batch probes — and grows — the PERSISTED sign-band
  * index ([[SignBandIndex]]). The embedding-side companion of
  * [[IngestDedup]] (text LSH labels) and [[IngestIvf]]/[[IngestPq]]
  * (centroid/codebook stores): the fourth standing artifact a 100 TB
  * training-data pipeline maintains is its near-dup index, and new media
  * must be checked against it at arrival cost, not corpus cost.
  *
  * Transactional story: matches are PER-BATCH functions of (batch,
  * index-so-far), so each batch lands one `matchesPath/batch=<v>/`
  * (query_id, vec_id, sim) directory, and the index append inside
  * [[SignBandIndex.ingestMatches]] one partition, each written once
  * ([[Stamped.writeOnce]]). An at-least-once replay probes with its OWN
  * partition pruned from the index read, so it recomputes the identical
  * match set (exact per-vector buckets, deterministic planes) into the
  * same directory — convergent by construction, across either crash
  * window (after the index append, or after the matches write). Batches
  * are checkpoint-ordered, so batch N's probe sees exactly base ∪
  * batches 1..N-1 — the loop-closure semantics the oracle replays. A
  * stream drives it through [[Ingest.drain]].
  */
object IngestSemBand {

  /** Bootstrap: build (once) the banded index from the base corpus
    * features. Idempotent — the index is published once.
    * `countForWidth` freezes the plane width from the corpus the loop
    * will ultimately serve (base ∪ expected arrivals) instead of the
    * base alone — see [[SignBandIndex.ensureIndex]].
    */
  def ensureState(baseFeat: DataFrame, indexPath: String,
                  p: SignBandIndex.Params,
                  countForWidth: Option[Long] = None): Unit =
    SignBandIndex.ensureIndex(
      baseFeat.select("vec_id", "embedding"), "vec_id", indexPath, p,
      countForWidth)

  /** One micro-batch, the step [[Ingest.drain]] runs: inside
    * [[Stamped.writeOnce]] of the batch's match partition (a committed
    * batch is skipped wholesale), probe the stored index (growing it
    * under this batch's version), land the verified matches — then run
    * the MAINTENANCE contract: the probe's own key counts are a free
    * |batch|-cost creep signal ([[SignBandIndex.ProbeStats]]); only when
    * it fires does the loop pay the full-index
    * [[SignBandIndex.rebuildDue]] confirmation, and only a confirmed
    * creep triggers [[SignBandIndex.rebuild]] (atomic staging
    * swap — appends fold into a re-widened base, the hot set and the
    * sidecar profile reset). Ordering keeps replays convergent: the
    * rebuild runs strictly AFTER this batch's matches are written, and
    * never for a skipped batch, so a replayed batch either skips its
    * committed matches (and the NEXT batch's probe re-fires the creep
    * signal — maintenance is deferred, never lost while appends keep
    * arriving) or re-probes the pre-rebuild index it originally saw.
    */
  def processBatch(batch: DataFrame, batchId: Long, indexPath: String,
                   matchesPath: String, p: SignBandIndex.Params,
                   threshold: Double): Unit = {
    val s = batch.sparkSession
    val v = Stamped.version(batchId)
    Stamped.writeOnce(s, s"$matchesPath/batch=$v") { dir =>
      val (matches, stats) = SignBandIndex.ingestMatchesStats(
        batch.select("vec_id", "embedding"),
        "vec_id", indexPath, p, threshold, appendBatch = Some(v))
      matches.write.mode("overwrite").parquet(dir)
      if (stats.creep && SignBandIndex.rebuildDue(s, indexPath, p)) {
        System.err.println(s"[graft] sign-band ingest loop: rebuild due at " +
          s"batch $v (probe max occupancy ${stats.probeMaxOcc} > threshold " +
          s"${stats.rebuildThreshold}) — re-widening $indexPath")
        SignBandIndex.rebuild(s, indexPath, p)
      }
    }
  }

  /** Every match the loop has committed so far: (query_id, vec_id, sim,
    * batch) — query_id is always the arriving side of its batch.
    */
  def matches(s: SparkSession, matchesPath: String): DataFrame =
    s.read.parquet(matchesPath)
}
