package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Stamped

/** The INGEST-LOOP form of multi-index Hamming search: a persisted
  * half-key index over perceptual-hash signatures (image average-hash,
  * audio energy-delta fingerprints, per-frame video phash) that arriving
  * media batches probe — and grow — at |batch| cost, never re-scanning
  * or re-hashing the standing corpus.
  *
  * [[Hamming.nearPairs]] is the batch-mode primitive (complete at
  * Hamming ≤ 3 by pigeonhole; see Hamming.scala for the scheme and its
  * measured linearity). Its ingest gap: a new media batch had to rebuild
  * the whole (half, key) table per arrival. This store mirrors the text
  * band-index loop ([[graft.text.Dedup.ensureBandIndex]] /
  * `ingestPairs`) exactly:
  *
  *   - the index is (id, h1, h2) parquet laid out as `path/batch=base/…`
  *     plus one `batch=<id>/` partition per ingested batch — ~24 bytes
  *     per document, independent of media size, the artifact that makes
  *     perceptual dedup affordable per-arrival at 100 TB;
  *   - a parameter sidecar, published with the index
  *     ([[graft.sources.Stamped.publish]]), pins maxHamming and maxKeyDf;
  *     every probe/append `require`s a match — a capped index probed
  *     uncapped (or vice versa) would silently return a DIFFERENT pair
  *     set, so a mismatch is corrupt-by-construction, not a recall knob;
  *   - appends are written once per batch partition, so an
  *     at-least-once replay overwrites its partial partition
  *     instead of duplicating rows, and the probe prunes a replayed
  *     batch's partition out of its index read (partition-pruned scan).
  *
  * Hot-key state (`maxKeyDf = Some(cap)` — the stop-shingle rule in
  * Hamming space, forced by atom-heavy signatures like per-frame video
  * hashes): the capped semantics need each endpoint's half-key bucket
  * size over the WHOLE corpus-so-far, which naively costs a corpus
  * groupBy per batch. Instead the store keeps the MONOTONE HOT SET of
  * (half, k) keys under `path/_hot/batch=…` ([[HotKeys]], shared with
  * [[SignBandIndex]]): newly-hot keys are exactly the batch's own keys
  * whose (corpus-so-far + batch) count crosses the cap, computable from
  * one broadcast-semi-joined index scan with a |batch|-key shuffle, and
  * the accumulated hot set after batch N equals {key : count over
  * base ∪ batches 1..N > cap} — the exact capped semantics of a full
  * recompute. Cool flags are then two broadcast lookups
  * against the (tiny) hot set on each side; the corpus side pays only
  * the scan it already pays for the probe join.
  *
  * Scale: per batch, the probe side emits 66 keys per row (|batch|·66,
  * broadcast under AQE against the index scan), the index side is
  * scanned once (never shuffled — the build's identity keys ARE the
  * stored layout), candidates are identical-half-class-sized, and the
  * append is one |batch|-row parquet write. Per-batch cost is
  * |batch| + |candidates|, measured by the store:mih_probe scale row
  * (fixed batch, corpus ×10).
  */
object MihIndex {

  /** Probe/index parameters, fixed at bootstrap. */
  final case class Params(maxHamming: Int = 3, maxKeyDf: Option[Int] = None)

  private def specOf(p: Params): Stamped.Spec =
    Stamped.Spec("MIH index", "_graft_mih_spec",
      s"""{"maxHamming":${p.maxHamming},"maxKeyDf":${p.maxKeyDf.getOrElse(-1)}}""")()

  /** Materialize the MIH half-key index of a hash table at `path`
    * (idempotent: a complete index is left untouched). Input: `hashes`
    * with (idCol, h1, h2), halves packed 32-bit non-negative longs
    * (validated per row). When capped, the base hot set — keys whose
    * bucket exceeds the cap over the base corpus — is persisted under
    * `_hot/batch=base` so no later probe re-derives corpus counts.
    */
  def ensureIndex(hashes: DataFrame, idCol: String, path: String,
                  p: Params): Unit = {
    Hamming.requireMaxHamming(p.maxHamming)
    p.maxKeyDf.foreach(c => require(c > 0, s"maxKeyDf=$c must be positive"))
    val s = hashes.sparkSession
    val spec = specOf(p)
    Stamped.publish(s, path, spec) { dir =>
      Hamming.checkedHalves(hashes, idCol).withColumn("batch", lit("base"))
        .write.mode("overwrite").partitionBy("batch").parquet(dir)
      p.maxKeyDf.foreach(cap =>
        Hot.writeBase(dir, Hot.over(Hot.counts(keys(s.read.parquet(dir))), cap)))
      spec.want
    }
  }

  /** The index's hot-key store: one key per (half, value). */
  private val Hot = HotKeys(Seq("half", "k"))

  /** One (half, k) row per half of every signature in `df`. */
  private def keys(df: DataFrame): DataFrame =
    df.select(posexplode(array(col("h1"), col("h2"))).as(Seq("half", "k")))

  /** Incremental near-dup pairs of an arriving hash batch against a
    * corpus whose MIH index was persisted by [[ensureIndex]]: the batch
    * probes its Hamming-1 ball against the stored identity keys
    * (complete at Hamming ≤ maxHamming ≤ 3, exactly [[Hamming.nearPairs]]'
    * guarantee), and — `includeInternal` — the batch's own internal
    * near-dups come from one self-match over the same flagged frame.
    * Per-doc hashes are pure functions of the doc, so the result
    * provably equals the full-corpus [[Hamming.nearPairs]] over
    * corpus ∪ batch restricted to pairs with a batch side
    * (spec-asserted, capped and uncapped) — but the work scales with
    * |batch| + |candidates|, not |corpus|.
    *
    * `appendBatch = Some(id)` CLOSES the loop: after the candidates are
    * materialized, the batch's hashes are appended as a `batch=<id>/`
    * index partition and (when capped) its newly-hot keys as
    * `_hot/batch=<id>/` — each written once, so the NEXT batch's probe
    * sees this one at no corpus cost.
    *
    * Returns canonical (id_a, id_b, hamming) with id_a < id_b.
    */
  def ingestNearPairs(batchHashes: DataFrame, idCol: String,
                      indexPath: String, p: Params,
                      appendBatch: Option[String] = None,
                      includeInternal: Boolean = true): DataFrame = {
    val s = batchHashes.sparkSession
    Stamped.requireSpec(s, indexPath, specOf(p))
    val batch = Hamming.checkedHalves(batchHashes, idCol).localCheckpoint()
    // a replayed batch may ALREADY sit in the index — prune its own
    // partitions out of the probe (partition-pruned, so free) or the
    // re-run would see itself: self-pairs, and in-batch pairs leaking
    // through twice
    val index = appendBatch.foldLeft(s.read.parquet(indexPath)) {
      (ix, id) => ix.filter(col("batch") =!= id)
    }.select("id", "h1", "h2")
    // cool flags on both sides; when capped, fold the batch's own
    // contribution into the hot set FIRST (the symmetric recompute
    // counts the union, so must the probe)
    val (batchBase, indexBase, newlyHot) = p.maxKeyDf match {
      case None =>
        def flag(df: DataFrame) = df.select(col("id"), col("h1"), col("h2"),
          lit(true).as("c1"), lit(true).as("c2"))
        (flag(batch), flag(index), None)
      case Some(cap) =>
        // a key's count changes ONLY when the batch contains it — so the
        // newly-hot keys are exactly the batch keys crossing the cap now
        val fresh = Hot.over(Hot.tally(keys(batch), keys(index)), cap)
        val hot = Hot.read(s, indexPath, appendBatch).union(fresh)
          .distinct().localCheckpoint()
        def flag(df: DataFrame) = df
          .join(broadcast(hot.filter(col("half") === 0).select(col("k").as("_hk1"))),
            col("h1") === col("_hk1"), "left")
          .join(broadcast(hot.filter(col("half") === 1).select(col("k").as("_hk2"))),
            col("h2") === col("_hk2"), "left")
          .select(col("id"), col("h1"), col("h2"),
            col("_hk1").isNull.as("c1"), col("_hk2").isNull.as("c2"))
        (flag(batch), flag(index), Some(fresh))
    }
    val mixed = Hamming.matched(
        Hamming.probeSide(batchBase), Hamming.indexSide(indexBase), p.maxHamming)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("hamming"))
    val all =
      if (!includeInternal) mixed
      else mixed.union(
        Hamming.matched(Hamming.probeSide(batchBase),
            Hamming.indexSide(batchBase), p.maxHamming)
          .filter(col("id_a") < col("id_b")))
    // candidates materialized eagerly (like Dedup.probeIndex) — NOW the
    // index may grow; a lazily-evaluated return could otherwise race its
    // own append
    val out = all.localCheckpoint()
    appendBatch.foreach { id =>
      newlyHot.foreach(Hot.append(s, indexPath, "MIH index", id, _))
      Stamped.appendOnce(s, indexPath, "MIH index", id)(
        batch.write.mode("overwrite").parquet(_))
    }
    out
  }
}
