package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sim.Similarity
import graft.sources.Stamped

/** Continuous PQ encode: embedding shards arrive as a stream and each
  * micro-batch encodes itself against the PERSISTED codebook
  * ([[Similarity.ensurePqIndex]]) — the compressed-store companion of
  * [[IngestIvf]]: where that loop maintains inverted-list membership,
  * this one maintains the CODE table (m small codes per vector, the
  * 20×-smaller scan surface every ADC query reads instead of raw
  * vectors), and new shards must append to it without retraining.
  *
  * The same transactional story as the IVF loop: codes are PER-VECTOR
  * functions of the stored codebook — no cross-batch folding; one store
  * `codesPath/batch=<v>/` (vec_id, sub, cluster, dist) written once per
  * batch ([[Stamped.writeOnce]]). An at-least-once replay recomputes
  * the identical rows (exact integer arithmetic) into the same partition
  * — convergent by construction. Codes land PARTITIONED BY SUB, so a per-subspace ADC
  * lookup join prunes to that subspace's directories at the scan.
  * Per-batch cost is |batch|·m·k·(dim/m) through one broadcast join. A
  * stream drives it through [[Ingest.drain]].
  */
object IngestPq {

  /** Bootstrap: train (once) the codebook from the base corpus.
    * Idempotent — the index is published once, pinned by its sidecar.
    */
  def ensurePqState(baseEmb: DataFrame, indexPath: String, m: Int, k: Int,
                    iters: Int): Unit =
    Similarity.ensurePqIndex(
      baseEmb.select("vec_id", "embedding"), indexPath, m, k, iters)

  /** One micro-batch, the step [[Ingest.drain]] runs: encode against the
    * stored codebook and land the codes under this batch's partition,
    * exactly once. */
  def processBatch(batch: DataFrame, batchId: Long, indexPath: String,
                   codesPath: String, m: Int): Unit = {
    val s = batch.sparkSession
    Stamped.writeOnce(s, s"$codesPath/batch=${Stamped.version(batchId)}")(
      Similarity.encodeWithPqIndex(s, batch.select("vec_id", "embedding"),
          indexPath, m)
        .write.mode("overwrite").partitionBy("sub").parquet(_))
  }

  /** Every code the loop has committed so far: (vec_id, sub, cluster,
    * dist, batch). The cast pins the partition column back to INT —
    * directory-name inference would otherwise keep it INT anyway, but
    * being explicit protects schema parity with the batch path. */
  def codes(s: SparkSession, codesPath: String): DataFrame =
    s.read.parquet(codesPath)
      .withColumn("sub", col("sub").cast("int"))
}
