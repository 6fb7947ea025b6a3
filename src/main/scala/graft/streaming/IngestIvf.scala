package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sim.Similarity
import graft.sources.Stamped

/** Continuous IVF ingest: embedding shards arrive as a stream and each
  * micro-batch assigns itself to the PERSISTED refined-centroid index
  * ([[Similarity.ensureCentroidIndex]]) — the similarity-side companion of
  * [[IngestDedup]], for the other standing artifact a training-data
  * pipeline maintains (a 100 TB embedding store partitioned into inverted
  * lists; new shards must land in the right lists without re-clustering
  * the corpus).
  *
  * Simpler transactional story than the dedup loop because assignments are
  * PER-VECTOR functions of the stored centroids — no cross-batch folding:
  * one store `assignsPath/batch=<v>/` (vec_id, cluster, dist), written
  * once per batch ([[Stamped.writeOnce]]). An at-least-once replay recomputes the
  * identical rows (exact integer arithmetic) into the same partition —
  * convergent by construction. Per-batch cost is |batch|·k·dim through
  * one broadcast join; the driver only coordinates. A stream drives it
  * through [[Ingest.drain]].
  */
object IngestIvf {

  /** Bootstrap: build (once) the refined centroid index from the base
    * corpus. Idempotent — the index is published once.
    */
  def ensureIvfState(baseEmb: DataFrame, indexPath: String, k: Int,
                     iters: Int): Unit =
    Similarity.ensureCentroidIndex(
      baseEmb.select("vec_id", "embedding"), indexPath, k, iters)

  /** One micro-batch, the step [[Ingest.drain]] runs: assign against the
    * stored centroids and land the result under its batch partition,
    * exactly once — PARTITIONED BY
    * CLUSTER, so the store IS the inverted-list layout: a probe of
    * nprobe lists reads nprobe/k of the directories (partition pruning
    * at the scan, no row filter), which is the point of IVF at 100 TB.
    */
  def processBatch(batch: DataFrame, batchId: Long, indexPath: String,
                   assignsPath: String): Unit = {
    val s = batch.sparkSession
    Stamped.writeOnce(s, s"$assignsPath/batch=${Stamped.version(batchId)}")(
      Similarity.assignToCentroidIndex(s, batch.select("vec_id", "embedding"),
          indexPath)
        .write.mode("overwrite").partitionBy("cluster").parquet(_))
  }

  /** Every assignment the loop has committed so far: (vec_id, cluster,
    * dist, batch) — the inverted-list membership table a probe consumes.
    * A `cluster` equality filter prunes to that list's DIRECTORIES
    * (spec-asserted). The cast pins the partition column back to BIGINT —
    * directory-name type inference would otherwise drift it to INT and
    * break schema parity with the batch path.
    */
  def assignments(s: SparkSession, assignsPath: String): DataFrame =
    s.read.parquet(assignsPath)
      .withColumn("cluster", col("cluster").cast("long"))
}
