package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sim.Similarity
import graft.sources.Stamped

/** Streaming MINI-BATCH k-means: unlike [[IngestIvf]] (fixed index, new
  * data partitions itself), here the centroids EVOLVE — every arriving
  * shard is assigned to the current centroids and then folded into them,
  * the classic mini-batch k-means update (Sculley 2010, "Web-scale
  * k-means clustering") run as a Structured Streaming sink.
  *
  * The state is per-(cluster, pos) integer sufficient statistics
  * (ssum, n), NOT means: a centroid is `ssum div n` on read, and folding
  * a batch in is pure BIGINT addition ([[Similarity.clusterStats]]) —
  * so every version of the evolving centroids is bit-replayable by an
  * unrolled SQL oracle, the same fixed-point discipline as the Lloyd
  * builder. (A float mean-update would be order-dependent and
  * unverifiable — this is the verifiable formulation of the same
  * algorithm.)
  *
  * Versioned commits, [[IngestDedup]]-style: `statsPath/v=<v>/`, written
  * once ([[Stamped.writeOnce]]), with the committed version as the
  * batch's commit record — a replayed batch (crash, fresh checkpoint) is
  * skipped wholesale, so at-least-once delivery converges. A stream
  * drives it through [[Ingest.drain]]. Per-batch cost: |batch|·k·dim
  * through one broadcast join plus a k·dim-row merge; the driver only
  * coordinates.
  */
object StreamKmeans {

  private val BaseVersion = Stamped.version(-1)

  private def statsAt(s: SparkSession, statsPath: String): DataFrame = {
    val v = Stamped.versions(s, statsPath).lastOption.getOrElse(throw new IllegalStateException(
      s"no committed stats version under $statsPath — run ensureKmeansState first"))
    s.read.parquet(s"$statsPath/v=$v")
  }

  /** The loop's current centroids: (cluster, pos, c, n) at the latest
    * committed version — c = ssum div n, exact.
    */
  def centroids(s: SparkSession, statsPath: String): DataFrame =
    statsAt(s, statsPath)
      .select(col("cluster"), col("pos"),
        expr("ssum div n").as("c"), col("n"))

  /** Bootstrap: full fixed-point Lloyd over the base corpus, reduced to
    * its sufficient statistics as version [[BaseVersion]]. Idempotent.
    */
  def ensureKmeansState(baseEmb: DataFrame, statsPath: String, k: Int,
                        iters: Int): Unit = {
    val base = baseEmb.select("vec_id", "embedding")
    Stamped.writeOnce(baseEmb.sparkSession, s"$statsPath/v=$BaseVersion")(
      Similarity.clusterStats(base, Similarity.kmeansFixed(base, k, iters))
        .write.mode("overwrite").parquet(_))
  }

  /** One micro-batch, the step [[Ingest.drain]] runs: assign against the
    * CURRENT centroids, fold the batch's statistics in, commit the next
    * version once ([[Stamped.writeOnce]]) — a replayed batch is skipped,
    * so replays converge.
    */
  def processBatch(batch: DataFrame, batchId: Long, statsPath: String): Unit = {
    val s = batch.sparkSession
    Stamped.writeOnce(s, s"$statsPath/v=${Stamped.version(batchId)}") { out =>
      val prev = statsAt(s, statsPath)
      val cents = prev.select(col("cluster"), col("pos"),
        expr("ssum div n").as("c"))
      val b = batch.select("vec_id", "embedding")
      val bstats = Similarity.clusterStats(b, Similarity.assignToCentroids(b, cents))
      // every cluster keeps its state; clusters the batch touched add the
      // batch's sums — pure integer addition, engine-order-independent
      prev.as("p")
        .join(bstats.as("b"), Seq("cluster", "pos"), "left")
        .select(col("cluster"), col("pos"),
          (col("p.ssum") + coalesce(col("b.ssum"), lit(0L))).as("ssum"),
          (col("p.n") + coalesce(col("b.n"), lit(0L))).as("n"))
        .write.mode("overwrite").parquet(out)
    }
  }
}
