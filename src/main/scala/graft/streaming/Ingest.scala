package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{Stamped, Tables}

/** The one driver of the incremental ingest loops ([[IngestDedup]],
  * [[IngestIvf]], [[IngestPq]], [[IngestSemBand]], [[StreamKmeans]]):
  * a feed of one-file micro-batches, opened as a stream and drained into a
  * loop's `processBatch`.
  *
  * The loops differ only in their step: each keeps its own bootstrap
  * (`ensure*`), its `processBatch(batch, batchId, …)` and its store reader,
  * and a caller drains a feed with
  * `Ingest.drain(Ingest.open(s, feed), checkpoint)(Loop.processBatch(_, _, …))`.
  * Every step commits through [[Stamped]] (a written-once partition or
  * version is the batch's commit record), so a replayed micro-batch — a
  * crash, a restart, a fresh checkpoint — converges instead of
  * duplicating.
  */
object Ingest {

  /** Publish the feed at `feed` once ([[Stamped.publish]]): each frame
    * lands as ONE file, so [[open]] replays it as one micro-batch; a
    * feed interrupted mid-staging is never half visible. Returns `feed`.
    */
  def publish(s: SparkSession, feed: String, batches: DataFrame*): String = {
    Stamped.publish(s, feed)(dir =>
      batches.foreach(_.coalesce(1).write.mode("append").parquet(dir)))
    feed
  }

  /** The feed directory `feed` as a stream of one-file micro-batches, in
    * file-modification order. The schema is the feed's own footer schema
    * ([[Tables.parquet]]: no Spark job), so a streaming scan never
    * infers.
    */
  def open(s: SparkSession, feed: String): DataFrame =
    s.readStream.schema(Tables.parquet(s, feed).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)

  /** Drain everything currently in `stream` through `step` and stop
    * (`Trigger.AvailableNow`, checkpointed at `checkpoint`): each
    * micro-batch runs `step(batch, batchId)` with the stream's
    * transactional batch id. Returns when the stream has terminated; a
    * failed step throws here. The drive goes through
    * [[EventStreams.drive]], so its checkpoint files fork no process.
    */
  def drain(stream: DataFrame, checkpoint: String)(step: (DataFrame, Long) => Unit): Unit =
    EventStreams.drive(stream.sparkSession,
      stream.writeStream
        .foreachBatch((batch: Dataset[Row], batchId: Long) => step(batch.toDF(), batchId))
        .trigger(Trigger.AvailableNow()),
      Some(checkpoint))(_.awaitTermination())
}
