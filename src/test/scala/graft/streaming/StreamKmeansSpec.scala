package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

class StreamKmeansSpec extends AnyFunSuite with SparkSuite {

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("streamed mini-batch updates equal the sequential batch replay") {
    val m = pmod(col("vec_id"), lit(5L))
    val root = Files.createTempDirectory("graft_skm").toString
    StreamKmeans.ensureKmeansState(emb.filter(m < 3), s"$root/stats",
      k = 4, iters = 1)
    val feed = Ingest.publish(spark, s"$root/feed",
      emb.filter(m === 3L).select("vec_id", "embedding"),
      emb.filter(m === 4L).select("vec_id", "embedding"))
    def drain(ckpt: String): Unit =
      Ingest.drain(Ingest.open(spark, feed), ckpt)(
        StreamKmeans.processBatch(_, _, s"$root/stats"))
    drain(s"$root/ckpt")
    val streamed = StreamKmeans.centroids(spark, s"$root/stats")
      .orderBy("cluster", "pos").collect().map(_.toSeq).toSeq
    // sequential replay through the SAME batch entry point, fresh store
    val root2 = Files.createTempDirectory("graft_skm2").toString
    StreamKmeans.ensureKmeansState(emb.filter(m < 3), s"$root2/stats",
      k = 4, iters = 1)
    StreamKmeans.processBatch(emb.filter(m === 3L), 0L, s"$root2/stats")
    StreamKmeans.processBatch(emb.filter(m === 4L), 1L, s"$root2/stats")
    val sequential = StreamKmeans.centroids(spark, s"$root2/stats")
      .orderBy("cluster", "pos").collect().map(_.toSeq).toSeq
    assert(streamed == sequential)
    // the batches actually moved the centroids (evolution, not a no-op)
    val bootstrapOnly = spark.read.parquet(s"$root/stats/v=b000000000")
      .select(col("cluster"), col("pos"), expr("ssum div n").as("c"), col("n"))
      .orderBy("cluster", "pos").collect().map(_.toSeq).toSeq
    assert(streamed != bootstrapOnly, "mini-batch updates changed nothing")
    // at-least-once replay with a fresh checkpoint converges byte-identically
    drain(s"$root/ckpt2")
    val replayed = StreamKmeans.centroids(spark, s"$root/stats")
      .orderBy("cluster", "pos").collect().map(_.toSeq).toSeq
    assert(replayed == streamed, "replay changed committed state")
  }
}
