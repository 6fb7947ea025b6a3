package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.sim.Similarity

class IngestIvfSpec extends AnyFunSuite with SparkSuite {

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("streamed assignments equal the batch path and replay is convergent") {
    val m = pmod(col("vec_id"), lit(5L))
    val root = Files.createTempDirectory("graft_ivf_loop").toString
    IngestIvf.ensureIvfState(emb.filter(m < 3), s"$root/idx", k = 4, iters = 1)
    // stage the two arrival fifths as one feed file each
    val feed = Ingest.publish(spark, s"$root/feed",
      emb.filter(m === 3L).select("vec_id", "embedding"),
      emb.filter(m === 4L).select("vec_id", "embedding"))
    def drain(ckpt: String): Unit =
      Ingest.drain(Ingest.open(spark, feed), ckpt)(
        IngestIvf.processBatch(_, _, s"$root/idx", s"$root/assigns"))
    drain(s"$root/ckpt")
    val streamed = IngestIvf.assignments(spark, s"$root/assigns")
      .select("vec_id", "cluster", "dist")
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    // the loop landed every arrival exactly once
    assert(streamed.nonEmpty)
    assert(streamed.map(_.head).distinct.size == streamed.size)
    // equals the direct batch assignment against the same stored index
    val direct = Similarity.assignToCentroidIndex(
        spark, emb.filter(m >= 3), s"$root/idx")
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(streamed == direct)
    // at-least-once replay: a fresh checkpoint re-delivers every file;
    // the _SUCCESS guards must skip, leaving the store byte-identical
    drain(s"$root/ckpt2")
    val replayed = IngestIvf.assignments(spark, s"$root/assigns")
      .select("vec_id", "cluster", "dist")
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(replayed == streamed, "replay duplicated or changed assignments")
    // the store IS the inverted-list layout: probing one list prunes to
    // its partition directories at the scan, not via a row filter
    val probe = IngestIvf.assignments(spark, s"$root/assigns")
      .filter(col("cluster") === streamed.head(1))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"no partition pruning on the cluster probe:\n$plan")
  }
}
