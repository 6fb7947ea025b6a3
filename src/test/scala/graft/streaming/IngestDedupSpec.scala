package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.text.Dedup

class IngestDedupSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  // base corpus: two unrelated docs; batch 1 introduces doc 10; batch 2's
  // doc 20 near-dups doc 10 ONLY — the (10, 20) group can merge only if
  // batch 1's signatures grew the index AND its docs landed in the store
  // (the verify side must re-tokenize doc 10 from the store, not the feed)
  private val base = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
    (2L, "one two three four five six seven eight nine ten eleven twelve"))
  private val b1 = Seq(
    (10L, "red orange yellow green blue indigo violet pink brown black white grey"))
  private val b2 = Seq(
    (20L, "red orange yellow green blue indigo violet pink brown black white silver"))
  private val p = IngestDedup.Params(n = 3, numHashes = 32, bands = 16,
    verifyThreshold = 0.5)

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def drain(feed: String, ckpt: String, docsP: String, idx: String,
                    labelsP: String): Unit =
    Ingest.drain(Ingest.open(spark, feed), ckpt)(
      IngestDedup.processBatch(_, _, docsP, idx, labelsP, p))

  test("streamed two-batch ingest converges to the full-corpus labeling") {
    val (docsP, idx, labelsP) =
      (tmp("ingest_docs") + "/docs",
        tmp("ingest_idx") + "/idx", tmp("ingest_labels") + "/labels")
    IngestDedup.ensureIngestState(base.toDF("doc_id", "text"),
      docsP, idx, labelsP, p)
    // bootstrap labels: every base doc a singleton
    assert(IngestDedup.labels(spark, labelsP).orderBy("id")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 1L), (2L, 2L)))

    // two feed files, landed in arrival order
    val feed = Ingest.publish(spark, tmp("ingest_feed") + "/feed",
      b1.toDF("doc_id", "text"), b2.toDF("doc_id", "text"))
    drain(feed, tmp("ingest_ckpt"), docsP, idx, labelsP)

    val got = IngestDedup.labels(spark, labelsP).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    // (10, 20) merged through the grown index; everything else singleton
    assert(got == Seq((1L, 1L), (2L, 2L), (10L, 10L), (20L, 10L)), got.toString)

    // ...and equals the full-corpus batch recompute (CC associativity)
    val all = (base ++ b1 ++ b2).toDF("doc_id", "text")
    val full = Dedup.dedupGroups(all.select("doc_id"),
        Dedup.minhashLshPairsPortable(all, p.n, p.numHashes, p.bands,
          p.verifyThreshold), "doc_id")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == full)

    // the doc store carries base + both batches, partition per batch
    val store = spark.read.parquet(docsP)
    assert(store.select("batch").distinct().as[String].collect().sorted.toSeq ==
      Seq("b000000000", "b000000001", "b000000002"))
    assert(store.count() == 4)

    // a FRESH stream over the same feed (checkpoint gone, batch ids reset)
    // is a pure no-op: every version is already committed
    val before = IngestDedup.labels(spark, labelsP).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    drain(feed, tmp("ingest_ckpt2"), docsP, idx, labelsP)
    assert(IngestDedup.labels(spark, labelsP).orderBy("id")
      .as[(Long, Long)].collect().toSeq == before)
    assert(store.count() == 4, "replay duplicated landed docs")
  }

  test("batch-mode processBatch is idempotent and skips a committed version") {
    val (docsP, idx, labelsP) = (tmp("bi_docs") + "/docs",
      tmp("bi_idx") + "/idx", tmp("bi_labels") + "/labels")
    IngestDedup.ensureIngestState(base.toDF("doc_id", "text"),
      docsP, idx, labelsP, p)
    IngestDedup.processBatch(b1.toDF("doc_id", "text"), 0L,
      docsP, idx, labelsP, p)
    IngestDedup.processBatch(b2.toDF("doc_id", "text"), 1L,
      docsP, idx, labelsP, p)
    val first = IngestDedup.labels(spark, labelsP).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(first == Seq((1L, 1L), (2L, 2L), (10L, 10L), (20L, 10L)))
    // replaying batch 1 (even with different content — the commit record
    // wins) must not change anything
    IngestDedup.processBatch(b2.toDF("doc_id", "text"), 0L,
      docsP, idx, labelsP, p)
    assert(IngestDedup.labels(spark, labelsP).orderBy("id")
      .as[(Long, Long)].collect().toSeq == first)
  }

  test("label versions are DELTAS; compaction folds a full snapshot; " +
      "labels equal the batch recompute across the boundary") {
    val (docsP, idx, labelsP) = (tmp("dl_docs") + "/docs",
      tmp("dl_idx") + "/idx", tmp("dl_labels") + "/labels")
    IngestDedup.ensureIngestState(base.toDF("doc_id", "text"),
      docsP, idx, labelsP, p)
    // 9 single-doc batches: ids 100..108, each near-dupping the previous
    // (shared 11-token prefix), so every batch touches ONE component
    val texts = (0 until 9).map(i =>
      (100L + i, "cat dog fox owl bat elk ant bee cow pig hen tail" + i))
    texts.zipWithIndex.foreach { case (doc, i) =>
      IngestDedup.processBatch(Seq(doc).toDF("doc_id", "text"), i.toLong,
        docsP, idx, labelsP, p)
    }
    // batch ids 0..8 -> versions b..1..b..9; (7+1) % 8 == 0 makes version
    // b000000008 the compaction point
    val compacted = new java.io.File(s"$labelsP/v=b000000008")
    assert(new java.io.File(compacted, IngestDedup.FullMarker).exists(),
      "every CompactEvery-th version must be a marked full snapshot")
    val fullRows = spark.read.parquet(compacted.toString).count()
    assert(fullRows == 2 + 8, "the compacted snapshot carries ALL ids so far")
    // non-compaction versions are batch-sized deltas, not corpus rewrites
    val d3 = spark.read.parquet(s"$labelsP/v=b000000003").count()
    assert(d3 <= 4, s"version 3 must be a touched-component delta, got $d3 rows")
    assert(!new java.io.File(s"$labelsP/v=b000000003",
      IngestDedup.FullMarker).exists())
    // the folded labeling (full snapshot + the post-compaction delta)
    // equals the full-corpus batch recompute
    val all = (base ++ texts).toDF("doc_id", "text")
    val full = Dedup.dedupGroups(all.select("doc_id"),
        Dedup.minhashLshPairsPortable(all, p.n, p.numHashes, p.bands,
          p.verifyThreshold), "doc_id")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val got = IngestDedup.labels(spark, labelsP).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(got == full, s"folded=$got recompute=$full")
    // all 9 arrivals share one chained group rooted at the lowest id
    assert(got.filter(_._1 >= 100L).forall(_._2 == 100L))
  }

  test("labels before bootstrap throws instead of returning an empty frame") {
    val e = intercept[IllegalStateException] {
      IngestDedup.labels(spark, tmp("nolabels") + "/labels")
    }
    assert(e.getMessage.contains("ensureIngestState"))
  }
}
