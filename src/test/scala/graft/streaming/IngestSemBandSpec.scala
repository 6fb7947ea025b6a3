package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.sim.{SignBandIndex, Similarity}

class IngestSemBandSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  /** Clustered vectors (the SignBandIndexSpec fixture): a few random
    * bases, many small perturbations — high-cosine near-dups exist in
    * every mod-5 fifth, so the loop-closure assertions below cannot be
    * vacuously true. */
  private lazy val emb = {
    val rng = new scala.util.Random(19)
    val bases = Array.fill(5)(Array.fill(64)(rng.nextGaussian()))
    (0L until 150L).map { i =>
      val b = bases(rng.nextInt(bases.length))
      (i, b.map(x => (x + 0.15 * rng.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("streamed matches equal the ordered batch replay and replay is convergent") {
    val m = pmod(col("vec_id"), lit(5L))
    val root = Files.createTempDirectory("graft_semband_loop").toString
    val p = SignBandIndex.Params(numPlanes = 16, bands = 8)
    IngestSemBand.ensureState(emb.filter(m < 3), s"$root/idx", p)
    val feed = Ingest.publish(spark, s"$root/feed",
      emb.filter(m === 3L).select("vec_id", "embedding"),
      emb.filter(m === 4L).select("vec_id", "embedding"))
    def drain(ckpt: String): Unit =
      Ingest.drain(Ingest.open(spark, feed), ckpt)(
        IngestSemBand.processBatch(_, _, s"$root/idx", s"$root/matches", p,
          threshold = 0.5))
    drain(s"$root/ckpt")
    def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select("query_id", "vec_id", "sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = asSet(IngestSemBand.matches(spark, s"$root/matches"))
    assert(streamed.nonEmpty, "degenerate fixture: no streamed matches")
    // the checkpoint order fixes each batch's visible universe: batch 1
    // (m=3) sees the base; batch 2 (m=4) sees base ∪ batch 1 — the full
    // banded recompute restricted by that order equals the store
    val all = asSet(Similarity.semanticMatches(spark, emb,
      queryPred = pmod(col("vec_id"), lit(5L)) >= 3L, threshold = 0.5,
      numPlanes = 16, bands = 8))
    val want = all.filter { case (q, c, _) =>
      if (q % 5 == 3) c % 5 < 3 else c % 5 != 4
    }
    assert(streamed == want, s"streamed=${streamed.size} want=${want.size}")
    // batch 2 actually found a batch-1 arrival through the grown index
    assert(streamed.exists { case (q, c, _) => q % 5 == 4 && c % 5 == 3 },
      "loop closure never exercised: no batch2-vs-batch1 match")
    // at-least-once replay: a fresh checkpoint re-delivers every file;
    // the _SUCCESS guards skip, leaving the store byte-identical
    drain(s"$root/ckpt2")
    assert(asSet(IngestSemBand.matches(spark, s"$root/matches")) == streamed,
      "replay duplicated or changed matches")
  }

  test("the stream runs its maintenance contract: creep → rebuildDue → rebuild, convergently") {
    val rng = new scala.util.Random(23)
    val base = (0L until 12L).map(i =>
      (i, Array.fill(64)(rng.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    // batch 1: a correlated flood — 200 near-copies of one direction, so
    // one (band, bucket) key per band grows to ~200 ≫ the rebuild
    // threshold (8 × the 12-vector build profile) and the loop MUST
    // rebuild after landing the batch's matches
    val dir0 = Array.fill(64)(rng.nextGaussian())
    val flood = (1000L until 1200L).map(i =>
      (i, dir0.map(x => (x + 0.01 * rng.nextGaussian()).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    // batch 2: one probe near a FLOOD vector — it must still hit through
    // the REBUILT index (the flood now lives in the folded base)
    val probe = Seq((5000L,
      dir0.map(x => (x + 0.01 * rng.nextGaussian()).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val root = Files.createTempDirectory("graft_semband_rebuild").toString
    val p = SignBandIndex.Params(numPlanes = 16, bands = 8)
    IngestSemBand.ensureState(base, s"$root/idx", p)
    val feed = Ingest.publish(spark, s"$root/feed", flood, probe)
    def drain(ckpt: String): Unit =
      Ingest.drain(Ingest.open(spark, feed), ckpt)(
        IngestSemBand.processBatch(_, _, s"$root/idx", s"$root/matches", p,
          threshold = 0.5))
    drain(s"$root/ckpt")
    // the rebuild fired at batch 1: its append partition folded into the
    // new base (only batch 2's partition survives as an append), and the
    // reset occupancy profile clears the maintenance check
    val parts = new java.io.File(s"$root/idx").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(parts.filter(_.startsWith("batch=")) == Set("batch=base", "batch=b000000002"),
      s"rebuild did not fold the flood batch: $parts")
    assert(!SignBandIndex.rebuildDue(spark, s"$root/idx", p),
      "rebuild left the index still past its (reset) threshold")
    // no staging/old-aside debris from the atomic swap
    val debris = new java.io.File(root).listFiles().map(_.getName)
      .filter(n => n.contains(".rebuild_") || n.contains(".old_"))
    assert(debris.isEmpty, s"rebuild swap left debris: ${debris.toSeq}")
    // batch 2's probe found its flood near-dup THROUGH the rebuilt index
    val m2 = IngestSemBand.matches(spark, s"$root/matches")
      .filter(col("query_id") === 5000L && col("vec_id") >= 1000L &&
        col("vec_id") < 1200L)
    assert(m2.count() > 0, "post-rebuild probe lost the flood near-dups")
    // at-least-once replay across the rebuild: `_SUCCESS` guards skip,
    // store unchanged
    val before = IngestSemBand.matches(spark, s"$root/matches")
      .collect().map(_.toSeq).toSet
    drain(s"$root/ckpt2")
    assert(IngestSemBand.matches(spark, s"$root/matches")
      .collect().map(_.toSeq).toSet == before,
      "replay across the rebuild changed the match store")
  }
}
