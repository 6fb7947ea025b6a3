package graft.sim

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The sign-band ingest loop's contract: a batch probing a persisted
  * (vector, buckets) index yields EXACTLY the full-corpus
  * [[Similarity.semanticMatches]] restricted to batch-involved pairs,
  * and the loop's appends are replay-idempotent.
  */
class SignBandIndexSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/idx"

  /** Clustered unit-ish vectors: a few random bases, many small
    * perturbations — high-cosine near-dups exist, most pairs are far. */
  private def clustered(n: Int, seed: Int): Seq[(Long, Seq[Float])] = {
    val rng = new scala.util.Random(seed)
    val bases = Array.fill(5)(Array.fill(64)(rng.nextGaussian()))
    (0L until n.toLong).map { i =>
      val b = bases(rng.nextInt(bases.length))
      (i, b.map(x => (x + 0.15 * rng.nextGaussian()).toFloat).toSeq)
    }
  }

  private def toDf(rows: Seq[(Long, Seq[Float])]): DataFrame =
    rows.toDF("vec_id", "embedding")

  private def asSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Full-corpus banded recompute (same base planes; the fixture sizes
    * keep the adaptive width at base on both sides), restricted to pairs
    * with the query side in `batch` and the corpus side outside it. */
  private def oracleMixed(all: Seq[(Long, Seq[Float])], batch: Set[Long],
                          threshold: Double): Set[(Long, Long, Double)] =
    asSet(Similarity.semanticMatches(spark, toDf(all),
        queryPred = col("vec_id").isInCollection(batch), threshold = threshold,
        numPlanes = 16, bands = 8))
      .filter { case (_, c, _) => !batch(c) }

  test("ingestMatches equals full-corpus semanticMatches restricted to mixed pairs") {
    val rows = clustered(150, seed = 7)
    val (corpus, batch) = rows.partition(_._1 % 4 != 3)
    val path = tmp("semband")
    val p = SignBandIndex.Params(numPlanes = 16, bands = 8)
    SignBandIndex.ensureIndex(toDf(corpus), "vec_id", path, p)
    val got = asSet(SignBandIndex.ingestMatches(toDf(batch), "vec_id", path,
      p, threshold = 0.6))
    val want = oracleMixed(rows, batch.map(_._1).toSet, 0.6)
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(want.nonEmpty, "degenerate fixture: no mixed near-dup pairs")
    // internal pairs come canonicalized once each when requested
    val withInt = asSet(SignBandIndex.ingestMatches(toDf(batch), "vec_id",
      path, p, threshold = 0.6, includeInternal = true))
    val internal = withInt -- got
    assert(internal.nonEmpty, "degenerate fixture: no in-batch near-dups")
    val bids = batch.map(_._1).toSet
    assert(internal.forall { case (a, b, _) => bids(a) && bids(b) && a < b })
  }

  test("multi-batch loop: batch 2 finds batch 1 through the grown index; replay idempotent") {
    val rows = clustered(180, seed = 23)
    val m = rows.groupBy(_._1 % 3)
    val (base, b1, b2) = (m(0), m(1), m(2))
    val path = tmp("semband_loop")
    val p = SignBandIndex.Params(numPlanes = 16, bands = 8)
    SignBandIndex.ensureIndex(toDf(base), "vec_id", path, p)
    val p1 = asSet(SignBandIndex.ingestMatches(toDf(b1), "vec_id", path, p,
      threshold = 0.6, appendBatch = Some("b1")))
    assert(p1 == oracleMixed(base ++ b1, b1.map(_._1).toSet, 0.6))
    val p2 = asSet(SignBandIndex.ingestMatches(toDf(b2), "vec_id", path, p,
      threshold = 0.6, appendBatch = Some("b2")))
    // batch 2's universe includes batch 1 THROUGH THE INDEX ALONE
    assert(p2 == oracleMixed(rows, b2.map(_._1).toSet, 0.6))
    val (ids1, ids2) = (b1.map(_._1).toSet, b2.map(_._1).toSet)
    assert(p2.exists { case (_, c, _) => ids1(c) },
      "loop closure never exercised: no b2-vs-b1 match")
    // replaying batch 1 against the GROWN index (its own partition pruned
    // from its probe) equals the full-corpus restriction, and leaves the
    // store unchanged for batch 2's replay
    val r1 = asSet(SignBandIndex.ingestMatches(toDf(b1), "vec_id", path, p,
      threshold = 0.6, appendBatch = Some("b1")))
    assert(r1 == oracleMixed(rows, ids1, 0.6))
    val p2again = asSet(SignBandIndex.ingestMatches(toDf(b2), "vec_id", path,
      p, threshold = 0.6, appendBatch = Some("b2")))
    assert(p2again == p2)
  }

  test("capped ingest equals the capped batch recompute; the cap is exercised") {
    // a dominant hot cluster saturating its buckets past a tiny cap,
    // plus cool clustered mass — the correlated pattern the cap drops
    val rng = new scala.util.Random(31)
    val hotBase = Array.fill(64)(rng.nextGaussian())
    val coolBase = Array.fill(64)(rng.nextGaussian())
    val rows: Seq[(Long, Seq[Float])] =
      (0L until 80L).map(i =>
        (i, hotBase.map(x => (x + 0.05 * rng.nextGaussian()).toFloat).toSeq)) ++
      (100L until 140L).map(i =>
        (i, coolBase.map(x => (x + 0.15 * rng.nextGaussian()).toFloat).toSeq))
    val (corpus, batch) = rows.partition(_._1 % 4 != 3)
    val bids = batch.map(_._1).toSet
    val path = tmp("semband_cap")
    val p = SignBandIndex.Params(numPlanes = 16, bands = 8, maxBucketDf = 24)
    SignBandIndex.ensureIndex(toDf(corpus), "vec_id", path, p)
    val got = asSet(SignBandIndex.ingestMatches(toDf(batch), "vec_id", path,
      p, threshold = 0.6))
    // the batch-mode capped recompute over corpus ∪ batch: same planes,
    // same cap counted over the same universe (the batch query's frame-
    // local count equals base + batch-contribution by the hot-set
    // induction), restricted to mixed pairs
    val want = asSet(Similarity.semanticMatches(spark, toDf(rows),
        queryPred = col("vec_id").isInCollection(bids), threshold = 0.6,
        numPlanes = 16, bands = 8, maxBucketDf = 24))
      .filter { case (_, c, _) => !bids(c) }
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(want.nonEmpty, "degenerate fixture: nothing survived the cap")
    // the cap actually bit: the uncapped probe finds strictly more
    // (the 80-member hot cluster's buckets hold > 24 on every band)
    val uncappedPath = tmp("semband_uncapped")
    val pu = SignBandIndex.Params(numPlanes = 16, bands = 8)
    SignBandIndex.ensureIndex(toDf(corpus), "vec_id", uncappedPath, pu)
    val uncapped = asSet(SignBandIndex.ingestMatches(toDf(batch), "vec_id",
      uncappedPath, pu, threshold = 0.6))
    assert(got.map(k => (k._1, k._2)).subsetOf(uncapped.map(k => (k._1, k._2))))
    assert(uncapped.size > got.size,
      s"cap never dropped a pair (uncapped=${uncapped.size} capped=${got.size})")
  }

  test("append creep past the rebuild threshold warns and rebuildDue fires") {
    // spread base: buckets near expected occupancy at build time
    val rng = new scala.util.Random(47)
    val base = (0L until 40L).map(i => (i, Seq.fill(64)(rng.nextGaussian().toFloat)))
    val path = tmp("semband_creep")
    val p = SignBandIndex.Params(numPlanes = 16, bands = 8)
    SignBandIndex.ensureIndex(toDf(base), "vec_id", path, p)
    assert(!SignBandIndex.rebuildDue(spark, path, p),
      "a fresh index cannot already be due for rebuild")
    // creep: a pile of near-identical vectors lands in ONE bucket per
    // band, pushing occupancy past RebuildOccFactor × the build profile
    val pileBase = Array.fill(64)(rng.nextGaussian())
    val pile = (1000L until 1400L).map(i =>
      (i, pileBase.map(x => (x + 0.01 * rng.nextGaussian()).toFloat).toSeq))
    SignBandIndex.ingestMatches(toDf(pile), "vec_id", path, p,
      threshold = 0.99, appendBatch = Some("pile"))
    assert(SignBandIndex.rebuildDue(spark, path, p),
      "400 piled vectors on a 40-vector index must trip the rebuild check")
    // the maintenance action: rebuild folds base ∪ appends into a new
    // base at a re-resolved width, resets the occupancy profile (the
    // piled mass IS the new build's measured profile, so the creep check
    // is relative to it again), and keeps every vector probeable
    SignBandIndex.rebuild(spark, path, p)
    assert(!SignBandIndex.rebuildDue(spark, path, p),
      "a just-rebuilt index cannot still be due for rebuild")
    val stored = spark.read.parquet(path)
    assert(stored.count() == 440, "rebuild must keep base ∪ appended vectors")
    assert(stored.select("batch").distinct().collect()
        .map(_.getString(0)).toSet == Set("base"),
      "rebuild folds every append into the new base snapshot")
    // a probe against the rebuilt index still finds the piled near-dups
    val probe = SignBandIndex.ingestMatches(
      toDf(Seq((9999L, pileBase.map(_.toFloat).toSeq))), "vec_id", path, p,
      threshold = 0.99)
    assert(probe.count() > 0, "rebuilt index lost the piled cluster")
  }

  test("a capped probe reads its hot-key set without an ignored-path warning") {
    val rows = clustered(120, seed = 59)
    val m = rows.groupBy(_._1 % 3)
    val path = tmp("semband_warn")
    val p = SignBandIndex.Params(numPlanes = 16, bands = 8, maxBucketDf = 24)
    SignBandIndex.ensureIndex(toDf(m(0)), "vec_id", path, p)
    val logged = graft.Logs.during(graft.Logs.DataSource) {
      Seq("b1" -> m(1), "b2" -> m(2)).foreach { case (id, b) =>
        SignBandIndex.ingestMatches(toDf(b), "vec_id", path, p, threshold = 0.6,
          appendBatch = Some(id)).count()
      }
    }
    assert(!logged.exists(_.contains("All paths were ignored")), logged)
  }

  test("a mismatched probe spec throws instead of silently diverging") {
    val rows = clustered(30, seed = 41)
    val path = tmp("semband_spec")
    SignBandIndex.ensureIndex(toDf(rows), "vec_id", path,
      SignBandIndex.Params(numPlanes = 16, bands = 8))
    val e = intercept[IllegalArgumentException] {
      SignBandIndex.ingestMatches(toDf(rows.take(5)), "vec_id", path,
        SignBandIndex.Params(numPlanes = 16, bands = 4), threshold = 0.6)
    }
    assert(e.getMessage.contains("built with"))
    // a cap mismatch is corrupt-by-construction too: a capped index
    // probed with a different cap returns a DIFFERENT pair set
    val c = intercept[IllegalArgumentException] {
      SignBandIndex.ingestMatches(toDf(rows.take(5)), "vec_id", path,
        SignBandIndex.Params(numPlanes = 16, bands = 8, maxBucketDf = 7),
        threshold = 0.6)
    }
    assert(c.getMessage.contains("built with"))
  }
}
