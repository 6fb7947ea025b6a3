package graft.sim

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The MIH ingest loop's contract: a batch probing a persisted half-key
  * index yields EXACTLY the full-corpus [[Hamming.nearPairs]] restricted
  * to batch-involved pairs — capped and uncapped — and the loop's
  * appends are replay-idempotent.
  */
class MihIndexSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/idx"

  /** Pseudo-random clustered signatures: a few bases, many ≤3-bit
    * perturbations — near-dups exist, most pairs are far. */
  private def clustered(n: Int, seed: Int): Seq[(Long, Long, Long)] = {
    val rng = new scala.util.Random(seed)
    val bases = Array.fill(6)((rng.nextLong() & 0xFFFFFFFFL,
      rng.nextLong() & 0xFFFFFFFFL))
    (0L until n.toLong).map { i =>
      val (b1, b2) = bases(rng.nextInt(bases.length))
      val flips = rng.nextInt(5)
      var (h1, h2) = (b1, b2)
      (0 until flips).foreach { _ =>
        val bit = rng.nextInt(64)
        if (bit < 32) h1 ^= (1L << bit) else h2 ^= (1L << (bit - 32))
      }
      (i, h1, h2)
    }
  }

  private def pairSet(df: DataFrame): Set[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  /** Full-corpus recompute restricted to pairs with >= 1 id in `batch`. */
  private def oracle(rows: Seq[(Long, Long, Long)], batch: Set[Long],
                     cap: Option[Int]): Set[(Long, Long, Int)] =
    pairSet(Hamming.nearPairs(rows.toDF("id", "h1", "h2"), "id",
        maxKeyDf = cap))
      .filter { case (a, b, _) => batch(a) || batch(b) }

  test("ingestNearPairs equals full-corpus nearPairs restricted to batch pairs (uncapped)") {
    val rows = clustered(120, seed = 11)
    val (corpus, batch) = rows.partition(_._1 % 5 != 4)
    val path = tmp("mih_uncapped")
    val p = MihIndex.Params()
    MihIndex.ensureIndex(corpus.toDF("id", "h1", "h2"), "id", path, p)
    val got = pairSet(MihIndex.ingestNearPairs(
      batch.toDF("id", "h1", "h2"), "id", path, p))
    val want = oracle(rows, batch.map(_._1).toSet, None)
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(want.nonEmpty, "degenerate fixture: no batch-involved pairs")
    // mixed AND internal pairs must both be present in the fixture
    val bids = batch.map(_._1).toSet
    assert(want.exists { case (a, b, _) => bids(a) ^ bids(b) })
    assert(want.exists { case (a, b, _) => bids(a) && bids(b) })
  }

  test("capped ingest equals the capped recompute, incl. keys crossing the cap AT the batch") {
    // 9 corpus rows share an atom h1 key (cool at cap 10); the batch adds
    // 3 more carriers, crossing the cap to 12 — the recompute over the
    // union sees a HOT key, so the ingest must too. Each batch carrier
    // sits exactly 2 h2-bits from one corpus carrier: the pair qualifies
    // ONLY via the (now hot) identical h1 half, so it is present uncapped
    // and must VANISH capped.
    val atom = 0x0BADCAFEL
    val base2 = 0x12345678L
    val corpus = (0L until 9L).map(i =>
        (i, atom, base2 ^ (0x3L << (2 * i.toInt)))) ++
      clustered(60, seed = 5).map { case (i, h1, h2) => (i + 100L, h1, h2) }
    val batch = (0L until 3L).map(i =>
        (i + 1000L, atom, base2 ^ (0x3L << (2 * i.toInt)) ^ (0x3L << 26))) ++
      clustered(20, seed = 5).map { case (i, h1, h2) => (i + 2000L, h1, h2) }
    val all = corpus ++ batch
    val path = tmp("mih_capped")
    val p = MihIndex.Params(maxKeyDf = Some(10))
    MihIndex.ensureIndex(corpus.toDF("id", "h1", "h2"), "id", path, p)
    val got = pairSet(MihIndex.ingestNearPairs(
      batch.toDF("id", "h1", "h2"), "id", path, p))
    val want = oracle(all, batch.map(_._1).toSet, Some(10))
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(want.nonEmpty, "degenerate fixture: no surviving capped pairs")
    // the cap must have BITTEN: the 3 hot-half-only pairs are uncapped-only
    val uncapped = oracle(all, batch.map(_._1).toSet, None)
    assert((0L until 3L).forall(i => uncapped.contains((i, i + 1000L, 2))),
      "fixture broken: planted hot-half pairs not found uncapped")
    assert((0L until 3L).forall(i => !want.contains((i, i + 1000L, 2))),
      "cap did not bite: planted hot-half pairs survived")
  }

  test("multi-batch loop: batch 2 finds batch 1 through the grown index; replay idempotent") {
    val rows = clustered(150, seed = 31)
    val m = rows.groupBy(_._1 % 3)
    val (base, b1, b2) = (m(0), m(1), m(2))
    val path = tmp("mih_loop")
    val p = MihIndex.Params(maxKeyDf = Some(16))
    MihIndex.ensureIndex(base.toDF("id", "h1", "h2"), "id", path, p)
    val p1 = pairSet(MihIndex.ingestNearPairs(
      b1.toDF("id", "h1", "h2"), "id", path, p, appendBatch = Some("b1")))
    assert(p1 == oracle(base ++ b1, b1.map(_._1).toSet, Some(16)))
    val p2 = pairSet(MihIndex.ingestNearPairs(
      b2.toDF("id", "h1", "h2"), "id", path, p, appendBatch = Some("b2")))
    // batch 2's universe includes batch 1 THROUGH THE INDEX ALONE
    assert(p2 == oracle(rows, b2.map(_._1).toSet, Some(16)))
    // b2-vs-b1 pairs exist (the loop closure actually mattered)
    val (ids1, ids2) = (b1.map(_._1).toSet, b2.map(_._1).toSet)
    assert(p2.exists { case (a, b, _) =>
      (ids1(a) && ids2(b)) || (ids2(a) && ids1(b)) })
    // replaying batch 1 against the GROWN index (its own partition is
    // pruned from the probe) reproduces its original pairs PLUS its
    // pairs against batch 2 — i.e. the recompute over the full corpus —
    // and leaves the store unchanged
    val r1 = pairSet(MihIndex.ingestNearPairs(
      b1.toDF("id", "h1", "h2"), "id", path, p, appendBatch = Some("b1")))
    assert(r1 == oracle(rows, ids1, Some(16)))
    val p2again = pairSet(MihIndex.ingestNearPairs(
      b2.toDF("id", "h1", "h2"), "id", path, p, appendBatch = Some("b2")))
    assert(p2again == p2)
  }

  test("a capped probe reads its hot-key set without an ignored-path warning") {
    val rows = clustered(90, seed = 53)
    val m = rows.groupBy(_._1 % 3)
    val path = tmp("mih_warn")
    val p = MihIndex.Params(maxKeyDf = Some(8))
    MihIndex.ensureIndex(m(0).toDF("id", "h1", "h2"), "id", path, p)
    val logged = graft.Logs.during(graft.Logs.DataSource) {
      Seq("b1" -> m(1), "b2" -> m(2)).foreach { case (id, b) =>
        MihIndex.ingestNearPairs(b.toDF("id", "h1", "h2"), "id", path, p,
          appendBatch = Some(id)).count()
      }
    }
    assert(!logged.exists(_.contains("All paths were ignored")), logged)
  }

  test("a mismatched probe spec throws instead of silently diverging") {
    val rows = clustered(20, seed = 41)
    val path = tmp("mih_spec")
    MihIndex.ensureIndex(rows.toDF("id", "h1", "h2"), "id", path,
      MihIndex.Params(maxHamming = 3, maxKeyDf = None))
    val e = intercept[IllegalArgumentException] {
      MihIndex.ingestNearPairs(rows.take(5).toDF("id", "h1", "h2"), "id",
        path, MihIndex.Params(maxHamming = 3, maxKeyDf = Some(8)))
    }
    assert(e.getMessage.contains("built with"))
  }

  test("an out-of-range half fails loudly at ensure time") {
    val bad = Seq((1L, 0x1FFFFFFFFL, 0L)).toDF("id", "h1", "h2")
    val path = tmp("mih_bad")
    val e = intercept[Exception] {
      MihIndex.ensureIndex(bad, "id", path, MihIndex.Params())
    }
    assert(e.getMessage != null)
  }
}
