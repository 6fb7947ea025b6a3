package graft.streaming

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.sim.SignBandIndex

/** The crash window every ingest loop must close: a batch whose side
  * stores landed (docs, index partition, hot keys) but whose commit record
  * did not. Re-running that batch must converge to the store a clean run
  * leaves, with no staging residue.
  */
class IngestCrashSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val bases = {
    val rng = new scala.util.Random(61)
    Array.fill(4)(Array.fill(64)(rng.nextDouble() - 0.5))
  }

  /** 64-dim vectors near the given cluster bases, every component in
    * [-1, 1] (the fixed-point quantizer's domain). */
  private def vectors(members: (Int, Range)*): DataFrame = {
    val rng = new scala.util.Random(members.head._2.start)
    members.flatMap { case (c, ids) => ids.map(i =>
      (i.toLong, bases(c).map(x => (x + 0.05 * rng.nextGaussian()).toFloat).toSeq))
    }.toDF("vec_id", "embedding")
  }

  /** Base, batch 0, batch 1. Cluster 0 holds 10, 12, then 14 vectors, so
    * under the sign-band cap of 12 its keys turn hot at batch 1; batch 1's
    * cluster-1 vectors still match the base. */
  private def emb = Seq(
    vectors(0 -> (0 until 10), 1 -> (10 until 14), 2 -> (14 until 18), 3 -> (18 until 22)),
    vectors(0 -> (100 until 102), 2 -> (102 until 104)),
    vectors(0 -> (200 until 202), 1 -> (202 until 204)))

  private def docs = Seq(
    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "one two three four five six seven eight nine ten eleven twelve")),
    Seq((10L, "red orange yellow green blue indigo violet pink brown black white grey")),
    Seq((20L, "red orange yellow green blue indigo violet pink brown black white silver")))
    .map(_.toDF("doc_id", "text"))

  /** One loop: `frames` are its base corpus and batches 0 and 1, `ensure`
    * bootstraps its stores under a root, `step` runs one batch there,
    * `commit` is batch 1's commit record, `kept` the batch-1 side stores
    * the crash leaves in place, and `read` is the loop's store reader.
    */
  private case class Loop(name: String, frames: () => Seq[DataFrame],
                          ensure: (String, DataFrame) => Unit,
                          step: (String, DataFrame, Long) => Unit,
                          commit: String, kept: Seq[String],
                          read: String => DataFrame)

  private val dedupP = IngestDedup.Params(n = 3, numHashes = 32, bands = 16,
    verifyThreshold = 0.5)
  private val bandP = SignBandIndex.Params(numPlanes = 32, bands = 8, maxBucketDf = 12)

  private val loops = Seq(
    Loop("IngestDedup", () => docs,
      (r, base) => IngestDedup.ensureIngestState(base, s"$r/docs", s"$r/idx",
        s"$r/labels", dedupP),
      (r, b, id) => IngestDedup.processBatch(b, id, s"$r/docs", s"$r/idx",
        s"$r/labels", dedupP),
      "labels/v=b000000002", Seq("docs/batch=b000000002", "idx/batch=b000000002"),
      r => IngestDedup.labels(spark, s"$r/labels")),
    Loop("IngestIvf", () => emb,
      (r, base) => IngestIvf.ensureIvfState(base, s"$r/idx", k = 4, iters = 1),
      (r, b, id) => IngestIvf.processBatch(b, id, s"$r/idx", s"$r/assigns"),
      "assigns/batch=b000000002", Nil,
      r => IngestIvf.assignments(spark, s"$r/assigns")),
    Loop("IngestPq", () => emb,
      (r, base) => IngestPq.ensurePqState(base, s"$r/idx", m = 8, k = 4, iters = 1),
      (r, b, id) => IngestPq.processBatch(b, id, s"$r/idx", s"$r/codes", m = 8),
      "codes/batch=b000000002", Nil,
      r => IngestPq.codes(spark, s"$r/codes")),
    Loop("IngestSemBand", () => emb,
      (r, base) => IngestSemBand.ensureState(base, s"$r/idx", bandP),
      (r, b, id) => IngestSemBand.processBatch(b, id, s"$r/idx", s"$r/matches",
        bandP, threshold = 0.5),
      "matches/batch=b000000002",
      Seq("idx/batch=b000000002", "idx/_hot/batch=b000000002"),
      r => IngestSemBand.matches(spark, s"$r/matches")),
    Loop("StreamKmeans", () => emb,
      (r, base) => StreamKmeans.ensureKmeansState(base, s"$r/stats", k = 4, iters = 1),
      (r, b, id) => StreamKmeans.processBatch(b, id, s"$r/stats"),
      "stats/v=b000000002", Nil,
      r => StreamKmeans.centroids(spark, s"$r/stats")))

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def tree(root: File): Seq[File] =
    Files.walk(root.toPath).iterator().asScala.map(_.toFile).toSeq

  loops.foreach { l =>
    test(s"${l.name}: a batch re-run after its commit record was lost converges to the clean store") {
      val frames = l.frames()
      def run(root: String): Unit = {
        l.ensure(root, frames.head)
        frames.tail.zipWithIndex.foreach { case (b, i) => l.step(root, b, i.toLong) }
      }
      val clean = Files.createTempDirectory(s"graft_crash_clean_${l.name}").toString
      run(clean)
      val want = rows(l.read(clean))
      val crashed = Files.createTempDirectory(s"graft_crash_${l.name}").toString
      run(crashed)
      tree(new File(crashed, l.commit)).reverse.foreach(_.delete())
      assert(!new File(crashed, l.commit).exists())
      l.kept.foreach(k => assert(new File(s"$crashed/$k/_SUCCESS").exists(),
        s"fixture broken: batch 1 left no committed $k"))
      assert(rows(l.read(crashed)) != want, "the lost commit record changed nothing")
      l.step(crashed, frames(2), 1L)
      assert(rows(l.read(crashed)) == want)
      val residue = tree(new File(crashed)).filter(_.getName.contains(".staging_"))
      assert(residue.isEmpty, s"staging residue: $residue")
    }
  }
}
