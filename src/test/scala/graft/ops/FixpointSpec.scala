package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** The fixpoint materialization policy, read off the jobs it launches: a
  * round body that is one narrow projection launches no job of its own,
  * so every job inside the loop is a `localCheckpoint` of the state.
  */
class FixpointSpec extends AnyFunSuite with SparkSuite {

  /** Records the job group of every job start. A fence job, run in its
    * own group, orders the log: once the fence is seen, every job
    * submitted before it has been seen too (the bus delivers in order). */
  private final class JobLog extends SparkListener {
    val groups = new ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      groups.add(Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
  }

  private var fences = 0

  /** Jobs other than fences started so far. */
  private def jobsSoFar(log: JobLog): Int = {
    fences += 1
    val fence = s"fence-$fences"
    val sc = spark.sparkContext
    sc.setJobGroup(fence, fence)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val t0 = System.currentTimeMillis()
    while (!log.groups.contains(fence)) {
      assert(System.currentTimeMillis() - t0 < 30000L, s"$fence never reached the listener")
      Thread.sleep(10)
    }
    log.groups.asScala.count(g => !g.startsWith("fence-"))
  }

  /** Run `rounds` rounds of x + 1 over 0..15; returns the result, and the
    * rounds after which the state was materialized. */
  private def run(rounds: Int, release: DataFrame*): (DataFrame, Seq[Int]) = {
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    try {
      // jobs seen at the start of each round; the last entry after the loop
      val seen = scala.collection.mutable.ArrayBuffer(jobsSoFar(log))
      val out = Fixpoint.iterate(rounds, release: _*) {
        release.headOption.getOrElse(spark.range(16).toDF("x"))
      } { (s, i) =>
        if (i > 1) seen += jobsSoFar(log)
        s.select((col("x") + 1).as("x"))
      }
      seen += jobsSoFar(log)
      val perRound = seen.zip(seen.tail).map { case (a, b) => b - a }.toSeq
      assert(perRound.forall(_ <= 1), s"more than one job after a round: $perRound")
      (out, perRound.zipWithIndex.collect { case (1, i) => i + 1 })
    } finally spark.sparkContext.removeSparkListener(log)
  }

  private def cached(): DataFrame = spark.range(16).toDF("x").cache()

  test("materializes at multiples of the stride, the last round only when caches are handed over") {
    assert(Fixpoint.Stride == 4)
    for (k <- Seq(0, 1, 3, 4, 5, 8, 9)) {
      val strided = (1 until k).filter(_ % Fixpoint.Stride == 0)
      assert(run(k)._2 == strided, s"k=$k without caches")
      val c = cached()
      assert(run(k, c)._2 == (if (k == 0) Nil else strided :+ k), s"k=$k with caches")
    }
  }

  test("handed-over caches are released on return, and the result still evaluates") {
    for (k <- Seq(1, 4, 6)) {
      val c = cached()
      c.count()
      assert(c.storageLevel != StorageLevel.NONE)
      val (out, _) = run(k, c)
      assert(c.storageLevel == StorageLevel.NONE, s"k=$k: cache not released")
      assert(out.orderBy("x").collect().map(_.getLong(0)).toSeq == (k.toLong until 16L + k))
    }
  }

  test("handed-over caches are released when a round throws") {
    val c = cached()
    c.count()
    val err = intercept[IllegalStateException] {
      Fixpoint.iterate(6, c)(c) { (s, i) =>
        if (i == 5) throw new IllegalStateException("round 5")
        s.select((col("x") + 1).as("x"))
      }
    }
    assert(err.getMessage == "round 5")
    assert(c.storageLevel == StorageLevel.NONE)
  }
}
