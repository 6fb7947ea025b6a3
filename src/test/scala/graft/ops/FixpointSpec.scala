package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobLog, SparkSuite}

/** The fixpoint materialization policy, read off the jobs it launches: a
  * round body that is one narrow projection launches no job of its own,
  * so every job inside the loop is a `localCheckpoint` of the state.
  */
class FixpointSpec extends AnyFunSuite with SparkSuite {

  /** Run `rounds` rounds of x + 1 over 0..15; returns the result, and the
    * rounds after which the state was materialized. */
  private def run(rounds: Int, release: DataFrame*): (DataFrame, Seq[Int]) = {
    val log = JobLog.attach(spark.sparkContext)
    try {
      // jobs seen at the start of each round; the last entry after the loop
      val seen = scala.collection.mutable.ArrayBuffer(log.jobsSoFar())
      val out = Fixpoint.iterate(rounds, release: _*) {
        release.headOption.getOrElse(spark.range(16).toDF("x"))
      } { (s, i) =>
        if (i > 1) seen += log.jobsSoFar()
        s.select((col("x") + 1).as("x"))
      }
      seen += log.jobsSoFar()
      val perRound = seen.zip(seen.tail).map { case (a, b) => b - a }.toSeq
      assert(perRound.forall(_ <= 1), s"more than one job after a round: $perRound")
      (out, perRound.zipWithIndex.collect { case (1, i) => i + 1 })
    } finally log.close()
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
