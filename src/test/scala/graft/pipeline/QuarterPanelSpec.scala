package graft.pipeline

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobLog, SparkEntry, SparkSuite}

/** The quarter-keyed queries that compute the reference's full-outer join
  * graph run on the one quarterly panel: no join in their executed plans,
  * fewer jobs than the join chain, and the same rows at any shuffle
  * partition count (the panel's `first` relies on no source repeating a
  * quarter, not on how rows reach it).
  */
class QuarterPanelSpec extends AnyFunSuite with SparkSuite with AdaptiveSparkPlanHelper {

  private val dir = s"${sys.props("user.home")}/testdata/sf0.001"

  /** Jobs of q_mart_assembly's noop write at sf0.001 (`local[4]`, 4 shuffle
    * partitions) when it was a chain of five full-outer joins. */
  private val joinChainJobs = 13

  /** The executed plan of `df`'s noop write and the jobs the write ran. */
  private def noopWrite(df: DataFrame): (SparkPlan, Int) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // the execution listener shares the job log's queue: once JobLog's
    // closing fence is seen, the write has reached the listener
    try {
      val (_, jobs) = JobLog.counting(spark.sparkContext)(
        df.write.format("noop").mode("overwrite").save())
      (plans.asScala.toSeq match { case Seq(p) => p }, jobs)
    } finally spark.listenerManager.unregister(listener)
  }

  test("q_mart_assembly, q_join_full_outer and q_null_handling execute with no join") {
    for (q <- Seq("q_mart_assembly", "q_join_full_outer", "q_null_handling")) {
      val (plan, jobs) = noopWrite(SparkEntry.queries(q)(spark, dir))
      assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, s"$q:\n$plan")
      if (q == "q_mart_assembly") assert(jobs < joinChainJobs, s"$q ran $jobs jobs")
    }
  }

  test("q_mart_assembly and Runner.buildMarts give the same rows under 1, 4 and 32 shuffle partitions") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val runs = try Seq(1, 4, 32).map { n =>
      spark.conf.set(key, n.toString)
      val marts = Runner.buildMarts(spark, NplTestKit.fixtureInputs(fixture))
      (SparkEntry.queries("q_mart_assembly")(spark, dir).collect().toSeq,
        marts.map { case (m, df) => m -> df.collect().toSeq })
    } finally spark.conf.set(key, prev)
    assert(runs.head._1.nonEmpty && runs.head._2.values.forall(_.nonEmpty))
    assert(runs.distinct.size == 1)
  }
}
