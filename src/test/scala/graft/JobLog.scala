package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Records the job group of every job a context starts while the log is
  * attached. A fence job, run in its own group, orders the log: once the
  * fence is seen, every job submitted before it has been seen too (the bus
  * delivers in order).
  */
final class JobLog private (sc: SparkContext) extends SparkListener {
  private val groups = new ConcurrentLinkedQueue[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groups.add(Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))

  /** Jobs other than fences started since the log was attached. */
  def jobsSoFar(): Int = {
    val fence = s"fence-${JobLog.fences.incrementAndGet()}"
    sc.setJobGroup(fence, fence)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val t0 = System.currentTimeMillis()
    while (!groups.contains(fence)) {
      assert(System.currentTimeMillis() - t0 < 30000L, s"$fence never reached the listener")
      Thread.sleep(10)
    }
    groups.asScala.count(g => !g.startsWith("fence-"))
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object JobLog {
  private val fences = new AtomicInteger

  def attach(sc: SparkContext): JobLog = {
    val log = new JobLog(sc)
    sc.addSparkListener(log)
    log
  }

  /** `body`'s result and the number of jobs it started. */
  def counting[T](sc: SparkContext)(body: => T): (T, Int) = {
    val log = attach(sc)
    try {
      val before = log.jobsSoFar()
      val out = body
      (out, log.jobsSoFar() - before)
    } finally log.close()
  }
}
