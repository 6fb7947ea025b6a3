package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobLog, SparkSuite}

/** The extract stages' cost, read off their plans and the jobs they start:
  * building a stage's frame runs no Spark job (no schema inference, no
  * driver-side collect), and the action runs no broadcast join.
  */
class NplExtractSpec extends AnyFunSuite with SparkSuite with AdaptiveSparkPlanHelper {

  private def pages = Seq(fixture("mrr_api_2013_01.json"), fixture("mrr_api_2013_02.json"))

  private def flowrate() = Npl.flowrateTransform(spark, fixture("flowrate_gross_new_npl.json"),
    fixture("flowrate_gross_npl.json"), fixture("flowrate_pct_npl.json"))

  test("constructing each extract stage launches no Spark job") {
    val sc = spark.sparkContext
    val npl = fixture("npl_raw_mini.csv")
    for ((stage, build) <- Seq[(String, () => Any)](
        "nplTransform(s, path)" -> (() => Npl.nplTransform(spark, npl)),
        "nplTransform(s, path, nCols)" -> (() => Npl.nplTransform(spark, npl, 13)),
        "flowrateTransform" -> (() => flowrate()),
        "mrrTransform" -> (() => Npl.mrrTransform(spark, pages))))
      assert(JobLog.counting(sc)(build())._2 == 0, stage)
  }

  test("mrrTransform reads all its pages in one JSON file scan") {
    val dir = Files.createTempDirectory("mrr_pages")
    try {
      // a third page: page 2 moved to May
      val third = dir.resolve("mrr_api_2013_05.json")
      Files.write(third, Files.readString(java.nio.file.Paths.get(pages(1)))
        .replace("2013-02-01", "2013-05-01").replace("2013-04-01", "2013-05-02").getBytes("UTF-8"))
      val all = pages :+ third.toString
      for (n <- 1 to 3) {
        val mrr = Npl.mrrTransform(spark, all.take(n))
        val scans = mrr.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
        assert(scans.size == 1, s"$n pages")
        assert(scans.head.relation.fileFormat.isInstanceOf[JsonFileFormat], s"$n pages")
        assert(scans.head.relation.inputFiles.length == n, s"$n pages")
      }
      val quarters = Npl.mrrTransform(spark, all).select("Quarter").collect().map(_.getString(0))
      assert(quarters.sorted.toSeq == Seq("2013-Q1", "2013-Q2"))
    } finally {
      Files.list(dir).forEach(p => Files.delete(p))
      Files.delete(dir)
    }
  }

  test("mrrTransform's construction runs a job only to list more pages than the threshold") {
    // Spark's file index lists more root paths than this in a Spark job
    val threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    val dir = Files.createTempDirectory("mrr_many")
    try {
      val page = Files.readAllBytes(java.nio.file.Paths.get(pages.head))
      val all = (1 to threshold + 1).map { i =>
        Files.write(dir.resolve(f"mrr_api_$i%03d.json"), page).toString
      }
      val sc = spark.sparkContext
      assert(JobLog.counting(sc)(Npl.mrrTransform(spark, all.take(threshold)))._2 == 0)
      assert(JobLog.counting(sc)(Npl.mrrTransform(spark, all))._2 == 1)
    } finally {
      Files.list(dir).forEach(p => Files.delete(p))
      Files.delete(dir)
    }
  }

  test("flowrateTransform's executed plan has no join and no broadcast") {
    val f = flowrate()
    assert(f.collect().length == 4)
    val joins = collect(f.queryExecution.executedPlan) {
      case j: BaseJoinExec => j.nodeName
      case b: BroadcastExchangeLike => b.nodeName
    }
    assert(joins.isEmpty, joins.mkString(", "))
  }
}
