package graft.pipeline

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobLog, SparkSuite}
import graft.pipeline.NplTestKit.{failure, readLines, withFiles}

/** `Npl.assembleMarts` computes the reference's full-outer join chain as
  * one shared panel aggregate: the marts equal the join chain's, a
  * repeated quarter fails instead of multiplying rows, and the mart writes
  * read the panel, not the sources.
  */
class MartAssemblySpec extends AnyFunSuite with SparkSuite with AdaptiveSparkPlanHelper {

  private val martNames = Seq("housing", "automobile", "credit_card")

  /** Both assemblies over the same extract stages. */
  private def marts(nplCsv: String = fixture("npl_raw_mini.csv"),
                    minpayCsv: String = fixture("minpay.csv")) = {
    val args = (Npl.nplSegments(Npl.nplTransform(spark, nplCsv)),
      Npl.flowrateTransform(spark, fixture("flowrate_gross_new_npl.json"),
        fixture("flowrate_gross_npl.json"), fixture("flowrate_pct_npl.json")),
      Npl.gdpTransform(spark, fixture("gdp_raw_mini.csv")),
      Npl.inflationTransform(spark, fixture("inflation_mini.csv")),
      Npl.shockLoad(spark, fixture("shock.csv")),
      Npl.mrrTransform(spark, Seq(fixture("mrr_api_2013_01.json"), fixture("mrr_api_2013_02.json"))),
      Npl.minpayTransform(spark, minpayCsv))
    ((Npl.assembleMarts _).tupled(args), (NplTestKit.joinChainMarts _).tupled(args))
  }

  /** Same columns (names, types, order) and the same rows in the same
    * order. Only NULL Quarters can tie, and tied rows are equal here. */
  private def assertSame(panel: Map[String, DataFrame], joins: Map[String, DataFrame]): Unit = {
    assert(panel.keySet == joins.keySet)
    for (m <- martNames) {
      val (p, j) = (panel(m), joins(m))
      assert(p.schema.map(f => f.name -> f.dataType) == j.schema.map(f => f.name -> f.dataType), m)
      assert(p.collect().toSeq == j.collect().toSeq, m)
    }
  }

  private def tempDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("marts")
    try body(dir)
    finally Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** The bytes of the one CSV part file `Sink.writeCsv` writes to `dir`. */
  private def csvBytes(dir: Path): Seq[Byte] =
    Files.list(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toSeq match { case Seq(part) => Files.readAllBytes(part).toSeq }

  test("the panel marts equal the join chain's on the fixtures, down to the CSV bytes") {
    val (panel, joins) = marts()
    assertSame(panel, joins)
    tempDir { dir =>
      for (m <- martNames) {
        Sink.writeCsv(panel(m), dir.resolve(s"panel_$m").toString)
        Sink.writeCsv(joins(m), dir.resolve(s"joins_$m").toString)
        assert(csvBytes(dir.resolve(s"panel_$m")) == csvBytes(dir.resolve(s"joins_$m")), m)
      }
    }
  }

  test("the panel marts equal the join chain's on a 5-quarter export") {
    val wide = NplTestKit.fiveQuarterExport(readLines(fixture("npl_raw_mini.csv")))
    withFiles("npl_raw.csv" -> wide.mkString("", "\n", "\n")) { case Seq(npl) =>
      val (panel, joins) = marts(nplCsv = npl)
      assertSame(panel, joins)
      assert(panel("housing").filter("Quarter = '2014-Q1'").count() == 1)
    }
  }

  test("NULL-Quarter rows each stay their own row, as in the join chain") {
    // two equal rows with an empty Quarter cell
    val minpay = readLines(fixture("minpay.csv")) ++ Seq(",7", ",7")
    withFiles("minpay.csv" -> minpay.mkString("", "\n", "\n")) { case Seq(path) =>
      val (panel, joins) = marts(minpayCsv = path)
      assertSame(panel, joins)
      val unmatched = panel("credit_card").collect().takeWhile(_.isNullAt(0))
      assert(unmatched.length == 2)
      assert(unmatched.forall(r => math.abs(r.getAs[Double]("Min Payment") - 0.07) < 1e-12))
      assert(panel("housing").filter("Quarter IS NULL").count() == 0)
    }
  }

  test("hostile input: a minpay file that lists a quarter twice fails, naming the quarter") {
    val minpay = readLines(fixture("minpay.csv")) :+ "2013-Q2,12"
    withFiles("minpay.csv" -> minpay.mkString("", "\n", "\n")) { case Seq(path) =>
      val (panel, _) = marts(minpayCsv = path)
      val msg = failure(panel("credit_card").collect())
      assert(msg.contains("mart: quarter 2013-Q2 repeats"), msg)
    }
  }

  test("hostile input: an NPL export with two Housing categories fails, naming a quarter") {
    val lines = readLines(fixture("npl_raw_mini.csv"))
    val housing = lines.find(_.startsWith("  Housing loans")).get
    val twice = lines.flatMap(l =>
      if (l == housing) Seq(l, l.replace("Housing loans", "Housing loans (cooperatives)")) else Seq(l))
    withFiles("npl_raw.csv" -> twice.mkString("", "\n", "\n")) { case Seq(path) =>
      val (panel, _) = marts(nplCsv = path)
      val msg = failure(panel("housing").collect())
      assert("mart: quarter 2013-Q[1-4] repeats".r.findFirstIn(msg).nonEmpty, msg)
    }
  }

  test("hostile input: an NPL export that repeats the Housing row fails, naming a quarter") {
    // the pivot kept one of the two rows (32,076) and silently dropped the other
    val lines = readLines(fixture("npl_raw_mini.csv"))
    val housing = lines.find(_.startsWith("  Housing loans")).get
    val twice = lines.flatMap(l =>
      if (l == housing) Seq(l, l.replace("\"32,076\"", "\"99,999\"")) else Seq(l))
    assert(twice.count(_.contains("99,999")) == 1)
    withFiles("npl_raw.csv" -> twice.mkString("", "\n", "\n")) { case Seq(path) =>
      val (panel, _) = marts(nplCsv = path)
      val msg = failure(panel("housing").collect())
      assert("mart: quarter 2013-Q[1-4] repeats".r.findFirstIn(msg).nonEmpty, msg)
    }
  }

  test("the mart writes read the one panel, never a source file, in equal jobs") {
    val (panel, _) = marts()
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val log = JobLog.attach(spark.sparkContext)
    spark.listenerManager.register(listener)
    try tempDir { dir =>
      // the execution listener shares the job log's queue: once a fence
      // is seen, every earlier write has reached the listener
      val writes = martNames.map { m =>
        val before = log.jobsSoFar()
        plans.clear()
        Sink.writeCsv(panel(m), dir.resolve(m).toString)
        (m, log.jobsSoFar() - before, plans.asScala.toSeq)
      }
      // the first write computes the panel inside its own jobs
      assert(writes.map(_._2).distinct.size == 1, writes.map(w => w._1 -> w._2))
      for ((m, _, ps) <- writes) {
        assert(ps.size == 1, m)
        assert(collect(ps.head) { case s: FileSourceScanExec => s }.isEmpty, m)
        assert(collect(ps.head) { case s: RDDScanExec => s }.size == 1, m)
      }
    } finally {
      spark.listenerManager.unregister(listener)
      log.close()
    }
  }
}
