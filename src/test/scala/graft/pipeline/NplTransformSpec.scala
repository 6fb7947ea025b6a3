package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.pipeline.NplTestKit.{readLines, stackPivotNpl, withFiles}

/** `Npl.nplTransform` reshapes the export with one projection, not the
  * reference's stack -> pivot round trip: it equals the round trip
  * (`NplTestKit.stackPivotNpl`) and runs no aggregate.
  */
class NplTransformSpec extends AnyFunSuite with SparkSuite with AdaptiveSparkPlanHelper {

  /** Same columns (names, types, order) and the same rows, in any order. */
  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType))
    val rows = (df: DataFrame) => df.collect().map(_.toString).sorted.toSeq
    val g = rows(got)
    assert(g == rows(want))
    assert(g.nonEmpty)
  }

  private def lines = readLines(fixture("npl_raw_mini.csv"))

  private def withExport(lines: Seq[String])(body: String => Unit): Unit =
    withFiles("npl_raw.csv" -> lines.mkString("", "\n", "\n")) { case Seq(path) => body(path) }

  test("the projection equals the stack/pivot round trip on the fixture") {
    val path = fixture("npl_raw_mini.csv")
    assertSame(Npl.nplTransform(spark, path), stackPivotNpl(spark, path))
  }

  test("the projection equals the stack/pivot round trip on a 5-quarter export") {
    withExport(NplTestKit.fiveQuarterExport(lines)) { path =>
      val got = Npl.nplTransform(spark, path)
      assertSame(got, stackPivotNpl(spark, path))
      assert(got.filter("Quarter = '2014-Q1'").count() == 5)
    }
  }

  test("the projection equals the stack/pivot round trip on a 64-byte-split scan") {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "64")
      val path = fixture("npl_raw_mini.csv")
      assert(graft.ingest.Normalize.readRawCsv(spark, path, 13).rdd.getNumPartitions > 1)
      assertSame(Npl.nplTransform(spark, path), stackPivotNpl(spark, path))
    } finally spark.conf.set(key, prev)
  }

  test("the projection equals the stack/pivot round trip where a quarter lacks '% to Total Loans'") {
    // blank the 2013-Q3 '% to Total Loans' measure cell (column 9)
    val noPct = lines.updated(5, lines(5).split(",", -1).updated(9, "").mkString(","))
    withExport(noPct) { path =>
      val got = Npl.nplTransform(spark, path)
      assertSame(got, stackPivotNpl(spark, path))
      val q3 = got.filter("Quarter = '2013-Q3'").collect()
      assert(q3.length == 5 && q3.forall(r => r.isNullAt(2) && r.isNullAt(4) && !r.isNullAt(3)))
    }
  }

  test("the projection equals the stack/pivot round trip at an nCols wider than the header") {
    val path = fixture("npl_raw_mini.csv")
    assertSame(Npl.nplTransform(spark, path, 14), stackPivotNpl(spark, path, Some(14)))
  }

  test("hostile input: a quarter with two '% to Total Loans' columns fails, naming it") {
    // relabel the 2013-Q2 '% to NPLs' measure cell (column 5)
    val twice = lines.updated(5, lines(5).split(",", -1).updated(5, "% to Total Loans").mkString(","))
    withExport(twice) { path =>
      val msg = NplTestKit.failure(Npl.nplTransform(spark, path))
      assert(msg.contains("quarter 2013-Q2 has two '% to Total Loans' columns"), msg)
    }
  }

  test("nplTransform's executed plan has no aggregate") {
    val df = Npl.nplTransform(spark, fixture("npl_raw_mini.csv"))
    assert(df.collect().length == 20)
    val aggs = collect(df.queryExecution.executedPlan) { case a: BaseAggregateExec => a }
    assert(aggs.isEmpty, df.queryExecution.executedPlan.treeString)
  }
}
