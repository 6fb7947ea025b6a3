package graft.pipeline

import java.time.LocalDateTime

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

class SinkSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("timestampedDir mirrors the reference's naming (src:769)") {
    val d = Sink.timestampedDir("/tmp/out", "housing",
      LocalDateTime.of(2026, 2, 2, 19, 23))
    assert(d == "/tmp/out/housing_processed_20260202_1923")
  }

  test("csv sink round-trips a dimension-sized mart") {
    val mart = Seq(("2013-Q1", 0.0234), ("2013-Q2", 0.024)).toDF("Quarter", "pct")
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/csv"
    Sink.writeCsv(mart, dir)
    val back = spark.read.option("header", "true")
      .schema("Quarter STRING, pct DOUBLE").csv(dir).orderBy("Quarter")
    assert(back.as[(String, Double)].collect().toSeq ==
      Seq(("2013-Q1", 0.0234), ("2013-Q2", 0.024)))
  }

  test("partitioned sink prunes partitions on read") {
    val df = Seq(("A", "2013-Q1", 1.0), ("A", "2013-Q2", 2.0), ("R", "2013-Q1", 3.0))
      .toDF("seg", "Quarter", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/part"
    Sink.writePartitioned(df, dir, "seg")
    val back = Sink.readPartitioned(spark, dir).filter($"seg" === "A")
    assert(back.count() == 2)
    // the partition filter must reach the scan (directory pruning), not
    // run as a post-scan row filter
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("seg"),
      s"no partition filter in plan:\n$scan")
    assert(new java.io.File(s"$dir/seg=A").exists())
    assert(new java.io.File(s"$dir/seg=R").exists())
  }
}
