package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.ingest.Normalize

class ReshapeOrderedSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("pivot ∘ unpivot is identity on a complete wide table (src:149-165)") {
    val wide = Seq(("A", 1.0, 2.0), ("B", 3.0, 4.0)).toDF("k", "x", "y")
    val long = Reshape.unpivotWide(wide, Seq("k"), Seq("x", "y"))
    val back = Reshape.pivotLong(long, Seq("k"), "metric", Seq("x", "y"),
      first(col("value"))).orderBy("k")
    assert(back.columns.toSeq == Seq("k", "x", "y"))
    assert(back.as[(String, Double, Double)].collect().toSeq ==
      Seq(("A", 1.0, 2.0), ("B", 3.0, 4.0)))
  }

  test("unpivot emits one row per (id, value column)") {
    val wide = Seq(("A", 1.0, 2.0)).toDF("k", "x", "y")
    val long = Reshape.unpivotWide(wide, Seq("k"), Seq("x", "y")).orderBy("metric")
    assert(long.as[(String, String, Double)].collect().toSeq ==
      Seq(("A", "x", 1.0), ("A", "y", 2.0)))
  }

  test("ffill carries last non-null forward within partition (src:131)") {
    val df = Seq((1L, 1, Some(10.0)), (1L, 2, None), (1L, 3, None), (1L, 4, Some(40.0)),
        (2L, 1, None), (2L, 2, Some(5.0)))
      .toDF("grp", "ord", "v")
    val got = df.withColumn("f", Ordered.ffill($"v", Seq($"grp"), Seq($"ord")))
      .orderBy("grp", "ord").select("f").as[Option[Double]].collect()
    assert(got.toSeq == Seq(Some(10.0), Some(10.0), Some(10.0), Some(40.0), None, Some(5.0)))
  }

  test("carryYear reproduces the imperative year fill-down loop (src:388-404)") {
    // reference semantics, run imperatively as the expected value
    val labels = Seq("1995", "Q1", "Q2", "2025", "Q1", "Q2", "Q3")
    var cur: String = null
    val expected = labels.map { l =>
      if (l.length == 4) { cur = l; cur } else cur
    }
    val df = labels.zipWithIndex.map { case (l, i) => (i, l) }.toDF("ord", "label")
    val got = df.withColumn("y", Ordered.carryYear($"label", Seq($"ord")))
      .orderBy("ord").select("y").as[String].collect()
    assert(got.toSeq == expected)
  }

  test("withOrdinal recovers pandas iloc picks (src:125-126)") {
    val df = (1 to 10).map(i => (i * 100L, s"v$i")).toDF("key", "v")
    val got = Normalize.withOrdinal(df, $"key").filter($"_idx".isin(2, 5, 9))
      .orderBy("_idx").select("v").as[String].collect()
    assert(got.toSeq == Seq("v2", "v5", "v9"))
  }

  test("globalRowIds equals a global row_number without a global sort") {
    // adversarial layout: ids arrive shuffled across many input partitions
    val n = 10000
    val df = spark.createDataset(scala.util.Random.shuffle((1 to n).toVector))
      .repartition(17).toDF("k")
    val got = Ordered.globalRowIds(df, Seq($"k"), "gid", numPartitions = 8)
      .select("k", "gid").as[(Int, Long)].collect().sortBy(_._1)
    // dense 1..n, and gid == rank of k in sorted order
    assert(got.map(_._2).toSeq == (1L to n.toLong))
    assert(got.forall { case (k, gid) => gid == k.toLong })
  }

  test("globalRowIds stays dense when rows collapse into fewer partitions") {
    // fewer distinct keys than partitions: some range partitions are empty,
    // offsets must still prefix-sum correctly
    val df = Seq(5, 3, 9, 1).toDF("k")
    val got = Ordered.globalRowIds(df, Seq($"k"), "gid", numPartitions = 8)
      .select("k", "gid").as[(Int, Long)].collect().sortBy(_._2)
    assert(got.toSeq == Seq((1, 1L), (3, 2L), (5, 3L), (9, 4L)))
  }

  test("prefixSum equals the keyless-window exclusive cumsum without one") {
    val n = 5000
    val rows = scala.util.Random.shuffle((1 to n).toVector).map(i => (i, (i % 7).toLong + 1))
    val df = spark.createDataset(rows).repartition(13).toDF("k", "w")
    val got = Ordered.prefixSum(df, Seq($"k"), $"w", "cum", numPartitions = 8)
      .select("k", "w", "cum").as[(Int, Long, Long)].collect().sortBy(_._1)
    var run = 0L
    got.foreach { case (k, w, cum) =>
      assert(cum == run, s"k=$k")
      run += w
    }
    // first row's exclusive sum is zero; total telescopes to sum of weights
    assert(got.head._3 == 0L && run == rows.map(_._2).sum)
  }

  test("groupedPrefixSum equals the per-group window cumsum without one") {
    // 3 groups × many values shuffled across 13 input partitions, summed
    // over 8 range partitions: per-group inclusive cumsums must match the
    // sequential reference exactly, including groups that span partitions
    val n = 4000
    val rows = scala.util.Random.shuffle((1 to n).toVector)
      .map(i => (s"g${i % 3}", i, (i % 5).toLong + 1))
    val df = spark.createDataset(rows).repartition(13).toDF("g", "k", "w")
    val got = Ordered.groupedPrefixSum(df, Seq("g"), Seq($"k"), $"w", "cum",
        numPartitions = 8)
      .select("g", "k", "w", "cum").as[(String, Int, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(got.keySet == Set("g0", "g1", "g2"))
    got.foreach { case (g, xs) =>
      var run = 0L
      xs.foreach { case (_, k, w, cum) =>
        run += w // inclusive: current row's weight counts
        assert(cum == run, s"group=$g k=$k")
      }
    }
  }

  test("readCsvQuarantine captures malformed rows instead of nulling them") {
    val dir = java.nio.file.Files.createTempDirectory("graft_quarantine")
    java.nio.file.Files.writeString(dir.resolve("data.csv"),
      "k,n\na,1\nb,not_a_number\nc,3\n")
    val df = Normalize.readCsvQuarantine(spark, dir.toString,
      org.apache.spark.sql.types.StructType.fromDDL("k STRING, n INT"))
    // ONE full projection, split downstream: corrupt detection only fires
    // for columns the scan actually parses (CSV column pruning), so the
    // quarantine split must not prune the typed columns away.
    val rows = df.select("k", "n", "_corrupt_record")
      .as[(String, Option[Int], Option[String])].collect().sortBy(_._1)
    val good = rows.collect { case (k, Some(n), None) => (k, n) }
    val bad = rows.collect { case (_, _, Some(raw)) => raw }
    assert(good.toSeq == Seq(("a", 1), ("c", 3)))
    assert(bad.toSeq == Seq("b,not_a_number"))
  }
}
