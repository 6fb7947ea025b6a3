package graft.pipeline

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.pipeline.NplTestKit.{failure, withFiles}

/** Reference-fidelity golden tests (FIXTURES.md B1-B7): miniature raw inputs
  * reproduce the reference's hostile layouts; expected values come from the
  * notebook's committed cell outputs (cells 48-58, 67).
  */
class NplPipelineSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def approx(a: Double, b: Double, tol: Double = 1e-6): Boolean =
    math.abs(a - b) < tol

  private lazy val segments =
    Npl.nplSegments(Npl.nplTransform(spark, fixture("npl_raw_mini.csv")))

  test("B1 npl_transform: Housing 2013-Q1 golden (notebook cell 48)") {
    val h = segments("Housing").orderBy("Quarter")
      .select("Quarter", "% to Total Loans", "Gross NPL", "Total Loan")
      .collect()
    assert(h.length == 4) // 4 quarters survive header/trailer carnage
    val q1 = h.head
    assert(q1.getString(0) == "2013-Q1")
    assert(approx(q1.getDouble(1), 0.0234))
    assert(q1.getLong(2) == 32076L)
    assert(approx(q1.getDouble(3), 32076 / 0.0234, tol = 1e-2))
  }

  test("B1 npl_transform: Credit Card 2013-Q1 golden (notebook cell 50)") {
    val c = segments("Credit Card").orderBy("Quarter").collect().head
    val pct = c.getAs[Double]("% to Total Loans")
    assert(approx(pct, 0.0246))
    assert(c.getAs[Long]("Gross NPL") == 3600L)
    assert(approx(c.getAs[Double]("Total Loan"), 3600 / 0.0246, tol = 1e-2))
  }

  test("B1 npl_transform: Automobile segment (notebook cell 49 analog)") {
    val a = segments("Automobile").orderBy("Quarter").collect().head
    assert(approx(a.getAs[Double]("% to Total Loans"), 0.018))
    assert(a.getAs[Long]("Gross NPL") == 9500L)
    assert(approx(a.getAs[Double]("Total Loan"), 9500 / 0.018, tol = 1e-2))
  }

  test("B1 survives a multi-split scan: _idx is file-order, not partition-local") {
    // a hostile (or just large) CSV can split into many scan partitions;
    // positional header selection must still see file-order ordinals.
    // 64-byte target splits the ~1.5 KB fixture into ~20+ partitions.
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "64")
      val raw = graft.ingest.Normalize.readRawCsv(spark, fixture("npl_raw_mini.csv"), 13)
      assert(raw.rdd.getNumPartitions > 1, "fixture must actually split for this test")
      val h = Npl.nplSegments(Npl.nplTransform(spark, fixture("npl_raw_mini.csv")))("Housing")
        .orderBy("Quarter")
        .select("Quarter", "% to Total Loans", "Gross NPL", "Total Loan").collect()
      assert(h.length == 4)
      assert(h.head.getString(0) == "2013-Q1")
      assert(approx(h.head.getDouble(1), 0.0234))
      assert(h.head.getLong(2) == 32076L)
    } finally spark.conf.set(key, prev)
  }

  test("B1 revision markers are stripped from quarter headers (Q2/2013 p -> 2013-Q2)") {
    val qs = segments("Housing").select("Quarter").as[String].collect().sorted
    assert(qs.toSeq == Seq("2013-Q1", "2013-Q2", "2013-Q3", "2013-Q4"))
  }

  test("Runner.buildMarts reads every quarter of a wider export (5 quarters)") {
    val wide = NplTestKit.fiveQuarterExport(NplTestKit.readLines(fixture("npl_raw_mini.csv")))
    withFiles("npl_raw.csv" -> wide.mkString("", "\n", "\n")) { case Seq(npl) =>
      val marts = Runner.buildMarts(spark, Runner.Inputs(
        nplCsv = npl,
        flowrateGrossNewJson = fixture("flowrate_gross_new_npl.json"),
        flowrateGrossJson = fixture("flowrate_gross_npl.json"),
        flowratePctJson = fixture("flowrate_pct_npl.json"),
        gdpPath = fixture("gdp_raw_mini.csv"), gdpIsXlsx = false,
        inflationCsv = fixture("inflation_mini.csv"),
        mrrPagesJson = Seq(fixture("mrr_api_2013_01.json"), fixture("mrr_api_2013_02.json")),
        minpayCsv = fixture("minpay.csv"),
        shockCsv = fixture("shock.csv")))
      for ((mart, gross, pct) <- Seq(("housing", 36000L, 0.027),
          ("automobile", 10300L, 0.02), ("credit_card", 4000L, 0.0262))) {
        val q5 = marts(mart).filter($"Quarter" === "2014-Q1").collect()
        assert(q5.length == 1, s"$mart lost 2014-Q1")
        val r = q5.head
        assert(r.getAs[Long]("Gross NPL") == gross, mart)
        assert(approx(r.getAs[Double]("% to Total Loans"), pct), mart)
        assert(approx(r.getAs[Double]("Total Loan"), gross / pct, tol = 1e-2), mart)
      }
    }
  }

  test("B2 flowrate: 2013-Q1 golden 0.004217 (notebook cell 52)") {
    val f = Npl.flowrateTransform(spark,
      fixture("flowrate_gross_new_npl.json"),
      fixture("flowrate_gross_npl.json"),
      fixture("flowrate_pct_npl.json")).orderBy("Quarter").collect()
    assert(f.length == 4)
    assert(f.head.getString(0) == "2013-Q1")
    assert(approx(f.head.getDouble(1), 0.004217, tol = 1e-6))
  }

  test("B3 gdp: year fill-down + revision strip, goldens 1995-Q1=0.072 (cell 54)") {
    val g = Npl.gdpTransform(spark, fixture("gdp_raw_mini.csv"))
      .orderBy("Quarter").as[(String, Double)].collect()
    val m = g.toMap
    assert(approx(m("1995-Q1"), 0.072))
    assert(approx(m("1995-Q4"), 0.085))
    // 2025p1 year row strips to 2025; Q2r strips to Q2 and inherits it
    assert(approx(m("2025-Q2"), 0.028))
    assert(!m.contains("1995")) // year header rows dropped by length filter
    assert(g.length == 7)
  }

  test("B4 inflation: quarterly mean of monthly percents, 2016-Q1=-0.004967 (cell 56)") {
    val i = Npl.inflationTransform(spark, fixture("inflation_mini.csv"))
      .orderBy("Quarter").as[(String, Double)].collect()
    assert(i.map(_._1).toSeq == Seq("2016-Q1", "2016-Q2", "2016-Q3"))
    assert(approx(i.head._2, -0.004967, tol = 1e-6))
  }

  test("B5 mrr: paginated union + foreign-branch filter, 2013-Q1=0.086419 (cell 58)") {
    val m = Npl.mrrTransform(spark,
        Seq(fixture("mrr_api_2013_01.json"), fixture("mrr_api_2013_02.json")))
      .orderBy("Quarter").as[(String, Double)].collect().toMap
    assert(approx(m("2013-Q1"), 0.086419, tol = 1e-6))
    assert(approx(m("2013-Q2"), 0.085)) // the april row from page 2
  }

  private def readFixture(name: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(fixture(name))), "UTF-8")

  test("hostile input: an MRR page that is an API error body fails, naming the page") {
    withFiles("mrr_api_error.json" ->
        """{"httpCode": "401", "httpMessage": "Unauthorized", "moreInformation": "Client id not registered."}""") {
      case Seq(bad) =>
        val msg = failure(Npl.mrrTransform(spark, Seq(fixture("mrr_api_2013_01.json"), bad)).collect())
        assert(msg.contains("mrr_api_error.json"), msg)
        assert(msg.contains("result.data.data_detail"), msg)
    }
  }

  test("hostile input: a truncated MRR page fails, naming the page") {
    val page = readFixture("mrr_api_2013_02.json")
    withFiles("mrr_api_truncated.json" -> page.take(page.indexOf("}, {") + 3)) { case Seq(bad) =>
      val msg = failure(Npl.mrrTransform(spark, Seq(fixture("mrr_api_2013_01.json"), bad)).collect())
      assert(msg.contains("mrr_api_truncated.json"), msg)
    }
  }

  test("hostile input: a missing MRR page fails at construction, naming the page") {
    val missing = fixture("mrr_api_2013_01.json").replace("2013_01", "2013_03")
    val msg = failure(Npl.mrrTransform(spark, Seq(fixture("mrr_api_2013_01.json"), missing)))
    assert(msg.contains("mrr_api_2013_03.json"), msg)
  }

  test("hostile input: an empty or blank MRR page fails at construction, naming the page") {
    for (text <- Seq("", " \n\t\n"))
      withFiles("mrr_api_empty.json" -> text) { case Seq(bad) =>
        val msg = failure(Npl.mrrTransform(spark, Seq(fixture("mrr_api_2013_01.json"), bad)))
        assert(msg.contains("mrr_api_empty.json"), msg)
      }
  }

  test("hostile input: an empty observations file fails at construction, naming the file") {
    withFiles("flowrate_empty.json" -> "") { case Seq(bad) =>
      val msg = failure(Npl.flowrateTransform(spark, fixture("flowrate_gross_new_npl.json"),
        bad, fixture("flowrate_pct_npl.json")))
      assert(msg.contains("flowrate_empty.json"), msg)
    }
  }

  test("hostile input: an observations file with no result.series fails, naming the file") {
    withFiles("flowrate_no_series.json" ->
        """{"result": {"timestamp": "2026-02-02 19:23:00", "api": "Observations", "error": "series not found"}}""") {
      case Seq(bad) =>
        val msg = failure(Npl.flowrateTransform(spark, fixture("flowrate_gross_new_npl.json"),
          bad, fixture("flowrate_pct_npl.json")).collect())
        assert(msg.contains("flowrate_no_series.json"), msg)
        assert(msg.contains("result.series"), msg)
    }
  }

  test("hostile input: a flowrate series that repeats a period fails, naming the period") {
    val gross = readFixture("flowrate_gross_npl.json").replace(
      """{"period_start": "2013-Q3", "value": "61200.00"}""",
      """{"period_start": "2013-Q2", "value": "61200.00"}""")
    withFiles("flowrate_gross_repeated.json" -> gross) { case Seq(bad) =>
      val msg = failure(Npl.flowrateTransform(spark, fixture("flowrate_gross_new_npl.json"),
        bad, fixture("flowrate_pct_npl.json")).collect())
      assert(msg.contains("period 2013-Q2 repeats"), msg)
    }
  }

  test("flowrate keeps only the periods all three series have (the inner-join result)") {
    val pct = readFixture("flowrate_pct_npl.json").replace(
      """, {"period_start": "2013-Q4", "value": "2.09"}""", "")
    withFiles("flowrate_pct_short.json" -> pct) { case Seq(short) =>
      val q = Npl.flowrateTransform(spark, fixture("flowrate_gross_new_npl.json"),
        fixture("flowrate_gross_npl.json"), short).select("Quarter").as[String].collect().sorted
      assert(q.toSeq == Seq("2013-Q1", "2013-Q2", "2013-Q3"))
    }
  }

  test("B7 mart assembly: widened key range, coalesced key, NULL gaps (cell 67)") {
    val marts = Npl.assembleMarts(
      segments,
      Npl.flowrateTransform(spark, fixture("flowrate_gross_new_npl.json"),
        fixture("flowrate_gross_npl.json"), fixture("flowrate_pct_npl.json")),
      Npl.gdpTransform(spark, fixture("gdp_raw_mini.csv")),
      Npl.inflationTransform(spark, fixture("inflation_mini.csv")),
      Npl.shockLoad(spark, fixture("shock.csv")),
      Npl.mrrTransform(spark, Seq(fixture("mrr_api_2013_01.json"),
        fixture("mrr_api_2013_02.json"))),
      Npl.minpayTransform(spark, fixture("minpay.csv")))

    val housing = marts("housing").collect()
    // key range = union of all series' quarters: 1995x4 + 2013x4 + 2016x3
    // + 2020-Q3/Q4 + 2024-Q1 + 2025x3 = 17, no duplicate keys
    assert(housing.length == 17)
    assert(housing.map(_.getString(0)).distinct.length == 17)
    assert(marts("housing").columns.length == 9) // Quarter + 8 series (cell 67)
    assert(marts("automobile").columns.length == 8)
    assert(marts("credit_card").columns.length == 9)

    val byQ = housing.map(r => r.getString(0) -> r).toMap
    // fully-populated quarter
    val q1 = byQ("2013-Q1")
    assert(approx(q1.getAs[Double]("% to Total Loans"), 0.0234))
    assert(q1.getAs[Long]("Gross NPL") == 32076L)
    assert(approx(q1.getAs[Double]("Flowrate Ratio"), 0.004217, tol = 1e-6))
    assert(q1.getAs[Long]("Macro Shock Index") == 0L)
    assert(approx(q1.getAs[Double]("MRR"), 0.086419, tol = 1e-6))
    // outer-join gap: 1995 has GDP only
    val g95 = byQ("1995-Q1")
    assert(g95.isNullAt(g95.fieldIndex("% to Total Loans")))
    assert(approx(g95.getAs[Double]("GDP Growth"), 0.072))
    assert(g95.isNullAt(g95.fieldIndex("MRR")))
    // credit_card carries Min Payment incl. its 2020-Q2-only key
    val cc = marts("credit_card").collect().map(r => r.getString(0) -> r).toMap
    assert(cc.contains("2020-Q2"))
    assert(approx(cc("2020-Q2").getAs[Double]("Min Payment"), 0.05))
  }
}
