package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Reshape, Scalar}

/** Shared inputs, references and helpers of the pipeline specs. */
object NplTestKit {

  /** `Runner.Inputs` over the pipeline fixtures; `fixture` resolves a
    * fixture file name to its path. */
  def fixtureInputs(fixture: String => String): Runner.Inputs = Runner.Inputs(
    nplCsv = fixture("npl_raw_mini.csv"),
    flowrateGrossNewJson = fixture("flowrate_gross_new_npl.json"),
    flowrateGrossJson = fixture("flowrate_gross_npl.json"),
    flowratePctJson = fixture("flowrate_pct_npl.json"),
    gdpPath = fixture("gdp_raw_mini.csv"),
    gdpIsXlsx = false,
    inflationCsv = fixture("inflation_mini.csv"),
    mrrPagesJson = Seq(fixture("mrr_api_2013_01.json"), fixture("mrr_api_2013_02.json")),
    minpayCsv = fixture("minpay.csv"),
    shockCsv = fixture("shock.csv"))

  /** `Npl.nplTransform` as the reference reshapes (src:160-165) and as it
    * was computed before its one projection: the kept columns renamed to
    * `quarter::measure`, stacked, the two header levels split apart and
    * pivoted back with `first`, which keeps one of two rows that repeat a
    * category. The reference the projection must equal; `nCols` defaults
    * to the header's width, as in `nplTransform`.
    */
  def stackPivotNpl(s: SparkSession, path: String, nCols: Option[Int] = None): DataFrame = {
    val hdr = Npl.nplHeader(s, path)
    val width = nCols.getOrElse(hdr.map(_.lastIndexWhere(_.trim.nonEmpty) + 1).max)
    val raw = Npl.rawWithIdx(s, path, width)
    val cells = (r: Int) => (1 until width).map(c => hdr(r).lift(c).getOrElse(""))
    val quarters = cells(0).scanLeft("") { (prev, c) =>
      if (c.trim.nonEmpty) c else prev
    }.tail.map(q => q.trim.replaceAll("\\s*(r1|p1|r|p)$", "")
      .replaceAll("^Q(\\d)/(\\d{4})$", "$2-Q$1"))
    val qm = quarters.zip(cells(1).map(_.trim))
    val body = raw.filter(col("_idx") > 5 &&
      !col("_c0").startsWith("Source") && !col("_c0").startsWith("Remark") &&
      col("_c0").isNotNull && trim(col("_c0")) =!= "")
    val keep = qm.zipWithIndex.collect {
      case ((q, m), i) if m != "% to NPLs" => (s"_c${i + 1}", s"$q::$m")
    }
    val named = keep.foldLeft(body.select(
        (trim(col("_c0")).as("Category") +: keep.map { case (c, _) => col(c) }): _*)) {
      case (d, (old, nw)) => d.withColumnRenamed(old, nw)
    }
    val long = Reshape.unpivotWide(named, Seq("Category"), keep.map(_._2), "qm", "Value")
      .withColumn("Quarter", split(col("qm"), "::").getItem(0))
      .withColumn("Type", split(col("qm"), "::").getItem(1))
    Reshape.pivotLong(long.select("Category", "Quarter", "Type", "Value"),
        Seq("Category", "Quarter"), "Type",
        Seq("NPL Outstanding", "% to Total Loans"), first(col("Value")))
      .withColumn("% to Total Loans", Scalar.pctToRatio(col("% to Total Loans")))
      .withColumn("Gross NPL", Scalar.deComma(col("NPL Outstanding")))
      .drop("NPL Outstanding")
      .withColumn("Total Loan", col("Gross NPL") / col("% to Total Loans"))
  }

  /** The mart assembly as the reference writes it (src:706-728) and as
    * `Npl.assembleMarts` computed it before its shared panel: the common
    * macro panel full-outer-joined on Quarter, then per segment a full
    * outer join with it and with the segment's own series, each mart
    * recomputing every source. The reference the panel marts must equal.
    */
  def joinChainMarts(npl: Map[String, DataFrame], flowrate: DataFrame,
                     gdp: DataFrame, inflation: DataFrame, shock: DataFrame,
                     mrr: DataFrame, minpay: DataFrame): Map[String, DataFrame] = {
    val common = flowrate
      .join(gdp, Seq("Quarter"), "full_outer")
      .join(inflation, Seq("Quarter"), "full_outer")
      .join(shock, Seq("Quarter"), "full_outer")
    Map(
      "housing" -> npl("Housing").join(common, Seq("Quarter"), "full_outer")
        .join(mrr, Seq("Quarter"), "full_outer").orderBy("Quarter"),
      "automobile" -> npl("Automobile").join(common, Seq("Quarter"), "full_outer")
        .orderBy("Quarter"),
      "credit_card" -> npl("Credit Card").join(common, Seq("Quarter"), "full_outer")
        .join(minpay, Seq("Quarter"), "full_outer").orderBy("Quarter"))
  }

  /** The lines of the fixture NPL export `lines` plus a fifth quarter
    * (2014-Q1): each row gains three cells, the body rows their Gross NPL,
    * share and ratio. */
  def fiveQuarterExport(lines: Seq[String]): Seq[String] = {
    val fifth = Map("  Housing loans" -> "\"36,000\",12.4,2.70",
      "  Automobile loans" -> "\"10,300\",3.7,2.00",
      "  Credit Card loans" -> "\"4,000\",1.5,2.62")
    lines.zipWithIndex.map { case (l, i) =>
      val cells =
        if (i == 4) "Q1/2014 r,,"
        else if (i == 5) "NPL Outstanding,% to NPLs,% to Total Loans"
        else if (i < 4 || l.startsWith("Source") || l.startsWith("Remark")) ",,"
        else fifth.getOrElse(l.takeWhile(_ != ','), "\"1,000\",1.0,1.00")
      s"$l,$cells"
    }
  }

  def readLines(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  /** Writes `files` (name -> text) to a temp directory, runs `body` on
    * their paths and deletes them. */
  def withFiles(files: (String, String)*)(body: Seq[String] => Unit): Unit = {
    val dir = Files.createTempDirectory("npl_inputs")
    val paths = files.map { case (name, text) => Files.write(dir.resolve(name), text.getBytes("UTF-8")) }
    try body(paths.map(_.toString))
    finally {
      paths.foreach(Files.delete)
      Files.delete(dir)
    }
  }

  /** The messages of the failure `body` throws, causes included. */
  def failure(body: => Any): String = {
    val e = org.scalatest.Assertions.intercept[Exception](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
  }
}
