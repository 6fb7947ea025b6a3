package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

/** Shared inputs, references and helpers of the pipeline specs. */
object NplTestKit {

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
