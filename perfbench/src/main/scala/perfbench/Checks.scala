package perfbench

import org.apache.spark.sql.SparkSession

/** Invariants of the pipeline's marts on generated inputs: per segment
  * mart, one row per generated quarter, and for every generated NPL quarter
  * the generated Gross NPL and % to Total Loans with
  * Total Loan = Gross NPL / % to Total Loans. */
object Checks {

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  def marts(spark: SparkSession, written: Map[String, String],
            expected: RawInputs.Expected): Seq[String] = {
    val missing = expected.quarters.keySet.diff(written.keySet).toSeq.sorted
      .map(seg => s"$seg: no mart written")
    missing ++ written.toSeq.sortBy(_._1).flatMap { case (seg, dir) =>
      val rows = spark.read.option("header", "true").csv(dir).collect()
      val byQuarter = rows.groupBy(_.getAs[String]("Quarter"))
      val quarterIssues = {
        val dup = byQuarter.collect { case (q, rs) if rs.length > 1 => q }
        val got = byQuarter.keySet
        val want = expected.quarters(seg)
        Seq(
          Option.when(dup.nonEmpty)(s"$seg: ${dup.size} quarters repeated"),
          Option.when(got != want)(
            s"$seg: quarters differ (${want.diff(got).size} missing, ${got.diff(want).size} extra)")
        ).flatten
      }
      def num(r: org.apache.spark.sql.Row, c: String): Option[Double] =
        Option(r.getAs[String](c)).map(_.toDouble)
      val bad = expected.npl(seg).toSeq.sortBy(_._1).filter { case (q, (gross, pct)) =>
        byQuarter.get(q).flatMap(_.headOption) match {
          case None => true
          case Some(r) =>
            val ok = for {
              g <- num(r, "Gross NPL"); p <- num(r, "% to Total Loans"); t <- num(r, "Total Loan")
            } yield close(g, gross.toDouble) && close(p, pct) && close(t, g / p)
            !ok.contains(true)
        }
      }
      quarterIssues ++ Option.when(bad.nonEmpty)(
        s"$seg: ${bad.size}/${expected.npl(seg).size} generated NPL quarters wrong or missing " +
          s"(first ${bad.head._1})")
    }
  }
}
