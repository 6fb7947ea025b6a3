package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{DayOfWeek, LocalDate}

import scala.util.Random

import graft.pipeline.Runner

/** Seeded generator of the ETL pipeline's raw inputs, in the layouts and at
  * the sizes of the reference notebook's sources:
  *
  *  - NPL export: 27 rows x 152 columns — title rows, merged `Qx/YYYY`
  *    headers with `p`/`r` revision markers, comma numerics, a
  *    Source:/Remark: trailer;
  *  - GDP workbook: 168 rows x 14 columns, written as `.xlsx`;
  *  - MRR: 6,332 daily rows (two bank groups per business day) in monthly
  *    JSON pages;
  *  - inflation: 120 monthly rows; flowrate (three series), min-pay and
  *    shock: 50 quarters each.
  *
  * A shorter span keeps every layout and shrinks the quarterly series, the
  * NPL export's width and the MRR pages in proportion.
  *
  * The program under test only receives the files; [[Expected]] keeps what
  * the marts must contain so the run can be checked against it.
  */
object RawInputs {

  /** The reference's span: 50 quarters from 2013-Q1. */
  val ReferenceQuarters = 50
  val Segments: Seq[(String, String)] = Seq(
    "housing" -> "  Housing loans",
    "automobile" -> "  Automobile loans",
    "credit_card" -> "  Credit Card loans")
  private val OtherSectors = Seq("Agriculture", "Mining", "Manufacturing",
    "Electricity", "Construction", "Commerce", "Transport", "Real estate",
    "Hotels", "Finance", "Services", "Public administration", "Education",
    "Health", "Personal consumption", "Other loans")

  /** What the three marts must hold: per segment, the NPL cells of every
    * generated quarter and the full set of quarters across its sources. */
  case class Expected(npl: Map[String, Map[String, (Long, Double)]],
                      quarters: Map[String, Set[String]])

  /** `nplColumns`: the NPL export's label and measure columns, the width
    * `Npl.nplTransform` must read. */
  case class Generated(inputs: Runner.Inputs, nplColumns: Int, expected: Expected)

  private def write(p: Path, text: String): String = {
    Files.write(p, text.getBytes(UTF_8)); p.toString
  }
  private def csvCell(v: String): String =
    if (v.exists(c => c == ',' || c == '"')) "\"" + v.replace("\"", "\"\"") + "\"" else v
  private def csv(rows: Seq[Seq[String]]): String =
    rows.map(_.map(csvCell).mkString(",")).mkString("", "\n", "\n")
  private def marker(r: Random): String = r.nextInt(6) match {
    case 0 => " p"; case 1 => " r"; case 2 => "r1"; case _ => " "
  }
  private def comma(v: Long): String = "%,d".formatLocal(java.util.Locale.ROOT, v)
  private def dec(v: Double, digits: Int): String =
    s"%.${digits}f".formatLocal(java.util.Locale.ROOT, v)
  private def observations(code: String, values: Seq[(String, String)]): String =
    values.map { case (q, v) => s"""{"period_start": "$q", "value": "$v"}""" }
      .mkString(
        s"""{"result": {"timestamp": "2026-02-02 19:23:00", "api": "Observations", "series": [{"series_code": "$code", "observations": [""",
        ", ", "]}]}}\n")

  /** Raw inputs over `quarters` quarters from 2013-Q1 (the quarterly
    * series, the NPL export's width and the MRR pages scale with it; GDP and
    * inflation keep their reference sizes). */
  def generate(seed: Long, dir: Path, quarters: Int = ReferenceQuarters): Generated = {
    Files.createDirectories(dir)
    val r = new Random(seed)
    val NplQuarters = (0 until quarters).map(i => s"${2013 + i / 4}-Q${i % 4 + 1}")

    // NPL: 6 header rows, 19 sector rows, 2 trailer rows; one label column,
    // three measures per quarter and the export's trailing empty column
    val sectors = OtherSectors.take(8) ++ Segments.map(_._2) ++ OtherSectors.drop(8)
    val nplCells = sectors.map { s =>
      s -> NplQuarters.map { _ =>
        val gross = 1000L + r.nextInt(90000)
        (gross, dec(0.5 + r.nextDouble() * 20, 1), dec(0.5 + r.nextDouble() * 5, 2))
      }
    }
    val width = 1 + 3 * NplQuarters.size + 1
    def pad(row: Seq[String]): Seq[String] = row ++ Seq.fill(width - row.size)("")
    val nplRows =
      Seq(pad(Seq("Gross NPLs and ratios by sector")), pad(Seq("(Millions of Baht)")),
        pad(Nil), pad(Seq("Unit: sectoral breakdown")),
        pad("" +: NplQuarters.flatMap { q =>
          val Array(y, qq) = q.split("-")
          Seq(s"$qq/$y${marker(r)}", "", "")
        }),
        pad("Sector" +: NplQuarters.flatMap(_ =>
          Seq("NPL Outstanding", "% to NPLs", "% to Total Loans")))) ++
      nplCells.map { case (s, cells) =>
        pad(s +: cells.flatMap { case (g, share, pct) => Seq(comma(g), share, pct) })
      } ++
      Seq(pad(Seq("Source: Bank of Thailand")),
        pad(Seq("Remark: p = preliminary data r = revised data")))
    val nplCsv = write(dir.resolve("npl_raw.csv"), csv(nplRows))
    val nplExpected = Segments.map { case (seg, label) =>
      seg -> NplQuarters.zip(nplCells.toMap.apply(label)).map {
        case (q, (g, _, pct)) => q -> ((g, pct.toDouble / 100))
      }.toMap
    }.toMap

    // flowrate: three BOT observation series over the same quarters
    def series(code: String, file: String, gen: => Double, digits: Int): String =
      write(dir.resolve(file), observations(code,
        NplQuarters.map(q => q -> dec(gen, digits))))
    val grossNew = series("NPLXA", "flowrate_gross_new.json", 5000 + r.nextDouble() * 20000, 2)
    val gross = series("NPLXB", "flowrate_gross.json", 40000 + r.nextDouble() * 60000, 2)
    val pct = series("NPLXC", "flowrate_pct.json", 1 + r.nextDouble() * 3, 2)

    // GDP workbook: 4 title rows, 32 full years (year row + Q1..Q4) and a
    // partial last year (year row + Q1..Q3); GDP growth is column 11
    val gdpYears = (1993 to 2024).map(_ -> 4) :+ (2025 -> 3)
    def gdpRow(label: String): Seq[String] =
      label +: (1 to 13).map(c => if (c >= 12) "" else dec(r.nextDouble() * 12 - 2, 1))
    val gdpRows = Seq(
      "Table 2.2 Gross Domestic Product Growth Rate" +: Seq.fill(13)(""),
      "National Economic and Social Development Council" +: Seq.fill(13)(""),
      "(percent)" +: Seq.fill(13)(""),
      Seq("Year", "Agriculture", "Mining", "Manufacturing", "Electricity",
        "Construction", "Trade", "Transport", "Finance", "RealEstate", "Admin",
        "GDP", "Note", "Extra")) ++
      gdpYears.flatMap { case (y, n) =>
        gdpRow(if (r.nextInt(4) == 0) s"${y}p1" else y.toString) +:
          (1 to n).map(q => gdpRow(s"Q$q" + (if (r.nextInt(5) == 0) "r" else "")))
      }
    val gdpPath = dir.resolve("gdp.xlsx").toString
    graft.sources.Xlsx.writeSheet(gdpPath, gdpRows)
    val gdpQuarters = gdpYears.flatMap { case (y, n) => (1 to n).map(q => s"$y-Q$q") }

    // inflation: 120 monthly rows from January 2016, d/M/yy dates
    val months = (0 until 120).map(i => LocalDate.of(2016, 1, 1).plusMonths(i))
    val inflationCsv = write(dir.resolve("inflation.csv"), csv(
      Seq("Time", "Inflation Rate") +: months.map(m =>
        Seq(s"1/${m.getMonthValue}/${m.getYear % 100}", dec(r.nextDouble() * 4 - 1, 2)))))
    def quarterOf(d: LocalDate): String = s"${d.getYear}-Q${(d.getMonthValue - 1) / 3 + 1}"

    // MRR: two bank groups per business day, one page per month; the
    // reference's 3,166 days span its 50 quarters
    val days = Iterator.iterate(LocalDate.of(2013, 1, 2))(_.plusDays(1))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
      .take(3166 * quarters / ReferenceQuarters).toSeq
    val mrrPages = days.groupBy(d => (d.getYear, d.getMonthValue)).toSeq.sortBy(_._1).map {
      case ((y, m), ds) =>
        val detail = ds.flatMap { d =>
          Seq("Average of Domestic Registered Banks" -> (6 + r.nextDouble() * 3),
            "Average of Foreign Bank Branches" -> (7 + r.nextDouble() * 3)).map { case (n, v) =>
            s"""{"period": "$d", "name_eng": "$n", "mor": "7.5", "mlr": "7.0", "mrr": "${dec(v, 4)}"}"""
          }
        }
        write(dir.resolve(f"mrr_$y%04d_$m%02d.json"),
          detail.mkString("""{"result": {"api": "AVG_LOAN_RATE", "timestamp": "2026-02-02 19:23:00", "data": {"data_header": {"report_name_eng": "Average Loan Rates"}, "data_detail": [""",
            ", ", "]}}}\n"))
    }

    // passthrough quarterly series
    val minpayCsv = write(dir.resolve("minpay.csv"), csv(
      Seq("Quarter", "Min Payment") +: NplQuarters.map(q => Seq(q, (5 + r.nextInt(6)).toString))))
    val shockCsv = write(dir.resolve("shock.csv"), csv(
      Seq("Quarter", "Macro Shock Index") +: NplQuarters.map(q => Seq(q, r.nextInt(2).toString))))

    val common = NplQuarters.toSet ++ gdpQuarters ++ months.map(quarterOf)
    val inputs = Runner.Inputs(nplCsv, grossNew, gross, pct, gdpPath, gdpIsXlsx = true,
      inflationCsv, mrrPages, minpayCsv, shockCsv)
    Generated(inputs, 1 + 3 * NplQuarters.size, Expected(nplExpected, Map(
      "housing" -> (common ++ days.map(quarterOf)),
      "automobile" -> common,
      "credit_card" -> common)))
  }
}
