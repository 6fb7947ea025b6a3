package graft.pipeline

import scala.io.Source

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVExprUtils, CSVOptions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ingest.Normalize
import graft.ops.{Ordered, Scalar}

/** Reference-fidelity recreation of the NPL analytics pipeline
  * (src/ETL-NPL-Pipeline.py) on its own hostile raw layouts — the §3.1-§3.3
  * entry points, validated against the notebook's golden outputs
  * (FIXTURES.md B1-B7).
  *
  * Ingestion normalization (header games, row positions) happens once at the
  * edge; everything after is declarative DataFrame ops, so Catalyst prunes
  * and pushes down — unlike the reference, which materializes eight
  * defensive copies (src:126-429, SURVEY.md §4).
  */
object Npl {

  /** Ordinal-preserving raw CSV read: `_idx` is the 0-based FILE-ORDER
    * ordinal (matching [[graft.sources.Xlsx.readSheetDf]]), contiguous even
    * when the scan splits the file. For a single file, split index follows
    * byte offset and `monotonically_increasing_id` encodes
    * (split << 33 | row-in-split), so ordering by it reproduces file order;
    * `Normalize.withOrdinal`'s row_number then makes the ordinal contiguous
    * (the raw id is not across splits). The un-partitioned window is a
    * single-task sort — correct for ingest-sized header-bearing files
    * (Normalize's scale note), not for large data tables.
    */
  private[pipeline] def rawWithIdx(s: SparkSession, path: String, nCols: Int): DataFrame =
    Normalize.withOrdinal(Normalize.readRawCsv(s, path, nCols),
        monotonically_increasing_id())
      .withColumn("_idx", (col("_idx") - 1).cast("long"))

  /** B1 / §3.1 `npl_transform` (src/ETL-NPL-Pipeline.py:121-191): the BOT
    * Gross-NPL export with merged-cell two-level headers, revision markers,
    * comma-formatted numerics and Source:/Remark: trailer rows -> one clean
    * table per category row, columns
    * (Category, Quarter, % to Total Loans, Gross NPL, Total Loan). The
    * label + measure width runs through the last non-empty cell of the two
    * header rows: one label column plus three measures per quarter, however
    * many quarters the export spans.
    *
    * The header rows are read on the driver, so the reference's stack ->
    * pivot reshape is a projection: no aggregate, no shuffle. Where pandas
    * `pivot` raises on a repeated category, every body row here yields its
    * own rows; a segment category listed twice then fails the marts
    * ([[assembleMarts]]: `mart: quarter <q> repeats`). A repeat of a
    * category no mart reads (`Agriculture`, say) stays unchecked.
    */
  def nplTransform(s: SparkSession, path: String): DataFrame = {
    val hdr = nplHeader(s, path)
    nplFrom(s, path, hdr, hdr.map(_.lastIndexWhere(_.trim.nonEmpty) + 1).max)
  }

  /** [[nplTransform]] at a known label + measure width `nCols`. */
  def nplTransform(s: SparkSession, path: String, nCols: Int): DataFrame =
    nplFrom(s, path, nplHeader(s, path), nCols)

  /** The export's two header rows (rows 4-5, src:125-127), read on the
    * driver through Spark's own CSV settings and blank-line rule, so cells
    * and row numbers are those of the Spark scan: no Spark job. Each of the
    * six preamble rows must be one line; an empty cell reads as "".
    */
  private[pipeline] def nplHeader(s: SparkSession, path: String): Seq[Array[String]] = {
    val opts = new CSVOptions(Map.empty[String, String], false, "UTC")
    val p = new Path(path)
    val src = Source.fromInputStream(
      p.getFileSystem(s.sparkContext.hadoopConfiguration).open(p), "UTF-8")
    val hdr = try CSVExprUtils.filterCommentAndEmpty(src.getLines(), opts).slice(4, 6).toVector
      finally src.close()
    require(hdr.size == 2, s"$path: fewer than 6 rows, no NPL header")
    val parser = new CsvParser(opts.asParserSettings)
    hdr.map(l => parser.parseLine(l).map(c => Option(c).getOrElse("")))
  }

  private def nplFrom(s: SparkSession, path: String, hdr: Seq[Array[String]],
                      nCols: Int): DataFrame = {
    val raw = rawWithIdx(s, path, nCols)
    val cells = (r: Int) => (1 until nCols).map(c => hdr(r).lift(c).getOrElse(""))
    // horizontal ffill of merged quarter labels (src:131), strip revision
    // markers + trim (src:134), reformat Qx/YYYY -> YYYY-Qx (src:63-67,137)
    val quarters = cells(0).scanLeft("") { (prev, c) =>
      if (c.trim.nonEmpty) c else prev
    }.tail.map(q => q.trim.replaceAll("\\s*(r1|p1|r|p)$", "")
      .replaceAll("^Q(\\d)/(\\d{4})$", "$2-Q$1"))
    // (quarter, measure) -> column, keeping only the columns whose measure
    // != '% to NPLs' (mask P4, src:144-145)
    val kept = quarters.zip(cells(1).map(_.trim)).zipWithIndex.collect {
      case ((q, m), i) if m != "% to NPLs" => (q, m) -> col(s"_c${i + 1}")
    }
    // body: category rows only — drop title/trailer rows (src:125-126,152)
    val body = raw.filter(col("_idx") > 5 &&
      !col("_c0").startsWith("Source") && !col("_c0").startsWith("Remark") &&
      col("_c0").isNotNull && trim(col("_c0")) =!= "")
    // the stack (src:160) -> pivot (src:163-165) round trip as one
    // projection: a row per category and quarter with a kept column, each
    // measure's cell or NULL where the export has no such column
    val perQuarter = kept.map(_._1._1).distinct.map { q =>
      def cell(m: String) = kept.collect { case ((`q`, `m`), c) => c } match {
        case Seq() => lit(null).cast("string").as(m)
        case Seq(c) => c.as(m)
        case _ => throw new IllegalArgumentException(s"$path: quarter $q has two '$m' columns")
      }
      struct(lit(q).as("Quarter"), cell("% to Total Loans"), cell("NPL Outstanding"))
    }
    // casts + derived Total Loan (src:169-176)
    body.select(trim(col("_c0")).as("Category"), inline(array(perQuarter: _*)))
      .select(col("Category"), col("Quarter"),
        Scalar.pctToRatio(col("% to Total Loans")).as("% to Total Loans"),
        Scalar.deComma(col("NPL Outstanding")).as("Gross NPL"))
      .withColumn("Total Loan", col("Gross NPL") / col("% to Total Loans"))
  }

  /** Per-segment split by substring match (src:180-189). */
  def nplSegments(all: DataFrame): Map[String, DataFrame] =
    Seq("Housing", "Automobile", "Credit Card").map { seg =>
      seg -> all.filter(col("Category").contains(seg)).drop("Category")
    }.toMap

  /** BOT API payloads (pre-staged JSON files), read as one scan under a
    * declared schema, no inference job. Every leaf is a STRING: the
    * payloads quote their values, and Spark's JSON reader keeps an unquoted
    * scalar's text under StringType, so the casts downstream see the same
    * strings. A file that does not parse fails the action naming the file;
    * an empty one, or one that is not a JSON object, fails here, naming it.
    */
  private def apiPages(s: SparkSession, schema: String, paths: Seq[String]): DataFrame = {
    val pages = s.read.option("multiLine", "true").option("mode", "FAILFAST")
      .schema(StructType.fromDDL(schema)).json(paths: _*)
    paths.foreach(requireObject(s, _))
    pages
  }

  /** Fails, naming `path`, unless the file's first non-blank byte opens a
    * JSON object: the multiLine reader yields no rows, silently, for an
    * empty or blank file (its file index skips a zero-byte one) and for a
    * top-level `[]`. Reads a few bytes on the driver, no Spark job.
    */
  private def requireObject(s: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val in = p.getFileSystem(s.sparkContext.hadoopConfiguration).open(p)
    val first = try Iterator.continually(in.read()).find(b => b < 0 || !" \t\r\n".contains(b.toChar))
      finally in.close()
    require(first.contains('{'.toInt), s"$path: empty or not a JSON object")
  }

  /** The array `c` of an API payload, exploded; a payload without it (an
    * API error body, say) fails the action naming the file, where a plain
    * `explode` of NULL would drop the page's rows.
    */
  private def explodeRequired(c: String): Column =
    explode(coalesce(col(c), raise_error(concat(lit(s"no $c in "), input_file_name()))))

  /** BOT observations payload -> (period_start, value) rows
    * (`observations_bot` JSON path result.series[0].observations, src:106),
    * read by [[apiPages]]; a payload without `result.series`, or a series
    * without `observations`, fails the action naming the file.
    */
  def observations(s: SparkSession, path: String): DataFrame =
    apiPages(s, "result STRUCT<series: ARRAY<STRUCT<" +
        "observations: ARRAY<STRUCT<period_start: STRING, value: STRING>>>>>", Seq(path))
      .select(explodeRequired("result.series").as("ser"))
      .select(explodeRequired("ser.observations").as("obs"))
      .select(col("obs.period_start").as("period_start"), col("obs.value").as("value"))

  /** B2 / §3.2 flowrate (src:200-261): three series, derived Total Loan and
    * Flowrate Ratio. The reference inner-joins the series on period_start;
    * here one aggregate over their union keeps a period only when all three
    * series have it, which is the inner-join result, with no join and so no
    * broadcast table. A series that repeats a period fails the action,
    * naming the period (the join would repeat the row).
    */
  def flowrateTransform(s: SparkSession, grossNewPath: String, grossPath: String,
                        pctPath: String): DataFrame = {
    val series = Seq(grossNewPath -> "Gross New NPL", grossPath -> "Gross NPL",
      pctPath -> "pct_npl")
    // an inner join never matches a NULL period
    val all = series.map { case (path, name) =>
      observations(s, path).filter(col("period_start").isNotNull)
        .select(col("period_start"), lit(name).as("series"), col("value").cast("double").as("value"))
    }.reduce(_.union(_))
    val perSeries = series.flatMap { case (_, name) =>
      val mine = col("series") === name
      Seq(max(when(mine, col("value"))).as(name), count(when(mine, 1)).as(s"n $name"))
    }
    val n = series.map { case (_, name) => col(s"n $name") }
    all.groupBy("period_start").agg(perSeries.head, perSeries.tail: _*)
      .filter(when(greatest(n: _*) > 1, raise_error(concat(
          lit("flowrate: period "), col("period_start"), lit(" repeats"))))
        .otherwise(least(n: _*) > 0))
      .withColumn("Total Loan", col("Gross NPL") / (col("pct_npl") / 100))
      .withColumn("Flowrate Ratio", col("Gross New NPL") / col("Total Loan"))
      .select(trim(col("period_start")).as("Quarter"), col("Flowrate Ratio"))
  }

  /** B3 gdp_transform (src:364-410): positional projection of columns 0 and
    * 11, revision-marker strip, the imperative year fill-down as a window,
    * year-header rows dropped by string length, percent -> ratio.
    */
  def gdpTransform(s: SparkSession, path: String, nCols: Int = 14): DataFrame =
    gdpTransformFrom(rawWithIdx(s, path, nCols))

  /** Same transform over the reference's actual source format — the NESDC
    * Excel workbook (src:48-54,513) — via the JDK-only XLSX reader, which
    * emits the identical `_c0.._cN + _idx` shape.
    */
  def gdpTransformXlsx(s: SparkSession, path: String, sheet: String = "sheet1"): DataFrame =
    gdpTransformFrom(graft.sources.Xlsx.readSheetDf(s, path, sheet))

  /** Core of the GDP transform over any positional raw frame. */
  def gdpTransformFrom(rawAll: DataFrame): DataFrame = {
    val raw = rawAll.filter(col("_idx") >= 4)
    val labeled = raw.select(col("_idx"),
      Scalar.stripRevision(col("_c0")).as("label"),
      col("_c11").as("gdp_raw"))
    labeled
      .withColumn("year", Ordered.carryYear(col("label"), Seq(col("_idx"))))
      .filter(length(col("label")) =!= 4) // drop year header rows (src:407)
      .select(concat(col("year"), lit("-"), col("label")).as("Quarter"),
        Scalar.pctToRatio(col("gdp_raw")).as("GDP Growth"))
  }

  /** B4 inflation_transformation (src:336-355): d/M/yy parse, percent ->
    * ratio, monthly -> quarterly mean.
    */
  def inflationTransform(s: SparkSession, path: String): DataFrame =
    Normalize.readCsv(s, path,
        StructType.fromDDL("`Time` STRING, `Inflation Rate` STRING"))
      .select(Scalar.toQuarter(to_date(col("Time"), "d/M/yy")).as("Quarter"),
        Scalar.pctToRatio(col("Inflation Rate")).as("rate"))
      .groupBy("Quarter").agg(avg(col("rate")).as("Inflation Rate"))

  /** B5 interest_bot + mrr_transformation (src:271-327,420-447): the BOT
    * avg_loan_rate month pages (O3) as one [[apiPages]] scan, data_detail
    * rows (src:326 json_normalize), foreign-branch filter (src:426), daily
    * -> quarterly mean of mrr/100. A page without `result.data.data_detail`
    * fails the action naming the file. Building the frame runs no Spark job
    * for up to `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
    * pages; past it, Spark lists the pages in one job.
    */
  def mrrTransform(s: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "mrrTransform: no MRR pages")
    apiPages(s, "result STRUCT<data: STRUCT<data_detail: ARRAY<STRUCT<" +
        "period: STRING, name_eng: STRING, mrr: STRING>>>>", paths)
      .select(explodeRequired("result.data.data_detail").as("d"))
      .filter(col("d.name_eng") =!= "Average of Foreign Bank Branches")
      .select(Scalar.toQuarter(to_date(col("d.period"), "yyyy-MM-dd")).as("Quarter"),
        Scalar.pctToRatio(col("d.mrr")).as("mrr_ratio"))
      .groupBy("Quarter").agg(avg(col("mrr_ratio")).as("MRR"))
  }

  /** B6 passthrough series (src:560,586,673,682). */
  def minpayTransform(s: SparkSession, path: String): DataFrame =
    Normalize.readCsv(s, path, StructType.fromDDL("`Quarter` STRING, `Min Payment` STRING"))
      .select(col("Quarter"), Scalar.pctToRatio(col("Min Payment")).as("Min Payment"))

  def shockLoad(s: SparkSession, path: String): DataFrame =
    Normalize.readCsv(s, path,
      StructType.fromDDL("`Quarter` STRING, `Macro Shock Index` BIGINT"))

  /** B7 / §3.3 mart assembly (src:706-728): the three segment marts, each
    * its segment, the common macro panel (flowrate, gdp, inflation, shock)
    * and its own series (housing: mrr, credit_card: minpay), full-outer on
    * the coalesced Quarter key, ordered by Quarter.
    *
    * The joins are one [[quarterPanel]] of all nine sources, local-
    * checkpointed once, lazily, so the sources are read once for all three
    * marts: building the marts runs the panel's shuffle stages (so a source
    * whose action fails fails here), the first mart action computes the
    * panel and the others read it.
    */
  def assembleMarts(npl: Map[String, DataFrame], flowrate: DataFrame,
                    gdp: DataFrame, inflation: DataFrame, shock: DataFrame,
                    mrr: DataFrame, minpay: DataFrame): Map[String, DataFrame] = {
    val common = Seq("flowrate" -> flowrate, "gdp" -> gdp, "inflation" -> inflation,
      "shock" -> shock)
    def segment(name: String) = name -> npl(name)
    val marts = Seq(
      "housing" -> (segment("Housing") +: common :+ ("mrr" -> mrr)),
      "automobile" -> (segment("Automobile") +: common),
      "credit_card" -> (segment("Credit Card") +: common :+ ("minpay" -> minpay)))
    val panel = quarterPanel(marts.flatMap(_._2).distinctBy(_._1)).localCheckpoint(eager = false)
    marts.map { case (mart, srcs) => mart -> quarterMart(panel, srcs) }.toMap
  }

  // (mart column, panel column) of each value column of a source
  private def values(src: String, df: DataFrame) =
    df.columns.toSeq.filterNot(_ == "Quarter").map(c => c -> s"$src: $c")
  private def rows(src: String) = s"$src: rows"

  /** The full-outer join of the named `sources` on `Quarter` as one
    * aggregate: every source, tagged, in one union, grouped by Quarter into
    * one panel row with each source's values and row count. A NULL Quarter
    * matches nothing, so each such row keys its own group, as in the join.
    * A source that repeats a quarter fails the panel's action, naming the
    * quarter (the join would repeat the rows, and `first` would keep one).
    */
  private[pipeline] def quarterPanel(sources: Seq[(String, DataFrame)]): DataFrame = {
    val tagged = sources.map { case (src, df) =>
      df.select(col("Quarter") +:
        when(col("Quarter").isNull, struct(lit(src), monotonically_increasing_id())).as("unmatched") +:
        lit(1).as(rows(src)) +:
        values(src, df).map { case (c, p) => col(c).as(p) }: _*)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val perSource = sources.flatMap { case (src, df) =>
      count(col(rows(src))).as(rows(src)) +:
        values(src, df).map { case (_, p) => first(col(p), ignoreNulls = true).as(p) }
    }
    tagged.groupBy("Quarter", "unmatched").agg(perSource.head, perSource.tail: _*)
      .filter(when(greatest(sources.map { case (src, _) => col(rows(src)) }: _*) > 1,
          raise_error(concat(lit("mart: quarter "), col("Quarter"), lit(" repeats"))))
        .otherwise(lit(true)))
  }

  /** The join of `sources`, some of a [[quarterPanel]]'s, read off it: the
    * rows they fill, Quarter and their columns, ordered by Quarter. */
  private[pipeline] def quarterMart(panel: DataFrame, sources: Seq[(String, DataFrame)]): DataFrame =
    panel.filter(sources.map { case (src, _) => col(rows(src)) > 0 }.reduce(_ || _))
      .select(col("Quarter") +: sources.flatMap { case (src, df) =>
        values(src, df).map { case (c, p) => col(p).as(c) } }: _*)
      .orderBy("Quarter")
}
