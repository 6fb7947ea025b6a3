package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Ingestion normalization — recovers the positional/row-order semantics the
  * reference leans on (pandas `.iloc`, header games; src/ETL-NPL-Pipeline.py
  * :125-157,365-410) on Spark's unordered row model (SURVEY.md §7.4.1).
  *
  * Scale note: [[withOrdinal]] uses an un-partitioned window — a single-task
  * sort. That is the *correct* tool here because positional semantics only
  * ever apply to ingest-sized header-bearing files (the reference's largest
  * is 168 rows); large-table ordinals should come from a keyed
  * `row_number().over(partitionBy(...))` instead.
  */
object Normalize {

  /** Attach a deterministic 1-based ordinal following `order`. */
  def withOrdinal(df: DataFrame, order: Column*): DataFrame =
    df.withColumn("_idx", row_number().over(Window.orderBy(order: _*)))

  /** Header-aware CSV scan (reference `get_csv`, src:34-40) with an explicit
    * schema so types survive the text round-trip.
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** Header-less CSV scan for hostile layouts (headers inside the body,
    * src:125-149): every column arrives as a string `_c0.._cN` plus the
    * ordinal needed for positional slicing. `mode=PERMISSIVE` keeps ragged
    * footnote/Source: rows, like pandas does.
    */
  def readRawCsv(spark: SparkSession, path: String, nCols: Int): DataFrame = {
    val schema = StructType.fromDDL((0 until nCols).map(i => s"_c$i STRING").mkString(", "))
    spark.read.option("header", "false").option("mode", "PERMISSIVE")
      .schema(schema).csv(path)
  }

  /** Schema'd CSV scan that QUARANTINES malformed rows instead of silently
    * nulling them: a row that fails type conversion arrives with its raw
    * line in `_corrupt_record` (and nulls elsewhere). The 100 TB ingest
    * pattern: `_corrupt_record IS NULL` flows into the mart, the rest into
    * a quarantine sink for inspection — no data silently lost, no job
    * killed by one bad line.
    *
    * Spark caveats: (1) a query may not reference ONLY `_corrupt_record`;
    * (2) corruption is only detected for columns the scan actually parses
    * (CSV column pruning) — split good/quarantine from ONE projection that
    * keeps the typed columns, not from two pruned sub-queries.
    */
  def readCsvQuarantine(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .csv(path)

  /** JSON records column -> typed columns (reference `json_normalize` of API
    * payloads, src/ETL-NPL-Pipeline.py:218,326). Explicit schema — never
    * infer on a 100 TB scan.
    */
  def jsonRecords(df: DataFrame, jsonCol: Column, schema: StructType): DataFrame = {
    val parsed = df.withColumn("_rec", from_json(jsonCol, schema))
    schema.fieldNames.foldLeft(parsed)((d, f) => d.withColumn(f, col(s"_rec.$f")))
      .drop("_rec")
  }
}
