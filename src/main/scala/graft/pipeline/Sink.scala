package graft.pipeline

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.LocalFs

/** Sinks (SURVEY.md §2.1 S6). The reference writes one timestamped CSV per
  * segment from a driver loop (src/ETL-NPL-Pipeline.py:769-793); at scale
  * the same intent is a single partitioned-parquet write — one job, all
  * segments, directory layout `segment=<v>/` so downstream reads
  * partition-prune instead of re-filtering.
  *
  * Every write runs in [[LocalFs.scoped]] on its target: on the local file
  * system, without native Hadoop libraries, the committer's directories,
  * the part files, their `.crc` files and the commit markers are created
  * without forking `chmod` for each (9 processes per CSV mart, 27 per
  * `Runner.run`, before the scope).
  */
object Sink {

  /** Timestamped run directory, mirroring the reference's
    * `{cate}_processed_{timestamp}.csv` naming (src:769).
    */
  def timestampedDir(base: String, name: String,
                     now: LocalDateTime = LocalDateTime.now()): String =
    s"$base/${name}_processed_${now.format(DateTimeFormatter.ofPattern("yyyyMMdd_HHmm"))}"

  /** Reference-shaped sink: header CSV, one file per call (the reference is
    * single-process; coalesce(1) reproduces its one-file contract for
    * dimension-sized outputs ONLY — never for fact-sized data).
    */
  def writeCsv(df: DataFrame, dir: String): Unit =
    LocalFs.scoped(df.sparkSession, dir) {
      df.coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
    }

  /** Scale-shaped sink: parquet partitioned by low-cardinality columns.
    * Readers filtering on the partition column scan only its directories
    * (partition pruning); no coalesce — parallelism preserved.
    */
  def writePartitioned(df: DataFrame, dir: String, partitionCols: String*): Unit =
    LocalFs.scoped(df.sparkSession, dir) {
      df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(dir)
    }

  /** Read back a partitioned sink (partition columns are reconstructed from
    * the directory layout).
    */
  def readPartitioned(s: SparkSession, dir: String): DataFrame = s.read.parquet(dir)
}
