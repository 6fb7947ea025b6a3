package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Stamped

/** Bucketed-table layout for co-located joins (BASELINE.json scale
  * directive: "co-locate joins via bucketing or pre-partitioning").
  *
  * Writing both fact tables bucketed+sorted on the join key means a later
  * join reads bucket i against bucket i directly — NO shuffle exchange at
  * query time. On a 100 TB fact-to-fact join the exchange is the dominant
  * cost; bucketing moves it one-time into the write.
  */
object Bucketing {

  /** Sidecar recording the layout the files were ACTUALLY written with —
    * re-registration must never trust the caller's arguments over the
    * on-disk truth (see [[ensureBucketed]]).
    */
  private def specOf(buckets: Int, keyCol: String): Stamped.Spec =
    Stamped.Spec("bucketed layout", "_graft_bucket_spec", s"$buckets\n$keyCol\n")()

  /** Persist `df` as a bucketed, per-bucket-sorted table at `path` and
    * register it as `table`. The files are published once as a root
    * ([[Stamped.publish]]): Spark's bucketed writer runs under a
    * throwaway table name into the staging directory, and `table` is
    * registered over the published layout. A layout already published
    * with the same (buckets, keyCol) is reused; one written with other
    * parameters is replaced.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    buckets: Int, keyCol: String): Unit = {
    val s = df.sparkSession
    val spec = specOf(buckets, keyCol)
    Stamped.withdrawStale(s, path, spec)
    Stamped.publish(s, path, spec) { dir =>
      val staged = "graft_" + dir.replaceAll(".*staging_", "staging_")
      df.write.mode("overwrite")
        .bucketBy(buckets, keyCol).sortBy(keyCol)
        .option("path", dir)
        .format("parquet")
        .saveAsTable(staged)
      s.sql(s"DROP TABLE $staged") // external: the files stay
      spec.want
    }
    s.sql(s"DROP TABLE IF EXISTS $table")
    s.sql(s"CREATE TABLE $table (${df.schema.toDDL}) USING parquet " +
      s"CLUSTERED BY ($keyCol) SORTED BY ($keyCol) INTO $buckets BUCKETS " +
      s"LOCATION '$path'")
  }

  /** Idempotent [[writeBucketed]]: the one-time write is ONE-time — if the
    * session already has the table it is reused as-is, and if only the
    * files survive (a previous session wrote them; the in-memory catalog
    * died with it) the table is re-registered over the existing layout
    * instead of being rewritten. Re-running a bucketed-join query
    * therefore pays the join, not the table build — on a 100 TB fact
    * table the rewrite would dwarf the join it enables.
    *
    * Surviving files are only trusted when the layout was published
    * (a crashed write leaves no root) and its spec sidecar matches the
    * requested (buckets, keyCol): registering an 8-bucket layout under a
    * 16-bucket spec makes Spark's exchange-free join pair bucket i with
    * bucket i while matching rows sit in different files — silently
    * short results, the worst failure mode a layout cache can have. Any
    * mismatch or missing sidecar rebuilds.
    */
  def ensureBucketed(s: SparkSession, df: => DataFrame, table: String,
                     path: String, buckets: Int, keyCol: String): Unit =
    if (!s.catalog.tableExists(table))
      writeBucketed(df, table, path, buckets, keyCol)

  def readTable(s: SparkSession, table: String): DataFrame = s.table(table)
}
