package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Stamped, Tables}

/** The MONOTONE HOT-KEY store of a capped, append-only index: the keys
  * (named by `keyCols`) whose count over the corpus-so-far exceeds the
  * index's cap, kept under `path/_hot/batch=<id>/` — the base set at build
  * time, then one partition of newly-hot keys per ingested batch.
  * [[SignBandIndex]] keys on (band, bkt), [[MihIndex]] on (half, k); each
  * explodes its own keys and decides what the tallies are used for.
  *
  * The induction that makes it exact: the index is append-only, so a
  * key's count changes only when an arriving batch CONTAINS it. The
  * newly-hot keys of a batch are exactly its own keys whose
  * (corpus-so-far + batch) count crosses the cap ([[tally]], one
  * broadcast-semi-joined corpus scan and a |batch|-key shuffle), and the
  * accumulated set after batch N equals {key : count over base ∪ batches
  * 1..N > cap}, the capped semantics of a full recompute.
  *
  * The store is read through its committed `batch=` children only
  * ([[Stamped.versions]]), with `_hot` as the partition base path: Spark's
  * hidden-path filter drops an underscore directory named as a read path,
  * which logs `All paths were ignored` for every probe even though the
  * listing still finds the data.
  */
final case class HotKeys(keyCols: Seq[String]) {

  private def cols: Seq[Column] = keyCols.map(col)

  /** (keyCols, n): the count of every key in `keyed`, one map-side
    * combinable groupBy. */
  def counts(keyed: DataFrame): DataFrame =
    keyed.groupBy(cols: _*).agg(count(lit(1)).as("n"))

  /** The keys of a (keyCols, n) count frame above `cap`. */
  def over(counted: DataFrame, cap: Long): DataFrame =
    counted.filter(col("n") > cap).select(cols: _*)

  /** (keyCols, n) for every key of the batch: its count in `batchKeys`
    * plus its count in `corpusKeys`. The corpus side is broadcast-semi-
    * joined down to the batch's keys before its count, so no corpus-key
    * shuffle.
    */
  def tally(batchKeys: DataFrame, corpusKeys: DataFrame): DataFrame = {
    val bk = batchKeys.groupBy(cols: _*).agg(count(lit(1)).as("nb"))
    val ck = corpusKeys.join(broadcast(bk.select(cols: _*)), keyCols, "left_semi")
      .groupBy(cols: _*).agg(count(lit(1)).as("nc"))
    bk.join(ck, keyCols, "left")
      .select(cols :+ (col("nb") + coalesce(col("nc"), lit(0L))).as("n"): _*)
  }

  /** Write the base hot set into the index being built at `dir`. */
  def writeBase(dir: String, hot: DataFrame): Unit =
    hot.write.mode("overwrite").parquet(s"$dir/_hot/batch=base")

  /** Append batch `batchId`'s newly-hot keys to the published index at
    * `path` once ([[Stamped.appendOnce]]); `kind` names the index. */
  def append(s: SparkSession, path: String, kind: String, batchId: String,
             fresh: DataFrame): Unit =
    Stamped.appendOnce(s, path, kind, batchId, "_hot/")(
      fresh.write.mode("overwrite").parquet(_))

  /** The accumulated hot set of the index at `path`: every committed
    * batch's keys but `excludeBatch`'s (a replayed batch re-derives its
    * own), distinct-folded — a key crosses the cap once, but a replay may
    * have re-written its partition. The schema comes from the base
    * partition's footer, so the read runs no schema-inference job.
    */
  def read(s: SparkSession, path: String, excludeBatch: Option[String]): DataFrame = {
    val root = s"$path/_hot"
    val dirs = Stamped.versions(s, root, "batch")
      .filterNot(excludeBatch.contains).map(b => s"$root/batch=$b")
    require(dirs.nonEmpty, s"no committed hot-key set under $root")
    s.read.schema(Tables.parquet(s, dirs.head).schema)
      .option("basePath", root).parquet(dirs: _*)
      .select(cols: _*).distinct()
  }
}
