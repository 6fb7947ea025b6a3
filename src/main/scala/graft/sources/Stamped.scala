package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-or-read stamped parquet artifacts: the repo's materialize-once
  * convention for expensive immutable derivations (edge lists, neighbor
  * tables, band/centroid indexes). The path is keyed by the mtime+length
  * of every source table the derivation reads, the build is
  * `_SUCCESS`-guarded so a crashed write re-runs, and reads after the
  * first call cost one parquet scan — at 100 TB this is the difference
  * between one corpus pass per snapshot and one per query. The artifact
  * is opened through [[Tables.parquet]], so a call that finds it
  * published runs no Spark job before the caller's action.
  *
  * Policy — what gets stamped: a derivation is materialized here ONLY
  * when two or more queries consume the identical table (the purchase
  * graph, co-purchase pairs, near-dup pairs/groups, exact-Jaccard truth,
  * kNN/retrieval-eval tables) or when it is a per-snapshot INDEX BUILD a
  * production deployment would pay once per corpus (the band/centroid/PQ/
  * IVF-PQ index family — their probe paths stay live). Single-consumer
  * operator demonstrations (q_minhash_lsh, the inline PQ training chains)
  * stay LIVE so the bench keeps measuring the operator, not a parquet
  * read — over-stamping would turn the suite into a scan benchmark and
  * hide plan regressions. The 3-gram shingle-df table graduated to
  * stamped in round 10 (verdict ask #7): five consumers
  * (q_ngram_jaccard / q_containment / q_jaccard_prefix and the njpairs /
  * truthpairs builds) share it, and each query's own join+verify
  * pipeline stays live-measured.
  *
  * Concurrency: the build writes to a private staging directory and
  * PUBLISHES with one atomic rename (the HDFS/local-FS commit idiom), so
  * a concurrent reader can never observe a half-written artifact — it
  * either sees the previous complete state (absent → rebuild in its own
  * staging dir) or the complete new one. If two builders race, the
  * rename loser discards its staging copy; both built the same
  * deterministic content. On the LOCAL filesystem a rename onto an
  * existing destination dir does NOT fail — RawLocalFileSystem falls back
  * to FileUtil.copy(deleteSource), nesting staging INSIDE the published
  * root as a non-hidden child that corrupts every later parquet read — so
  * the loser is detected by re-checking `_SUCCESS` immediately before the
  * rename, and a belt-and-braces post-rename sweep removes any nested
  * staging child a between-check-and-rename racer could still produce.
  */
object Stamped {

  /** One source table's contribution to an artifact key: `mtime_length`.
    * A MISSING stamp file must fail loudly — File.lastModified() returns
    * 0 for it, which would collide every snapshot of the dir onto one
    * artifact path. Folding the byte length in catches in-place rewrites
    * that preserve mtime (cp -p / rsync -a restores, same-granularity
    * rewrites), which a bare-mtime key would silently serve stale.
    */
  def stampOf(dir: String, stampFile: String): String = {
    val f = new java.io.File(s"$dir/$stampFile")
    val m = f.lastModified()
    require(m > 0, s"stamp file $dir/$stampFile missing or unreadable — " +
      "a 0 stamp would collide every snapshot onto one artifact path")
    s"${m}_${f.length()}"
  }

  def ensure(s: SparkSession, dir: String, stampFile: String, name: String)
            (build: => DataFrame): DataFrame =
    ensure(s, dir, Seq(stampFile), name)(build)

  /** Multi-source form: the key folds EVERY table the build reads, so
    * regenerating one source without touching the others still misses
    * (the whole-dir-rewritten-together convention is the common case,
    * not a correctness assumption).
    */
  def ensure(s: SparkSession, dir: String, stampFiles: Seq[String],
             name: String)(build: => DataFrame): DataFrame = {
    require(stampFiles.nonEmpty, "at least one stamp file is required")
    val stamp = stampFiles.map(stampOf(dir, _)).mkString("_")
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val path = s"/tmp/graft_${name}_${tag}_$stamp"
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def published: Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(root, "_SUCCESS"))
    if (!published) {
      val staging = new org.apache.hadoop.fs.Path(
        path + ".staging_" + java.util.UUID.randomUUID().toString.take(8))
      build.write.mode("overwrite").parquet(staging.toString)
      // _SUCCESS re-checked immediately before publishing: a racer may
      // have completed while this build ran, and renaming onto its root
      // would NEST rather than fail (local-FS copy fallback) — the loser
      // must detect the race itself, not from the rename's return value
      if (published) {
        fs.delete(staging, true)
      } else {
        // a leftover root without _SUCCESS is a crashed write: clear it
        // so the rename can land rather than nest. The !published conjunct
        // is re-evaluated HERE, not reused from the branch condition: a
        // racer publishing between the branch check and this delete must
        // not have its completed artifact deleted out from under a
        // concurrent reader mid-scan (content-safe either way — builds
        // are deterministic — but the window is free to close).
        if (fs.exists(root) && !published) fs.delete(root, true)
        if (!fs.rename(staging, root)) fs.delete(staging, true)
        // a racer publishing between the re-check and the rename still
        // nests staging under root — sweep the known child name
        val nested = new org.apache.hadoop.fs.Path(root, staging.getName)
        if (fs.exists(nested)) fs.delete(nested, true)
      }
    }
    Tables.parquet(s, path)
  }
}
