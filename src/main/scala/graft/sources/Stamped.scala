package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one publish protocol for every directory this engine keeps across
  * runs: stamped artifacts ([[ensure]]), parameter-pinned indexes (band,
  * centroid, PQ, IVF-PQ, sign-band, MIH, group labels, bucketed layouts)
  * and the partitions and versions that ingest loops grow inside them.
  * It is the only code that names the commit marker or opens a parameter
  * sidecar, and it reaches both through the path's own Hadoop FileSystem
  * (a java.io probe would never find them off the local disk).
  *
  * Two write shapes, one commit decision ([[committed]]: the directory
  * holds `_SUCCESS`):
  *
  *   - ROOTS are staged and renamed ([[publish]]). The build writes into a
  *     private `<root>.staging_<8 hex>` sibling; the publisher adds the
  *     parameter sidecar and the root `_SUCCESS` there, re-checks the
  *     root, and publishes with one rename. A reader therefore sees the
  *     previous state or the complete new one, never a half-written root,
  *     and a build that throws leaves neither a root nor its staging dir.
  *     If two builders race, the loser discards its staging copy; both
  *     built the same deterministic content. On the LOCAL filesystem a
  *     rename onto an existing directory does not fail —
  *     RawLocalFileSystem falls back to FileUtil.copy, nesting staging
  *     INSIDE the published root as a non-hidden child that corrupts
  *     every later parquet read — so the loser is detected by re-checking
  *     the marker immediately before the rename, and a post-rename sweep
  *     removes a nested staging child a between-check-and-rename racer
  *     could still produce.
  *   - PARTITIONS and VERSIONS inside a published root (`batch=<id>`,
  *     `_hot/batch=<id>`, `v=<v>`) are written once in place behind their
  *     own `_SUCCESS` ([[writeOnce]]): a staging sibling there would be
  *     discovered as a partition. A crashed write left no marker, so the
  *     re-run overwrites it, and [[versions]] lists only the committed
  *     ones: the version reads of the ingest loops and the `_hot` read of
  *     [[graft.sim.HotKeys]] open exactly those children.
  *
  * A root built from parameters pins them in a sidecar ([[Spec]]): a
  * probe with different parameters fails loudly, because every stored
  * hash or centroid bakes them in and a mismatch is corrupt by
  * construction, not a recall knob.
  *
  * Policy — what gets stamped by [[ensure]]: a derivation is materialized
  * ONLY when two or more queries consume the identical table (the
  * purchase graph, co-purchase pairs, near-dup pairs/groups, exact-Jaccard
  * truth, kNN/retrieval-eval tables, the 3-gram shingle-df table).
  * Single-consumer operator demonstrations (q_minhash_lsh, the inline PQ
  * training chains) stay LIVE so the bench keeps measuring the operator,
  * not a parquet read.
  */
object Stamped {

  private val Marker = "_SUCCESS"

  /** The file system under `path`, from the session's Hadoop conf, so a
    * [[LocalFs.scoped]] write sees [[LocalFs]].
    */
  private def fsOf(s: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(s.sessionState.newHadoopConf()), p)
  }

  /** Whether the directory at `path` is committed. */
  private def committed(s: SparkSession, path: String): Boolean = {
    val (fs, p) = fsOf(s, path)
    fs.exists(new Path(p, Marker))
  }

  /** Write the partition or version directory `dir` inside a root once, in
    * place: skipped when committed, else `write(dir)` runs in
    * [[LocalFs.scoped]] and must end in a committing Spark write (its job
    * commit drops the marker last).
    */
  def writeOnce(s: SparkSession, dir: String)(write: String => Unit): Unit =
    if (!committed(s, dir)) LocalFs.scoped(s, dir)(write(dir))

  /** Write partition `batch=<batchId>` of the published root at `root`
    * once ([[writeOnce]]), under the root's `sub` directory ("" for the
    * root's own data, `_hot/` for an index's hot-key set). The root must
    * be committed: growing an index that was never built is a caller bug.
    * `kind` names the root in that failure.
    */
  def appendOnce(s: SparkSession, root: String, kind: String, batchId: String,
                 sub: String = "")(write: String => Unit): Unit = {
    require(batchId.matches("[A-Za-z0-9_.-]+") && batchId != "base",
      s"batch id '$batchId' must be a plain path token and not the reserved 'base'")
    require(committed(s, root),
      s"cannot append batch '$batchId': no complete $kind at $root")
    writeOnce(s, s"$root/${sub}batch=$batchId")(write)
  }

  /** The version name of a loop's micro-batch: `b`-prefixed and
    * zero-padded, so lexicographic order IS batch order; batch -1 is the
    * bootstrap version `b000000000`.
    */
  def version(batchId: Long): String = f"b${batchId + 1}%09d"

  /** The values of the committed `<key>=<value>` directories under
    * `root`, ascending: the versions (`v=`) of a loop's store, or the
    * batches (`batch=`) of a partitioned one.
    */
  def versions(s: SparkSession, root: String, key: String = "v"): Seq[String] = {
    val (fs, p) = fsOf(s, root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath)
      .filter(v => v.getName.startsWith(s"$key=") && fs.exists(new Path(v, Marker)))
      .map(_.getName.stripPrefix(s"$key="))
      .sorted
  }

  /** A root's parameter sidecar: the file `file` inside the root holds the
    * parameters its content was built with. `want` is the caller's
    * parameters; `accepts` decides whether a stored sidecar serves them
    * (equality unless the stored text also records build-time state).
    * `kind` names the root in failures.
    */
  final case class Spec(kind: String, file: String, want: String)(
      val accepts: String => Boolean = (_: String) == want)

  private def storedSpec(fs: FileSystem, root: Path, spec: Spec): Option[String] = {
    val f = new Path(root, spec.file)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** The sidecar text of the root at `path`, required to exist and to
    * serve `spec` (else an IllegalArgumentException naming both sides).
    */
  def requireSpec(s: SparkSession, path: String, spec: Spec): String = {
    val (fs, root) = fsOf(s, path)
    val stored = storedSpec(fs, root, spec).getOrElse(
      throw new IllegalArgumentException(s"${spec.kind} at $path has no " +
        s"${spec.file} sidecar — not a graft ${spec.kind} (or a pre-sidecar " +
        "layout); rebuild it"))
    require(spec.accepts(stored),
      s"${spec.kind} at $path was built with $stored but probed with " +
        s"${spec.want} — pass the build-time parameters or rebuild the index")
    stored
  }

  /** Publish the root at `path` once. Committed: nothing runs. Otherwise
    * `build` writes the content into the staging directory it is handed.
    */
  def publish(s: SparkSession, path: String)(build: String => Unit): Unit =
    publishOnce(s, path, None) { dir => build(dir); "" }

  /** Publish the parameter-pinned root at `path` once. Committed with its
    * sidecar: the stored parameters must serve `spec` ([[requireSpec]]),
    * and nothing is built. Otherwise (absent, crashed, or pre-sidecar)
    * `build` writes the content into the staging directory it is handed
    * and returns the sidecar text, which is published with it.
    */
  def publish(s: SparkSession, path: String, spec: Spec)
             (build: String => String): Unit =
    publishOnce(s, path, Some(spec))(build)

  /** Delete the root at `path` unless it is committed with a sidecar that
    * serves `spec`: for a cache that rebuilds under new parameters instead
    * of failing (a bucketed layout).
    */
  def withdrawStale(s: SparkSession, path: String, spec: Spec): Unit = {
    val (fs, root) = fsOf(s, path)
    if (!(fs.exists(new Path(root, Marker)) &&
        storedSpec(fs, root, spec).exists(spec.accepts)))
      fs.delete(root, true)
  }

  private def isPublished(fs: FileSystem, root: Path, spec: Option[Spec]): Boolean =
    fs.exists(new Path(root, Marker)) && spec.forall(sp => fs.exists(new Path(root, sp.file)))

  /** A committed root costs one marker (and sidecar) probe. Otherwise the
    * build, the sidecar, the marker and the rename run in
    * [[LocalFs.scoped]].
    */
  private def publishOnce(s: SparkSession, path: String, spec: Option[Spec])
                         (build: String => String): Unit = {
    val (probe, at) = fsOf(s, path)
    if (isPublished(probe, at, spec)) spec.foreach(requireSpec(s, path, _))
    else LocalFs.scoped(s, path) {
      val (fs, root) = fsOf(s, path)
      def published: Boolean = isPublished(fs, root, spec)
      val staging = new Path(
        path + ".staging_" + java.util.UUID.randomUUID().toString.take(8))
      try {
        val text = build(staging.toString)
        spec.foreach { sp =>
          val out = fs.create(new Path(staging, sp.file), true)
          try out.write(text.getBytes("UTF-8")) finally out.close()
        }
        val marker = new Path(staging, Marker)
        if (!fs.exists(marker)) fs.create(marker, true).close()
        // the marker is re-checked immediately before publishing: a racer
        // may have completed while this build ran, and renaming onto its
        // root would NEST rather than fail — the loser must detect the
        // race itself, not from the rename's return value
        if (published) fs.delete(staging, true)
        else {
          // a leftover root without a marker is a crashed write: clear it
          // so the rename can land rather than nest. `published` is
          // re-evaluated here, so a racer publishing since the check above
          // keeps its root.
          if (fs.exists(root) && !published) fs.delete(root, true)
          if (!fs.rename(staging, root)) {
            fs.delete(staging, true)
            if (!published)
              throw new java.io.IOException(
                s"could not publish $path: rename from $staging failed")
          }
          // a racer publishing between the re-check and the rename still
          // nests staging under root — sweep the known child name
          val nested = new Path(root, staging.getName)
          if (fs.exists(nested)) fs.delete(nested, true)
        }
      } catch {
        case e: Throwable =>
          fs.delete(staging, true)
          throw e
      }
    }
  }

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

  /** Build-or-read a stamped parquet artifact: the path is keyed by the
    * stamp of EVERY source table the build reads (regenerating one source
    * without touching the others still misses), published once, and
    * opened through [[Tables.parquet]], so a call that finds it published
    * runs one marker check and no Spark job before the caller's action.
    */
  def ensure(s: SparkSession, dir: String, stampFiles: Seq[String],
             name: String)(build: => DataFrame): DataFrame = {
    require(stampFiles.nonEmpty, "at least one stamp file is required")
    val stamp = stampFiles.map(stampOf(dir, _)).mkString("_")
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val path = s"/tmp/graft_${name}_${tag}_$stamp"
    publish(s, path)(build.write.mode("overwrite").parquet(_))
    Tables.parquet(s, path)
  }
}
