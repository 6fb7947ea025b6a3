package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Stamped
import graft.text.Dedup

/** The ingest-dedup loop as a STREAMING sink: a document feed is landed,
  * near-dup'd against everything already ingested, and folded into the
  * corpus's dedup-group labels — continuously, with per-micro-batch cost
  * proportional to the batch and its candidates, never the corpus.
  *
  * The reference pipeline is batch-only (its REST ingest is a manual
  * re-run, src/ETL-NPL-Pipeline.py:271-327); a training-data corpus ingests
  * forever, so the batch artifacts ([[Dedup.ensureBandIndex]]'s growing
  * signature index, [[Dedup.ensureGroupLabels]]' labels) are driven here by
  * Structured Streaming micro-batches through [[Ingest.drain]] — the
  * standard shape for streaming maintenance of transactional batch
  * artifacts: the driver only coordinates; every data pass is a
  * distributed job.
  *
  * Three co-versioned stores, every directory written once
  * ([[Stamped.writeOnce]]) so an at-least-once replay (crash anywhere,
  * restart, even a deleted checkpoint) CONVERGES instead of duplicating:
  *
  *   - doc store   `docsPath/batch=<v>/`   arrivals land once per batch;
  *   - band index  `indexPath/batch=<v>/`  signatures appended after the
  *                                         probe ([[Dedup.ingestPairs]]);
  *   - labels      `labelsPath/v=<v>/`     a label DELTA per version —
  *                                         the touched components + the
  *                                         batch's singletons, committed
  *                                         LAST — the committed version
  *                                         is the batch's overall
  *                                         commit record.
  *
  * The whole step runs inside [[Stamped.writeOnce]] of its label version,
  * so a batch whose version is committed is skipped wholesale; a batch
  * that crashed mid-way (its docs and index partitions landed, its
  * version did not) re-runs against stores whose per-partition guards
  * (and the probe's own-partition prune) make the re-run read-your-own-
  * replay-safe. Versions are `b`-prefixed zero-padded batch ids, so the
  * "latest committed" scan is a lexicographic max over directory names —
  * no driver-side bookkeeping beyond the file listing.
  *
  * The label store is DELTA-VERSIONED (the MVCC-lite every table format
  * uses for exactly this reason): round 8 wrote a FULL labeling per
  * version, which makes every micro-batch pay a corpus-sized write — at
  * 100 TB that is billions of label rows re-written to fold in a
  * thousand-document batch. A version now carries only
  * [[Dedup.incrementalGroupsDelta]]'s touched components plus the
  * batch's singletons; [[labels]] folds base ⊕ deltas with
  * latest-version-wins per id (one groupBy over version-stamped rows —
  * versions are zero-padded, so lexicographic max IS recency). Every
  * [[CompactEvery]]-th batch writes a full snapshot instead (marked
  * [[FullMarker]]), so the read-side fold is bounded at CompactEvery
  * versions; a missing marker only deepens the fold, never corrupts it
  * (the per-id max is idempotent over any suffix of versions that
  * includes a full one).
  *
  * Scale: the per-batch work is |batch| shingling + the (band, bh)
  * equi-join against the index + a candidate-sized verify + a
  * touched-component-sized relabel AND a touched-component-sized label
  * write ([[Dedup.incrementalGroupsDelta]]); the corpus-sized label
  * table is read-folded but never re-written outside compaction points.
  * The full-corpus signature pass happens exactly once, at bootstrap.
  */
object IngestDedup {

  /** LSH + verify parameters of one ingest loop, fixed at bootstrap (the
    * index sidecar rejects a mismatched probe loudly). */
  final case class Params(n: Int = 3, numHashes: Int = 16, bands: Int = 4,
                          verifyThreshold: Double = 0.5)

  private val BaseVersion = Stamped.version(-1)

  /** Version-dir marker naming a FULL label snapshot (vs a delta); the
    * base version is full by construction and needs no marker. */
  val FullMarker = "_graft_full"

  /** Compaction stride: every Nth batch writes a full snapshot, bounding
    * the read-side delta fold at N versions. */
  val CompactEvery = 8

  /** The loop's current labeling: (id, group_id) folded from the latest
    * full snapshot plus every later committed DELTA, latest version
    * winning per id — what a downstream keep-one-per-group read
    * consumes. Zero-padded version strings make the struct max the
    * recency order; the single-version fast path (fresh bootstrap, or a
    * read landing right on a compaction point) is a plain read.
    */
  def labels(s: SparkSession, labelsPath: String): DataFrame = {
    val vs = Stamped.versions(s, labelsPath)
    if (vs.isEmpty)
      throw new IllegalStateException(
        s"no committed label version under $labelsPath — run ensureIngestState first")
    val root = new Path(labelsPath)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def isFull(v: String): Boolean = v == BaseVersion ||
      fs.exists(new Path(root, s"v=$v/$FullMarker"))
    val from = vs.filter(isFull).lastOption.getOrElse(
      throw new IllegalStateException(
        s"label store at $labelsPath has committed delta versions " +
          s"(${vs.mkString(", ")}) but NO full snapshot — the base " +
          s"version $BaseVersion (or a $FullMarker'd compaction) is " +
          "missing or uncommitted; the deltas alone cannot " +
          "reconstruct the labeling"))
    val fold = vs.dropWhile(_ != from)
    if (fold.size == 1) s.read.parquet(s"$labelsPath/v=${fold.head}")
    else fold.map(v =>
        s.read.parquet(s"$labelsPath/v=$v")
          .select(col("id"), col("group_id"), lit(v).as("_v")))
      .reduce(_ union _)
      .groupBy("id")
      .agg(max(struct(col("_v"), col("group_id"))).as("m"))
      .select(col("id"), col("m.group_id").as("group_id"))
  }

  /** Bootstrap the three stores from the base corpus (idempotent; cheap
    * no-op when all three are committed): land `baseDocs` as the doc
    * store's base partition, build the band index from the LANDED copy
    * (the store, not the caller's frame, is the loop's source of truth),
    * and write the base labels as version [[BaseVersion]] — in place,
    * like every version.
    */
  def ensureIngestState(baseDocs: DataFrame, docsPath: String,
                        indexPath: String, labelsPath: String,
                        p: Params): Unit = {
    val s = baseDocs.sparkSession
    val base = s"$docsPath/batch=$BaseVersion"
    Stamped.writeOnce(s, base)(
      baseDocs.select("doc_id", "text").write.mode("overwrite").parquet(_))
    val landed = s.read.parquet(base)
    Dedup.ensureBandIndex(landed, indexPath, p.n, p.numHashes, p.bands)
    Stamped.writeOnce(s, s"$labelsPath/v=$BaseVersion")(
      Dedup.groupLabels(landed, p.n, p.numHashes, p.bands, p.verifyThreshold)
        .write.mode("overwrite").parquet(_))
  }

  /** One micro-batch of the loop, the step [[Ingest.drain]] runs (also
    * the batch-mode entry point for a non-streaming caller with its own
    * batch numbering). Steps: land → probe + grow index → fold labels →
    * commit version.
    */
  def processBatch(batch: DataFrame, batchId: Long, docsPath: String,
                   indexPath: String, labelsPath: String, p: Params): Unit = {
    val s = batch.sparkSession
    val v = Stamped.version(batchId)
    // the version's label dir is the batch's commit record, written last:
    // committed ⇒ every store already holds this batch ⇒ nothing to do
    Stamped.writeOnce(s, s"$labelsPath/v=$v") { out =>
      Stamped.writeOnce(s, s"$docsPath/batch=$v")(
        batch.select("doc_id", "text").write.mode("overwrite").parquet(_))
      // the store's landed copy (not the in-memory micro-batch) feeds the
      // probe: deterministic under replay, and the corpus side of the
      // candidate verify partition-prunes to candidate batches only.
      // `batch <= v` pins the doc universe to this batch's view even if
      // later partitions exist from a pre-crash run that got further.
      val docs = s.read.parquet(docsPath).filter(col("batch") <= v)
        .select("doc_id", "text", "batch")
      val pairs = Dedup.ingestPairs(docs, col("batch") === v, indexPath,
        p.n, p.numHashes, p.bands, p.verifyThreshold, appendBatch = Some(v))
      val prior = labels(s, labelsPath) // committed versions are < v here
      // the version's content is the DELTA: touched components + the
      // batch's singletons (batch ids are new — a committed replay was
      // already skipped above, so none of them carries a prior label)
      val delta = Dedup.incrementalGroupsDelta(prior, pairs.select("doc_a", "doc_b"))
      val withSingles = delta.union(
        docs.filter(col("batch") === v).select(col("doc_id").as("id"))
          .join(delta, Seq("id"), "left_anti")
          .select(col("id"), col("id").as("group_id")))
      if ((batchId + 1) % CompactEvery == 0) {
        // compaction point: fold the delta into a FULL snapshot so reads
        // never stack more than CompactEvery versions
        val d = withSingles.localCheckpoint()
        val full = d.union(prior.join(d.select("id"), Seq("id"), "left_anti"))
        full.write.mode("overwrite").parquet(out)
        val marker = new Path(s"$out/$FullMarker")
        marker.getFileSystem(s.sessionState.newHadoopConf()).create(marker, true).close()
      } else {
        withSingles.write.mode("overwrite").parquet(out)
      }
    }
  }
}
