package graft.sim

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Stamped

/** The INGEST-LOOP form of banded sign-LSH similarity search: a persisted
  * (id, embedding, buckets) index over a vector corpus that arriving
  * batches probe — and grow — at |batch| + |candidates| cost, never
  * re-bucketing or re-scanning-to-shuffle the standing corpus.
  *
  * [[Similarity.semanticMatches]] is the batch-mode primitive (band
  * equi-join + first-shared-band dedup + exact-cosine verify). Its ingest
  * gap is the same one [[MihIndex]] closed for Hamming space: a new media
  * batch had to re-bucket the whole corpus per arrival. This store
  * completes the modality×ingest matrix — text LSH
  * ([[graft.text.Dedup.ensureBandIndex]]), perceptual-hash MIH
  * ([[MihIndex]]), centroid/PQ ([[Similarity.ensureCentroidIndex]] /
  * `ensurePqIndex`), and now the embedding-side near-dup probe:
  *
  *   - the index stores each vector WITH its per-band buckets, laid out
  *     as `path/batch=base/…` plus one `batch=<id>/` partition per
  *     ingested batch — the verify step reads the stored vectors, so a
  *     probe never recomputes a corpus feature;
  *   - a parameter sidecar, published with the index, pins
  *     bands, dim, the RESOLVED plane count, the bucket-df cap, and the
  *     build-time occupancy profile (expected + measured max). The plane
  *     width is frozen at build time from the base-corpus count
  *     ([[Similarity.adaptiveRowsPerBand]] — the adaptive-occupancy
  *     rule): later probes regenerate the identical
  *     [[Similarity.portablePlanes]] from the sidecar instead of
  *     re-deriving a width from a drifted corpus count, exactly how a
  *     production ANN index behaves (occupancy creeps up under appends
  *     until a rebuild re-widens — and the creep is now MEASURABLE: each
  *     probe warns when its keys' corpus counts exceed the rebuild
  *     threshold, and [[rebuildDue]] is the explicit maintenance check);
  *   - the probe is BUCKET-DF-CAPPED ([[Similarity.DefaultMaxBucketDf]]
  *     — the stop-shingle rule in sign space): a (band, bucket) whose
  *     count over corpus-so-far ∪ batch exceeds the cap is the shared
  *     dominant sign pattern, not similarity, and is dropped from the
  *     equi-join. The capped semantics need each key's count over the
  *     whole corpus-so-far, which naively costs a corpus groupBy per
  *     batch — instead the store keeps the MONOTONE HOT SET of
  *     (band, bkt) keys under `path/_hot/batch=…` ([[HotKeys]], shared
  *     with [[MihIndex]]: newly-hot keys come from one
  *     broadcast-semi-joined index scan with a |batch|-key shuffle, and
  *     the accumulated set after batch N equals the full recompute's
  *     hot set over base ∪ batches 1..N). The probe's tallies double as
  *     its creep signal ([[ProbeStats]]);
  *   - appends are written once per batch partition
  *     ([[graft.sources.Stamped.appendOnce]]), and a replayed batch's
  *     partition is pruned out of its own probe.
  *
  * Scale: per batch, the probe side is |batch|·bands slim rows
  * (broadcast under AQE against the index scan), the index side is
  * scanned once map-only (its stored buckets explode in place — no
  * corpus shuffle), candidates are CAPPED-bucket-occupancy-sized
  * (≤ |batch|·bands·cap, linear in the batch by construction), and the
  * verify joins candidates to STORED vectors. Per-batch cost is
  * |batch| + |candidates|, measured by the store:semband_probe scale
  * row (fixed batch, corpus ×10).
  */
object SignBandIndex {

  /** Probe/build parameters: `numPlanes` is the BASE plane request
    * (bands × base-width); the build may widen it adaptively and the
    * sidecar records what was resolved. `maxBucketDf` is the bucket-df
    * stop-key cap — pinned in the sidecar because a capped index probed
    * with a different cap would silently return a DIFFERENT pair set.
    */
  final case class Params(numPlanes: Int = 16, bands: Int = 8, dim: Int = 64,
                          maxBucketDf: Int = Similarity.DefaultMaxBucketDf)

  /** Probes warn (and [[rebuildDue]] fires) when a key's measured count
    * reaches this multiple of the build-time occupancy profile — the
    * frozen-width creep threshold: past it, appends have grown buckets
    * to where the cap starts dropping NORMAL mass, i.e. recall is
    * decaying and a rebuild should re-widen the planes.
    */
  val RebuildOccFactor: Int = 8

  private def specJson(planes: Int, p: Params, expectedOcc: Long,
                       buildMaxOcc: Long): String =
    s"""{"planes":$planes,"bands":${p.bands},"dim":${p.dim},""" +
      s""""maxBucketDf":${p.maxBucketDf},"expectedOcc":$expectedOcc,""" +
      s""""buildMaxOcc":$buildMaxOcc}"""

  /** The sidecar's pinned build state. */
  private final case class Spec(planes: Int, expectedOcc: Long,
                                buildMaxOcc: Long) {
    /** The occupancy a probed key must reach before the store calls for
      * a rebuild: creep-relative (the build's own measured skew is the
      * baseline, not a failure). */
    def rebuildThreshold: Long =
      RebuildOccFactor * math.max(expectedOcc, buildMaxOcc)
  }

  private val SpecText =
    ("""\{"planes":(\d+),"bands":(\d+),"dim":(\d+),""" +
      """"maxBucketDf":(\d+),"expectedOcc":(\d+),"buildMaxOcc":(\d+)\}""").r

  /** The sidecar a probe with `p` accepts: bands, dim and cap equal, and
    * at least the base plane count (the build may have widened it). */
  private def specFor(p: Params): Stamped.Spec =
    Stamped.Spec("sign-band index", "_graft_band_spec",
      s"planes>=${p.numPlanes}/bands=${p.bands}/dim=${p.dim}/" +
        s"maxBucketDf=${p.maxBucketDf}") {
      case SpecText(pl, b, d, c, _, _) =>
        b.toInt == p.bands && d.toInt == p.dim && pl.toInt >= p.numPlanes &&
          c.toInt == p.maxBucketDf
      case _ => false
    }

  /** Validate the sidecar against `p` and return the pinned build state. */
  private def readSpec(s: SparkSession, path: String, p: Params): Spec =
    Stamped.requireSpec(s, path, specFor(p)) match {
      case SpecText(pl, _, _, _, e, mx) => Spec(pl.toInt, e.toLong, mx.toLong)
    }

  /** The index's hot-key store: one key per (band, bucket). */
  private val Hot = HotKeys(Seq("band", "bkt"))

  /** One (band, bkt) row per band of every vector in `df`. */
  private def keys(df: DataFrame): DataFrame =
    df.select(posexplode(col("buckets")).as(Seq("band", "bkt")))

  /** Materialize the banded index of a vector table at `path`
    * (idempotent: a complete index is left untouched). Input: `emb` with
    * (idCol, embedding: array<float> of length dim). The plane width is
    * resolved HERE — from `countForWidth` when the caller knows the
    * corpus the index will ultimately serve (e.g. base ∪ expected
    * arrivals, so the incremental path resolves the SAME width the batch
    * query would), else from the base-corpus count — and frozen in the
    * sidecar, alongside the base occupancy profile the rebuild threshold
    * is derived from. Widening past the base width is logged loudly
    * (static bucket oracles no longer describe the index), exactly like
    * the batch path's resolvePlanes.
    */
  def ensureIndex(emb: DataFrame, idCol: String, path: String,
                  p: Params, countForWidth: Option[Long] = None): Unit = {
    require(p.numPlanes % p.bands == 0,
      s"numPlanes=${p.numPlanes} must be a multiple of bands=${p.bands}")
    require(p.maxBucketDf > 0, s"maxBucketDf=${p.maxBucketDf} must be positive")
    val s = emb.sparkSession
    Stamped.publish(s, path, specFor(p)) { dir =>
      val base = p.numPlanes / p.bands
      val n = countForWidth.getOrElse(emb.count())
      val rows = math.max(base,
        Similarity.adaptiveRowsPerBand(n, base = base))
      if (rows != base)
        System.err.println(s"[graft] adaptive LSH band width $rows bits " +
          s"(base $base) frozen into the sign-band index at $path — " +
          "static bucket oracles do not apply at this corpus size")
      val planes = p.bands * rows
      val pl = Similarity.portablePlanes(planes, p.dim)
      Similarity.withLshBuckets(
          emb.select(col(idCol).as("id"), col("embedding")), pl, p.bands)
        .select(col("id"), col("embedding"), col("buckets"))
        .withColumn("batch", lit("base"))
        .write.mode("overwrite").partitionBy("batch").parquet(dir)
      val stored = s.read.parquet(dir)
      val occ = Hot.counts(keys(stored)).localCheckpoint()
      Hot.writeBase(dir, Hot.over(occ, p.maxBucketDf))
      val buildMaxOcc = {
        val r = occ.agg(max("n")).collect()(0)
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
      val expectedOcc = math.max(1L, stored.count() >> rows)
      specJson(planes, p, expectedOcc, buildMaxOcc)
    }
  }

  /** Explicit maintenance check: has append creep grown the index's
    * bucket occupancy past the rebuild threshold (RebuildOccFactor × the
    * build-time profile)? A full-index groupBy — a deliberate
    * maintenance-time cost, NOT on the probe path (probes watch their
    * own keys' counts instead and warn, see [[ingestMatches]]). True
    * means the frozen width is stale: the cap is beginning to drop
    * normal-mass buckets, so recall is decaying and the index should be
    * rebuilt (re-widened) from the grown corpus.
    */
  def rebuildDue(s: SparkSession, indexPath: String, p: Params): Boolean = {
    val spec = readSpec(s, indexPath, p)
    val r = Hot.counts(keys(s.read.parquet(indexPath))).agg(max("n")).collect()(0)
    !r.isNullAt(0) && r.getLong(0) > spec.rebuildThreshold
  }

  /** The maintenance action [[rebuildDue]] calls for: re-build the index
    * from its OWN grown corpus (base ∪ every ingested batch) at a plane
    * width re-resolved from the grown count — appends fold into the new
    * `batch=base` (a rebuild starts a new snapshot), the hot set and the
    * sidecar's occupancy profile are recomputed at the new width, and
    * the rebuild threshold resets against the fresh profile. One full
    * index scan + one build — the deliberate once-per-maintenance-window
    * cost that keeps every PROBE at |batch| + |candidates| forever.
    */
  def rebuild(s: SparkSession, indexPath: String, p: Params): Unit = {
    readSpec(s, indexPath, p) // refuse to flatten a dir that isn't a band index
    val root = new Path(indexPath)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    // Atomic-publish rebuild (the Stamped.ensure convention): the new
    // index is built into a STAGING path while the old one stays live and
    // durable — the build's lineage reads the old files in place, so no
    // driver-side copy or checkpoint holds the only copy of the data —
    // then swapped in with renames. The v1 delete-then-rewrite left the
    // sole copy of a persisted index in localCheckpoint blocks (gone with
    // the JVM) for the whole rebuild window; now every crash point leaves
    // a complete durable index on disk (old, or old-aside + staging).
    val all = s.read.parquet(indexPath).select("id", "embedding")
    val n = all.count()
    val token = java.util.UUID.randomUUID().toString.take(8)
    val staging = s"$indexPath.rebuild_$token"
    ensureIndex(all, "id", staging, p, countForWidth = Some(n))
    val stagingP = new Path(staging)
    val oldP = new Path(s"$indexPath.old_$token")
    // swap: old aside -> staging in -> drop old. A crash between the
    // renames loses only the published NAME, never a complete index (the
    // staging and old-aside dirs are both published roots); the
    // destination never exists at rename time, so the local-FS
    // rename-onto-existing-dir nesting trap (see Stamped) cannot fire.
    if (!fs.rename(root, oldP))
      throw new java.io.IOException(s"rebuild swap: could not move $root aside")
    if (!fs.rename(stagingP, root)) {
      fs.rename(oldP, root) // restore the old index under its name
      throw new java.io.IOException(
        s"rebuild swap: could not publish $staging -> $root (old restored)")
    }
    fs.delete(oldP, true)
  }

  /** Banded matches of an arriving vector batch against a corpus whose
    * index was persisted by [[ensureIndex]]: the batch is bucketed with
    * the INDEX'S frozen planes (sidecar), hot buckets on BOTH sides are
    * rewritten to per-vector sentinels (the capped semantics — hot =
    * count over corpus-so-far ∪ batch above the pinned cap, maintained
    * monotonically under `_hot/`), the survivors band-equi-join against
    * the stored buckets (first-shared-cool-band dedup — no distinct over
    * the candidate stream), and every candidate is verified with the
    * exact codegen'd cosine against the STORED vector. Per-vector buckets
    * are pure functions of the vector and the frozen planes, so the
    * result provably equals the full-corpus capped
    * [[Similarity.semanticMatches]] over corpus ∪ batch (at the same
    * plane set and cap) restricted to pairs with a batch side —
    * spec-asserted — but the work scales with |batch| + |candidates|,
    * not |corpus|.
    *
    * Returns (query_id, vec_id, sim ≥ threshold): query_id is always the
    * batch side; `includeInternal` adds the batch's own internal matches
    * once each (query_id < vec_id).
    *
    * `appendBatch = Some(id)` CLOSES the loop: the batch's (id, vector,
    * buckets) rows are appended as a `batch=<id>/` partition and its
    * newly-hot keys as `_hot/batch=<id>/` — each written once, and a
    * replayed batch's partitions are pruned out of its own probe
    * (partition-pruned scan — free).
    */
  def ingestMatches(batchEmb: DataFrame, idCol: String, indexPath: String,
                    p: Params, threshold: Double,
                    appendBatch: Option[String] = None,
                    includeInternal: Boolean = false): DataFrame =
    ingestMatchesStats(batchEmb, idCol, indexPath, p, threshold,
      appendBatch, includeInternal)._1

  /** The creep signal a probe computes for free (it already holds its
    * keys' corpus counts): `creep` means some probed key's occupancy has
    * crossed the sidecar's rebuild threshold — the |batch|-cost trigger a
    * maintenance loop watches, with [[rebuildDue]] as the full-index
    * confirmation it runs only when this fires.
    */
  final case class ProbeStats(probeMaxOcc: Long, rebuildThreshold: Long) {
    def creep: Boolean = probeMaxOcc > rebuildThreshold
  }

  /** [[ingestMatches]] plus the probe's [[ProbeStats]] — the form the
    * streaming loop consumes so the maintenance contract (creep →
    * rebuildDue → rebuild) is part of the per-batch story, not a
    * hand-run tool.
    */
  def ingestMatchesStats(batchEmb: DataFrame, idCol: String, indexPath: String,
                         p: Params, threshold: Double,
                         appendBatch: Option[String] = None,
                         includeInternal: Boolean = false): (DataFrame, ProbeStats) = {
    val s = batchEmb.sparkSession
    val spec = readSpec(s, indexPath, p)
    val pl = Similarity.portablePlanes(spec.planes, p.dim)
    val batch = Similarity.withLshBuckets(
        batchEmb.select(col(idCol).as("id"), col("embedding")), pl, p.bands)
      .select(col("id"), col("embedding"), col("buckets"))
      .localCheckpoint()
    val index = appendBatch.foldLeft(s.read.parquet(indexPath)) {
      (ix, id) => ix.filter(col("batch") =!= id)
    }.select("id", "embedding", "buckets")
    // capped semantics count the UNION (corpus-so-far + batch), exactly
    // like the symmetric recompute; a key's count changes ONLY when the
    // batch contains it, so the newly-hot keys are exactly the batch keys
    // crossing the cap now
    val tallies = Hot.tally(keys(batch), keys(index)).localCheckpoint()
    val fresh = Hot.over(tallies, p.maxBucketDf)
    // frozen-width creep watch: the probe already holds its keys' counts,
    // so the rebuild check is free here (the full-index form is
    // [[rebuildDue]])
    val probeMaxOcc = {
      val r = tallies.agg(max("n")).collect()(0)
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    if (probeMaxOcc > spec.rebuildThreshold)
      System.err.println(s"[graft] sign-band index at $indexPath has " +
        s"bucket occupancy $probeMaxOcc > rebuild threshold " +
        s"${spec.rebuildThreshold} (build profile: expected " +
        s"${spec.expectedOcc}, max ${spec.buildMaxOcc}) — append creep has " +
        "outgrown the frozen plane width; rebuild to re-widen before the " +
        "cap erodes recall")
    val hot = Hot.read(s, indexPath, appendBatch).union(fresh)
      .distinct().localCheckpoint()
    val batchCool = Similarity.applyHotBuckets(batch, "id", p.bands, hot)
    val indexCool = Similarity.applyHotBuckets(index, "id", p.bands, hot)
    def exploded(df: DataFrame): DataFrame =
      df.select(col("id"), col("embedding"), col("buckets"),
        posexplode(col("buckets")).as(Seq("band", "bkt")))
        .filter(col("bkt") >= 0)
    // the q side is ALWAYS the arriving batch — bounded by the loop's
    // contract — so it broadcasts explicitly: the index side then stays
    // a map-only scan at any corpus size, never crossing into an
    // all-shuffle regime at some growth threshold
    def matched(q: DataFrame, c: DataFrame, canonical: Boolean): DataFrame = {
      val idCond: Column =
        if (canonical) col("q.id") < col("c.id") else col("q.id") =!= col("c.id")
      broadcast(exploded(q)).as("q")
        .join(exploded(c).as("c"),
          col("q.band") === col("c.band") && col("q.bkt") === col("c.bkt") && idCond)
        .filter(Similarity.firstSharedBand("q", "c", p.bands))
        .select(col("q.id").as("query_id"), col("c.id").as("vec_id"),
          graft.functions.Vectors.cosineSim(s, "q.embedding", "c.embedding")
            .as("sim"))
        .filter(col("sim") >= threshold)
    }
    val mixed = matched(batchCool, indexCool, canonical = false)
    val all =
      if (!includeInternal) mixed
      else mixed.union(matched(batchCool, batchCool, canonical = true))
    // candidates materialized eagerly — NOW the index may grow; a lazy
    // return could otherwise race its own append
    val out = all.localCheckpoint()
    appendBatch.foreach { id =>
      Hot.append(s, indexPath, "sign-band index", id, fresh)
      Stamped.appendOnce(s, indexPath, "sign-band index", id)(
        batch.write.mode("overwrite").parquet(_))
    }
    (out, ProbeStats(probeMaxOcc, spec.rebuildThreshold))
  }
}
