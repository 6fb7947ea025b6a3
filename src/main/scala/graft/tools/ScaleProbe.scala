package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.{Stamped, Tables}

/** Scale-proportionality probe: run the heavy dedup/graph family at two
  * scale factors and measure how runtime and SHUFFLE-WRITE BYTES grow.
  * Every plan audit so far argued linearity from shape (banded candidates,
  * bounded df caps, fixed iteration counts); this turns each claim into a
  * measured fact — a quadratic candidate blowup that an sf0.1-only bench
  * hides shows up here as a bytes ratio far above the data-growth factor.
  *
  * Linearity rule ([[ScaleProbe.isLinear]]): bytesBig ≤ growth × slack ×
  * bytesSmall + allowance. The slack absorbs the benign super-linear
  * residue a LINEAR operator legitimately shows (CC's O(log n) rounds,
  * per-partition constant factors); the absolute allowance absorbs plan
  * TRANSITIONS at tiny scale — a join that broadcasts at the small SF and
  * shuffles at the big one jumps from ~0 bytes, which is a threshold
  * crossing, not a complexity class. A true quadratic grows bytes by
  * growth² (100× at 10×) and clears both guards.
  *
  * Usage: runMain graft.tools.ScaleProbe [sfSmall sfBig outJson [query..]]
  * Defaults: sf0.01 vs sf0.1 → SCALE_r06.json, heavy family. Exit 1 if
  * any query breaks the linearity rule (the committed artifact is the
  * round's scale gate). ScaleSpec runs the same rule at sf0.001/sf0.01
  * inside `sbt test`.
  */
object ScaleProbe {

  /** The expensive tail: inverted-index/banded dedup, connected
    * components, and the iterative graph family — the queries whose
    * 100-TB story depends on candidate sets staying linear.
    */
  val HeavyFamily: Seq[String] = Seq(
    "q_ngram_jaccard", "q_jaccard_prefix", "q_minhash_lsh",
    "q_dedup_groups", "q_pagerank", "q_bfs_hops", "q_triangles",
    // round-6 additions over the documents table (the embeddings table is
    // fixed-size across SFs, so the ANN family can't be probed this way):
    // winnowing's window pass and the sampler's two-level prefix sum both
    // claim doc-linear behavior — measure them like the rest; the winnowed
    // pair join claims its df cap keeps candidates linear, and the BPE
    // trainer claims vocab-bounded rounds.
    "q_winnow", "q_weighted_sample", "q_winnow_pairs", "q_bpe_merges",
    // round-6 mining additions: the wedge join (claims the support cap
    // bounds wedges), the double dedup pipeline of the recall eval, the
    // per-block sorted-neighborhood pass, the token-explode perplexity,
    // both new fixed-point graph iterations, the x7 window explode, and
    // the CC-plus-provenance report — every one claims linear candidates.
    "q_adamic_adar", "q_near_dup_eval", "q_sorted_blocking", "q_perplexity",
    "q_hits", "q_ppr", "q_rolling_active", "q_dup_rate_by_source",
    // round-7: the banded perceptual-hash join — the one operator this
    // round whose first design DID blow up at 10× (8-bit band keys:
    // 3.5M candidates / 236 s at sf0.1; 16-bit keys + packed verify:
    // 190k / 2.1 s) — probed so a key-width regression is gate-caught.
    "q_image_dedup",
    // round-8 (verdict asks #1 and #5): the three un-scale-gated bench
    // movers (band self-join, gram joins) and the new banded
    // audio-fingerprint join (14k candidates / 1.5 s at sf0.1, measured
    // pre-ship per the q_image_dedup lesson).
    "q_simhash", "q_dup_spans", "q_containment", "q_audio_dedup",
    // round-8 additions: the char-24-gram count join (claims combinable
    // count + equi-join keep the corpus char stream linear) and the
    // benchmark-probe band join (claims adaptive-width bucketing keeps
    // candidates linear even with a corpus-proportional benchmark set)
    "q_exact_substr", "q_sem_decontaminate",
    // the exact-frame-fingerprint containment join (claims the content
    // hash, unlike the pad-degenerate perceptual key, stays linear)
    "q_video_dedup",
    // the remaining un-gated bench-tail members (all ≥3 s in-suite):
    // two purchase-graph fixed-point iterations and the capped triple
    // mining — gate them so a regression is caught like the rest
    "q_label_prop", "q_cheapest_path", "q_freq_triples",
    // round-9: the per-frame perceptual MIH match (claims blank-frame
    // exclusion + MIH keep candidates linear) and the offset-recall
    // measurement (claims the exact-word join stays linear)
    "q_video_dedup_lossy", "q_audio_offset_recall",
    // round-9 (verdict ask #3): the last un-gated ≥3.5 s bench-tail
    // member takes the standard row (its two-level weighted selection
    // claims doc-linear behavior); the ingest LOOPS get the store-aware
    // rows below instead — their standard row would conflate batch and
    // corpus growth
    "q_weighted_median",
    // round-10: the semantic-media banded join (claims the adaptive band
    // width keeps sibling-probe candidates linear)
    "q_media_dedup_semantic")

  /** The compressed-vector family (round-7 ask #4): PQ/IVF-PQ encode+
    * search, the exact kNN self-join, and the Lloyd iteration — the 100-TB
    * ANN flagship path. Probed separately because these read the
    * `embeddings` table, which the driver sizes on its own scale (500 rows
    * at sf0.01 → 2000 at sf0.1 = 4× growth, vs 10× for the TPC-H/document
    * tables) — measuring them against growth=10 would hide a quadratic
    * inside the slack. A brute-force pair blowup grows bytes by growth²
    * (16× at 4×) and fails the same rule.
    */
  val VectorFamily: Seq[String] = Seq(
    "q_ann_pq_batch", "q_ann_ivfpq", "q_knn_join", "q_kmeans_lloyd",
    "q_pq_incremental")

  /** The stamped-artifact BUILDS (round-7): once a derived table is
    * materialized per snapshot, its consumers read parquet and the scale
    * cost moves into the one-time build — so the builds themselves are
    * probed FRESH (raw derivation, no stamp read) at both SFs. These are
    * exactly the corpus passes a 100-TB deployment pays per snapshot.
    */
  import org.apache.spark.sql.DataFrame
  val BuildFamily: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "build:purchase_graph" -> ((s, d) => graft.sources.GraphTables.purchaseGraphFrom(
      Tables.table(s, d, "lineitem"), Tables.table(s, d, "orders"))),
    "build:copurchase_pairs" -> ((s, d) => graft.sources.GraphTables.basketPairsFrom(
      Tables.table(s, d, "lineitem"))),
    // round-10 (verdict ask #7): the shared shingle-df table is now the
    // stamped corpus pass feeding the whole set-similarity family — gate
    // the build itself (tokenize + df count + annotate join) like every
    // other once-per-snapshot corpus pass
    "build:shingledf" -> ((s, d) => graft.text.Dedup.shingleDf(
      Tables.table(s, d, "documents"), n = 3)),
    "build:njpairs" -> ((s, d) => graft.text.Dedup.ngramJaccardPairs(
      Tables.table(s, d, "documents"), n = 3, threshold = 0.5)
      .select("doc_a", "doc_b")),
    // round-11 (verdict ask #5's pre-named lever): the verified LSH pair
    // set at the canonical operating point is now a stamped artifact
    // (EntryHelpers.lshPairsT05) shared by its eval consumers — probe the
    // FULL fresh derivation (tokenize + signatures + band join + verify)
    // like every other once-per-snapshot corpus pass
    "build:lshpairs" -> ((s, d) => graft.text.Dedup.minhashLshPairsPortable(
      Tables.table(s, d, "documents"), n = 3, numHashes = 16,
      bands = 4, verifyThreshold = 0.5)),
    // round-11: q_audio_offset_recall's hop-1 subfingerprint extraction
    // (the suite's former bench ceiling) is now a stamped per-snapshot
    // artifact — probe the raw per-sample word pass fresh so the decode
    // term stays scale-gated like build:shingledf covers the tokenize
    "build:audiowords" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      graft.multimodal.Audio.subfingerprintWords(s,
          graft.entry.TextSimQueries.audioOffsetCorpus(s, d), win = 32, hop = 1)
        .select(expr("doc_id div 512").as("doc"),
          pmod(col("doc_id"), lit(512L)).cast("int").as("off"), col("word"))
        .distinct()
    }),
    // round-12 (verdict ask #4): the semantic-media BoVW features + their
    // hot-key occupancy profile are now stamped snapshot artifacts shared
    // by the three semband queries — probe the raw decode + aggregate +
    // occupancy derivation fresh so the once-per-snapshot cost stays
    // scale-gated now that the queries no longer pay it
    "build:semfeat" -> ((s, d) => graft.sim.Similarity.hotBuckets(
      graft.multimodal.Media.bovwFeatures(
        s, graft.entry.TextSimQueries.mediaSemCorpus(s, d)),
      numPlanes = 32, bands = 8)),
    "build:njgroups" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val pairs = graft.text.Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5)
        .select("doc_a", "doc_b")
      graft.text.Dedup.dedupGroups(docs, pairs, "doc_id")
    }),
    "build:truthpairs" -> ((s, d) => graft.text.Dedup.jaccardPrefixPairs(
      Tables.table(s, d, "documents"), n = 3,
      thresholdNum = 1, thresholdDen = 2).select("doc_a", "doc_b")),
    "build:knn_top5" -> ((s, d) => graft.sim.Similarity.annTopkBatch(
      s, Tables.table(s, d, "embeddings"),
      queryPred = org.apache.spark.sql.functions.lit(true), k = 5)),
    "build:embpairs" -> ((s, d) => graft.sim.Similarity.nearDupPairsBanded(
      s, Tables.table(s, d, "embeddings"), threshold = 0.4)),
    // round-8: q_ann_ivfpq's training moved onto the stamped-index
    // machinery (verdict ask #2) — probe the FULL build (coarse Lloyd +
    // residual codebooks + corpus encode) fresh so the once-per-snapshot
    // cost stays scale-gated now that the query no longer pays it
    "build:ivfpq_index" -> ((s, d) => {
      val (_, _, codes, _) = graft.sim.Similarity.ivfPqTrain(
        Tables.table(s, d, "embeddings"),
        coarseK = 8, m = 8, k = 8, iters = 2)
      codes
    }))

  /** Embeddings-backed builds step on the embeddings table's own growth. */
  private val EmbeddingBuilds =
    Set("build:knn_top5", "build:embpairs", "build:ivfpq_index")

  /** Store-aware probes (round-8 verdict ask #3): the incremental-ingest
    * loops (q_dedup_incremental / q_dedup_multibatch / q_ingest_stream /
    * q_groups_incremental) claim per-batch cost proportional to
    * |batch| + |candidates| — INDEPENDENT of the standing corpus
    * (streaming/IngestDedup.scala scale note). The standard sf-pair row
    * cannot test that claim: both the corpus AND the batch grow with the
    * SF, so corpus-proportional cost masquerades as batch-proportional.
    * These rows fix the batch (sf0.01's doc_id ≡ 4 mod 5 slice, ids
    * offset into a disjoint range) and grow ONLY the corpus 10× — the
    * bootstraps (band index, prior labels, probe-pair artifact) are
    * stamped, so the measured pass pays the per-batch phase alone. The
    * gate runs at growth = 1: fixed batch ⇒ near-flat cost, with the
    * slack + allowance absorbing the candidate term (a fixed batch meets
    * ~10× more same-bucket corpus docs in a 10× corpus — candidates are
    * part of the claimed cost, and stay kilobyte-scale here).
    */
  private val StoreBatchOffset = 900000000L

  /** The fixed 100-doc arriving batch: lightly-perturbed copies of the
    * CORPUS's 100 lowest-id docs (one char appended per doc), ids offset
    * into a disjoint range. Deriving the batch from the target corpus —
    * not from a fixed external slice — guarantees the probe finds real
    * near-dup candidates at EVERY corpus size (first cut: an sf0.01
    * batch shares no text with the sf0.1 corpus, so the big side's
    * verify term measured zero rows), while the batch SIZE stays fixed,
    * which is the whole point of the row. The 100 lowest ids exist in
    * both corpora (the sf dirs nest), so the batch workload is
    * comparable across sides.
    */
  private def storeBatch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.table(s, dir, "documents")
      .orderBy("doc_id").limit(100)
      .select((col("doc_id") + StoreBatchOffset).as("doc_id"),
        concat(col("text"), lit(" zbatch")).as("text"))
  }
  private def storeIdx(dir: String): String = {
    val stamp = graft.sources.Stamped.stampOf(dir, "documents.parquet")
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    s"/tmp/graft_store_band_index_${tag}_n3h16b4_$stamp"
  }
  private def storeLabels(dir: String): String = {
    val stamp = graft.sources.Stamped.stampOf(dir, "documents.parquet")
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    s"/tmp/graft_store_prior_labels_${tag}_n3h16b4t50_$stamp"
  }
  private def storeMih(dir: String): String = {
    val stamp = graft.sources.Stamped.stampOf(dir, "documents.parquet")
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val cap = graft.sim.Hamming.ImageMaxKeyDf
    s"/tmp/graft_store_mih_index_${tag}_h3c${cap}_$stamp"
  }
  private def storeSemBand(dir: String): String = {
    val stamp = graft.sources.Stamped.stampOf(dir, "documents.parquet")
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val cap = graft.sim.Similarity.DefaultMaxBucketDf
    s"/tmp/graft_store_semband_index_${tag}_p32b8c${cap}_$stamp"
  }

  /** Per-row gate growth for the store rows (round-9 verdict ask #4 —
    * decompose the probe claim instead of letting one slack-padded row
    * cover two different terms): the per-batch cost is
    * BATCH TERM (sign/band/hash the fixed batch — must be FLAT, gated at
    * growth 1 with the tight allowance) + CANDIDATE TERM (the verify over
    * index hits — occupancy-driven, at a fixed batch its ceiling is
    * LINEAR IN THE CORPUS, so the combined probe rows gate at the corpus
    * growth factor 10). r9 gated the combined probe at growth 1 and
    * measured ×2.21 — passing only through the 2.5 slack, which would
    * read as a failure at ×100 even though the candidate term is behaving
    * exactly as designed. The relabel row keeps growth 1: its claim
    * really is corpus-independence (touched components only).
    */
  val StoreGrowth: Map[String, Double] = Map(
    "store:ingest_sign" -> 1.0,
    "store:ingest_probe" -> 10.0,
    "store:ingest_relabel" -> 1.0,
    "store:mih_probe" -> 10.0,
    "store:semband_probe" -> 10.0)

  val StoreFamily: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // the BATCH TERM in isolation: shingle + sign + band the fixed batch
    // (exactly the work incrementalLshPairs spends before touching the
    // index) — corpus-independent by construction, gated FLAT
    "store:ingest_sign" -> ((s, d) =>
      graft.text.Dedup.portableBanded(
        graft.text.Dedup.shingleSet(storeBatch(s, d), n = 3),
        numHashes = 16, bands = 4)),
    // the probe phase every loop shares: fixed batch signs itself and
    // equi-joins the PRE-BUILT index; cost claim = |batch| + |candidates|
    "store:ingest_probe" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val corpus = Tables.table(s, d, "documents").select("doc_id", "text")
      graft.text.Dedup.ensureBandIndex(corpus, storeIdx(d), n = 3,
        numHashes = 16, bands = 4)
      graft.text.Dedup.incrementalLshPairs(corpus.union(storeBatch(s, d)),
        col("doc_id") >= StoreBatchOffset, storeIdx(d), n = 3,
        numHashes = 16, bands = 4, verifyThreshold = 0.5)
    }),
    // the relabel phase AS THE LOOP NOW RUNS IT (delta label store):
    // fold the fixed batch's pair set into the PRE-BUILT corpus labels
    // via incrementalGroupsDelta — the touched-component DELTA a version
    // write persists; cost claim = touched components only (the corpus
    // label table is semi-joined, never re-written)
    "store:ingest_relabel" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val corpus = Tables.table(s, d, "documents").select("doc_id", "text")
      graft.text.Dedup.ensureBandIndex(corpus, storeIdx(d), n = 3,
        numHashes = 16, bands = 4)
      graft.text.Dedup.ensureGroupLabels(corpus, storeLabels(d), n = 3,
        numHashes = 16, bands = 4, verifyThreshold = 0.5)
      val pairs = graft.sources.Stamped.ensure(s, d, "documents.parquet",
        "store_probe_pairs_v2") {
        graft.text.Dedup.ingestPairs(corpus.union(storeBatch(s, d)),
          col("doc_id") >= StoreBatchOffset, storeIdx(d), n = 3,
          numHashes = 16, bands = 4, verifyThreshold = 0.5)
          .select("doc_a", "doc_b")
      }
      graft.text.Dedup.incrementalGroupsDelta(
        s.read.parquet(storeLabels(d)), pairs)
    }),
    // the MIH ingest loop's probe (round-9 verdict ask #1's scale row):
    // a fixed 100-image batch — perturbed phash halves of the corpus's
    // 100 lowest-id docs (h2 low bits flipped: planted Hamming-2
    // neighbors exist at EVERY corpus size), ids offset disjoint —
    // probes the PRE-BUILT per-snapshot MIH index; cost claim =
    // |batch|·66 probe keys + identical-half-class candidates
    "store:mih_probe" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val p = graft.sim.MihIndex.Params(
        maxKeyDf = Some(graft.sim.Hamming.ImageMaxKeyDf))
      graft.sim.MihIndex.ensureIndex(
        graft.multimodal.Media.imagePhash(
            s, Tables.table(s, d, "documents"))
          .select("doc_id", "h1", "h2"),
        "doc_id", storeMih(d), p)
      val batch = graft.multimodal.Media.imagePhash(s,
          Tables.table(s, d, "documents").orderBy("doc_id").limit(100))
        .select((col("doc_id") + StoreBatchOffset).as("doc_id"),
          col("h1"), col("h2").bitwiseXOR(lit(3L)).as("h2"))
      graft.sim.MihIndex.ingestNearPairs(batch, "doc_id", storeMih(d), p)
    }),
    // the sign-band (semantic media) ingest loop's probe (round-10): a
    // fixed 100-doc batch — the storeBatch perturbed copies, whose BoVW
    // features sit at near-1 cosine to their sources at EVERY corpus
    // size — bucketed with the index's frozen planes and verified
    // against the PRE-BUILT per-snapshot index; cost claim =
    // |batch|·bands probe rows + bucket-occupancy candidates
    "store:semband_probe" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents").select("doc_id", "text")
      val p = graft.sim.SignBandIndex.Params(numPlanes = 32, bands = 8)
      graft.sim.SignBandIndex.ensureIndex(
        graft.multimodal.Media.bovwFeatures(s, docs), "vec_id",
        storeSemBand(d), p)
      graft.sim.SignBandIndex.ingestMatches(
        graft.multimodal.Media.bovwFeatures(s, storeBatch(s, d)), "vec_id",
        storeSemBand(d), p, threshold = 0.6)
    }))

  /** Per-index-family occupancy-skew rows (round-10 verdict ask #4): key
    * saturation has bitten three rounds running (r8 phash banding, r9
    * video frame atoms, r10 BoVW buckets) and was caught by a HAND-RUN
    * diagnostic each time. These rows put the key distribution itself in
    * the standing gate. For every banded index family the probe builds
    * the (key → occupancy) profile at sf-big and at the ×10 synthetic
    * decade and gates the NORMALIZED candidate-pair mass
    *
    *   np = Σ eff·(eff−1)/2 / (rows · max(1, expectedOcc))
    *
    * where eff drops buckets past the family's bucket-df cap (the mass
    * the pair join actually pays — a capped family's hot keys are
    * dropped, not clamped) and the denominator removes the adaptive
    * width's staircase (uniform occupancy → np ≈ 0.5 at ANY corpus
    * size; a raw pair-mass rule would sit exactly at the proportional
    * bound on the healthy staircase). Gate: np_big ≤ slack × np_small
    * + 0.5, measured at sf-big → ×10 AND (for the vector-sign families
    * plus MIH, where the r10 rot only surfaced at ×100) ×10 → ×100.
    *
    * Division of labor, measured honestly: this row catches the KEY-
    * SATURATION class (r8 phash banding, r9 video frame atoms — a
    * degenerate shared key drives np ∝ n, ratio ≈ growth ≫ slack). It
    * does NOT catch QUERY-SIDE CONCENTRATION: r10's BoVW corpus profile
    * reads np 0.53 → 0.56 → 1.14 across the three decades (ratio ≤ 2.03,
    * under slack) even though the QUERY's bytes blew ×62, because the
    * planted siblings — shortened by the resize — concentrate in the hot
    * buckets far above the corpus average, and a corpus-level profile
    * cannot see a query-side marginal. That class is what the
    * [[decadeEscalates]] auto-escalation rule exists for; the two gates
    * are complements, not substitutes. The raw max/p99/expected
    * occupancies are recorded per row for the round-over-round profile
    * (media BoVW max/expected measured this round: ×1.9 at sf0.1, ×2.2
    * at ×10, ×26.6 at ×100 — the widening splits only random mass).
    */
  val SkewSlack: Double = 2.5
  val SkewAllowanceNp: Double = 0.5

  /** (row name, bucket-df cap if the family's probe caps, occupancy
    * profile builder → one (…key…, n) row per occupied bucket).
    */
  val SkewFamilies: Seq[(String, Option[Int], (SparkSession, String) => DataFrame)] = {
    import org.apache.spark.sql.functions._
    def bandOcc(feat0: DataFrame, bands: Int, baseBits: Int): DataFrame = {
      val feat = feat0.localCheckpoint()
      val n = feat.count()
      val bits = math.max(baseBits,
        graft.sim.Similarity.adaptiveRowsPerBand(n, base = baseBits))
      val pl = graft.sim.Similarity.portablePlanes(bands * bits, 64)
      graft.sim.Similarity.withLshBuckets(feat, pl, bands)
        .select(posexplode(col("buckets")).as(Seq("band", "bkt")))
        .groupBy("band", "bkt").agg(count(lit(1)).as("n"))
        .withColumn("expected", lit(math.max(1L, n >> bits)))
    }
    Seq(
      // the semantic-media probe's BoVW buckets at the query's exact
      // operating point (corpus ∪ planted siblings, 8 bands, 4-bit base)
      ("skew:semband_media", Some(graft.sim.Similarity.DefaultMaxBucketDf),
        (s: SparkSession, d: String) => bandOcc(
          graft.multimodal.Media.bovwFeatures(
            s, graft.entry.TextSimQueries.mediaSemCorpus(s, d)),
          bands = 8, baseBits = 4)),
      // the q_sem_decontaminate probe's sign buckets over REAL embeddings
      // (round-10 ask #3: the allowance-masked decade row, now under a
      // standing distributional gate instead of a presumption)
      ("skew:semband_emb", Some(graft.sim.Similarity.DefaultMaxBucketDf),
        (s: SparkSession, d: String) => bandOcc(
          Tables.table(s, d, "embeddings")
            .select("vec_id", "embedding"),
          bands = 8, baseBits = 2)),
      // MIH half-keys over the image phash table (32-bit halves: the
      // r8 phash-banding failure class — blank-pad keys saturating).
      // Capped since round 11: the uncapped profile measured np ×70.3 at
      // ×10→×100 (identical-half classes ∝ corpus — all-ones pad halves),
      // so the family now carries Hamming.ImageMaxKeyDf and the row
      // gates the CAPPED mass the join actually pays. Sub-cap classes
      // are still mid-saturation through this window (a class of
      // constant probability mass grows quadratically UNTIL it crosses
      // the cap, then drops out), so the family gets a skew4 row
      // (×100→×1000, below) where the saturation has completed.
      ("skew:mih_halfkey", Some(graft.sim.Hamming.ImageMaxKeyDf),
        (s: SparkSession, d: String) =>
          graft.multimodal.Media.imagePhash(
              s, Tables.table(s, d, "documents"))
            .select(posexplode(array(col("h1"), col("h2"))).as(Seq("half", "k")))
            .groupBy("half", "k").agg(count(lit(1)).as("n"))
            .withColumn("expected", lit(1L))),
      // text minhash LSH band signatures (the q_minhash_lsh candidate
      // classes; signature space is hash-sized, expected occupancy 1)
      ("skew:text_lsh", None,
        (s: SparkSession, d: String) =>
          graft.text.Dedup.portableBanded(
              graft.text.Dedup.shingleSet(
                Tables.table(s, d, "documents"), n = 3),
              numHashes = 16, bands = 4)
            .groupBy("band", "bh").agg(count(lit(1)).as("n"))
            .withColumn("expected", lit(1L))))
  }

  /** The SECOND scale decade (round-7 ask #3): queries re-measured at
    * sf0.1 vs a deterministic 10× synthetic blow-up of the documents AND
    * embeddings tables ([[SyntheticDecade]]). Only tables the blow-up
    * regenerates may be read, so this is the dedup/ANN core: the live
    * banded/inverted-index joins plus every stamped corpus-pass build.
    * The q_image_dedup incident (candidates fine at sf0.01, 18× blowup
    * at sf0.1) is the proof one decade is not enough.
    */
  val DecadeFamily: Seq[String] = Seq(
    "q_ngram_jaccard", "q_jaccard_prefix", "q_minhash_lsh", "q_simhash",
    "q_dup_spans", "q_containment", "q_image_dedup", "q_audio_dedup",
    "q_kmeans_lloyd", "q_ann_pq_batch", "q_exact_substr",
    "q_sem_decontaminate", "q_video_dedup",
    "q_video_dedup_lossy", "q_audio_offset_recall", "q_media_dedup_semantic",
    "build:shingledf", "build:njpairs", "build:truthpairs", "build:knn_top5",
    "build:embpairs", "build:ivfpq_index", "build:audiowords", "build:semfeat")

  /** Data-growth factor between the probe's two SF dirs for `name`:
    * embeddings-backed queries step 4×, everything else 10×.
    */
  def growthFor(name: String): Double =
    if (VectorFamily.contains(name) || EmbeddingBuilds.contains(name)) 4.0 else 10.0

  /** Decade rows measured with broadcast DISABLED on both sides (the
    * probe pins autoBroadcastJoinThreshold = -1 around the row, then
    * restores it). The embeddings table is ~100× smaller than the
    * documents table at every SF, so a corpus-proportional embedding
    * probe crosses its broadcast→shuffle thresholds two decades LATER
    * than the doc-table rows — measured live at round 11's decade3:
    * q_sem_decontaminate read bytes ×1419 at ×10 data purely because the
    * ×100 small side was still entirely broadcast (734 KB) while the
    * ×1000-equivalent big side had crossed (1.04 GB). The decade gate
    * exists to detect complexity CLASS; for these rows it forces the
    * post-transition plan on both sides so the ratio measures candidate
    * mass, not the threshold crossing (a ×1000 embeddings decade — the
    * alternative proof — costs hours for the same answer). The
    * PRODUCTION plan is untouched: AQE keeps its runtime choice; and the
    * candidate-mass distribution itself is independently gated by the
    * skew:semband_emb / skew3:semband_emb rows.
    */
  // build:audiowords joined in round 12 on the artifact's own regime
  // data: at the ×100 decade its big side crosses into SMJ while the
  // small side still broadcasts (bhj 1→0, smj 0→1), and at 32 static
  // partitions the big-side sort spill-thrashes — measured twice as
  // time ×26.8/×29.9 over linear bytes ×13.7, the exact wall-clock
  // signature the sizing note below describes. Forcing both sides into
  // the (256-partition) shuffle regime makes the ratio measure
  // candidate mass, not the crossing.
  val DecadeForceShuffle: Set[String] =
    Set("q_sem_decontaminate", "build:audiowords")

  final case class Measure(sec: Double, shuffleBytes: Long, rows: Long,
                           bhj: Int = 0, smj: Int = 0)

  /** Warm-measured run: one untimed pass first (one-time artifact builds,
    * codegen/JIT — fixed costs, not scaling behavior), then the measured
    * pass. Shuffle volume is deterministic for these queries, so measuring
    * the warm pass loses nothing.
    *
    * The measured pass also records the JOIN PLAN REGIME (round-11
    * verdict ask #7): how many broadcast-hash vs shuffle (sort-merge +
    * shuffled-hash) joins AQE's final plan ran with. The
    * sem_decontaminate lesson — small-side tables ~100× smaller than
    * documents cross their broadcast thresholds two decades late, so a
    * decade ratio can measure the plan TRANSITION instead of candidate
    * mass — is only auditable when each row says which regime each side
    * ran in; the artifact now carries that per row, per side.
    */
  def measure(spark: SparkSession, probe: TaskProbe, name: String,
              sfDir: String): Measure = {
    val fn = (BuildFamily ++ StoreFamily).toMap
      .getOrElse(name, SparkEntry.queries(name))
    fn(spark, sfDir).count() // warm
    spark.catalog.clearCache(); System.gc()
    probe.awaitQuiescent(); probe.reset()
    val df = fn(spark, sfDir)
    val t0 = System.nanoTime()
    val rows = df.count()
    val sec = (System.nanoTime() - t0) / 1e9
    probe.awaitQuiescent()
    val bytes = probe.snapshot().map(_.shuffleWriteBytes).sum
    // AQE has finalized the executed plan after the action; count join
    // strategies in it (string scan — the node names are the public
    // plan vocabulary). Side plans inside stamped builds/ensures that
    // ran during the WARM pass are invisible here by design: the regime
    // of record is the measured query's own final plan.
    val planStr =
      try df.queryExecution.executedPlan.toString
      catch { case _: Throwable => "" }
    def occurrences(sub: String): Int =
      planStr.sliding(sub.length).count(_ == sub)
    val m = Measure(sec, bytes, rows,
      bhj = occurrences("BroadcastHashJoin"),
      smj = occurrences("SortMergeJoin") + occurrences("ShuffledHashJoin"))
    spark.catalog.clearCache(); System.gc()
    m
  }

  /** growth = data-size ratio between the SFs (10 for sf0.01→sf0.1);
    * slack ×2.5 on top of proportional growth; 32 MiB absolute allowance
    * for broadcast→shuffle plan transitions out of a near-zero base.
    *
    * DECADE rows use [[DecadeAllowanceBytes]] (4 MiB) instead: at the
    * synthetic decade the small side is sf0.1 — real megabytes, not a
    * near-zero base — so a 32 MiB allowance would mask a genuine ×40
    * bytes blow-up (round 8's decade:q_image_dedup passed only through
    * it). A decade row whose growth exceeds the tight rule ESCALATES to
    * a third decade (×100 synthetic vs ×10 synthetic, both sides past
    * every broadcast threshold): proportional there = the decade-2
    * excess was a one-time plan transition (pass, recorded as such);
    * super-linear there too = a real quadratic (fail).
    */
  def isLinear(small: Long, big: Long, growth: Double,
               slack: Double = 2.5, allowanceBytes: Long = 32L << 20): Boolean =
    big <= (growth * slack * small).toLong + allowanceBytes

  val DecadeAllowanceBytes: Long = 4L << 20

  /** Decade-row AUTO-escalation (round-10 verdict ask #2): the old rule
    * escalated only FAILING decade rows (plus hand-named ones), so a
    * latent quadratic could idle at, say, 71 % of the bound at decade 2
    * and only blow past it at ×100 — r10's q_media_dedup_semantic was
    * caught by a voluntary probe, not the gate. Now any decade row that
    * passes but (a) uses more than 60 % of the proportional bound, or
    * (b) passes ONLY through the absolute allowance while growing faster
    * than the data (a near-zero-base ratio the allowance can mask), is
    * escalated to the third decade automatically, where a transition has
    * already happened on the small side and a real quadratic has nowhere
    * to hide.
    */
  def decadeEscalates(small: Long, big: Long, growth: Double,
                      slack: Double = 2.5): Boolean = {
    val ratio =
      if (small > 0) big.toDouble / small
      else if (big > 0) Double.MaxValue
      else 0.0
    // clause (b) fires only when the allowance was LOAD-BEARING — the row
    // would have failed the proportional bound without it — matching the
    // rule's intent ("passes ONLY through the absolute allowance"). The
    // first cut used `big <= allowance` as a proxy, which also caught
    // rows passing the proportional bound outright: measured live in
    // round 11, decade:build:knn_top5 at ratio 10.30 (3 % over growth —
    // noise) escalated into a ×100 all-pairs-top-k whose sort spill
    // exceeded the machine's disk. The intended target (r10's
    // decade:q_sem_decontaminate, ×55.97 on a 12 KB base, proportional
    // bound 300 KB < its 674 KB) still fires.
    ratio > 0.6 * growth * slack ||
      (big > (growth * slack * small).toLong && ratio > growth)
  }

  /** The TIME companion of [[isLinear]], applied to the DECADE rows only:
    * a quadratic whose candidates verify map-side moves almost no shuffle
    * bytes (broadcast verify, map-side window prune) and sails through
    * the bytes rule — decade:build:knn_top5's first run measured time
    * ×42 at ×10 data with bytes ×10.3. Wall time is noisier than bytes,
    * so the standard sf0.01→sf0.1 rows (where small-side times are
    * fixed-overhead-dominated) keep the bytes-only rule; at the decade
    * the small side is already seconds-scale and a 5 s allowance absorbs
    * scheduling noise.
    */
  def isLinearTime(smallSec: Double, bigSec: Double, growth: Double,
                   slack: Double = 2.5, allowanceSec: Double = 5.0): Boolean =
    bigSec <= growth * slack * smallSec + allowanceSec

  /** Deterministic ±1 per-replica sign pattern for the embedding blow-up
    * (the TextOps mix rounds — no RNG state). Applied to EVERY vector of
    * a replica, so within-replica cosines are exactly preserved
    * (Σ sᵢ²xᵢyᵢ = Σ xᵢyᵢ) while cross-replica cosines decorrelate even
    * when two replicas share a rotation offset (r and r+64).
    */
  private def replicaFlip(r: Int, i: Int): Int = {
    val m = graft.text.TextOps.HashMod
    val mult = graft.text.TextOps.DefaultMixMult
    def mix(h: Long): Long = ((h ^ (h >> 16)) * mult) % m
    if ((mix(mix(r.toLong * 131 + i + 7)) & 1L) == 1L) 1 else -1
  }

  /** Deterministic ×factor synthetic blow-up of the documents and
    * embeddings tables — the probe-only data for the second scale decade
    * (testdata stays read-only; the output lives under /tmp keyed by the
    * source stamp, each table published once like every stamped artifact).
    *
    * The blow-up must look like MORE data, not 10 copies of the same
    * data — for EVERY modality derived from it, not just text shingles
    * (the v1 lesson: round 8's decade rows for q_image_dedup and
    * q_audio_dedup went ×45.8/×29.8 because replica r's `zr` token
    * suffix keeps all replicas r=1..9 byte-ALIGNED with each other —
    * same +2 chars per token — so the text-derived image rasters and
    * audio sample streams were genuine cross-replica near-duplicates and
    * pair counts grew quadratically BY DATA CONSTRUCTION, not by plan
    * defect). v2 therefore:
    *  - suffixes every token with `zr` (replicas share no shingles, as
    *    before), AND
    *  - prepends one junk token of per-replica LENGTH 1+(r mod 89), so
    *    no two replicas' byte streams stay mutually aligned — thumbnails
    *    sample different characters, audio segments cover different
    *    spans, and the modality-derived fingerprints decorrelate the way
    *    genuinely-new media would. Pair counts grow ×factor again.
    *  - rotates embeddings by r mod 64 positions AND applies the
    *    [[replicaFlip]] sign pattern: both transforms preserve
    *    within-replica cosines exactly, and the flip keeps replicas
    *    r and r+64 distinct at factor > 64 (a bare rotation wraps).
    * Ids offset by r·10M into disjoint ranges.
    */
  /** Balanced union (depth log n): a 1000-branch left-deep `reduce`
    * chain risks Catalyst stack overflow during analysis; the balanced
    * tree produces the identical row multiset. */
  private def unionAll(dfs: Seq[DataFrame]): DataFrame =
    if (dfs.size == 1) dfs.head
    else {
      val (l, r) = dfs.splitAt(dfs.size / 2)
      unionAll(l).union(unionAll(r))
    }

  def ensureSyntheticDecade(s: SparkSession, srcDir: String,
                            factor: Int = 10): String = {
    import org.apache.spark.sql.functions._
    val stamp = graft.sources.Stamped.stampOf(srcDir, "documents.parquet") +
      "_" + graft.sources.Stamped.stampOf(srcDir, "embeddings.parquet")
    val tag = srcDir.replaceAll("[^A-Za-z0-9]", "_")
    val out = s"/tmp/graft_decade_${tag}_x${factor}_v2_$stamp"
    Stamped.publish(s, s"$out/documents.parquet") { dir =>
      val docs = Tables.table(s, srcDir, "documents")
      unionAll((0 until factor).map { r =>
        if (r == 0) docs
        else {
          val t = concat(lit("q" * (1 + (r % 89)) + " "),
            regexp_replace(col("text"), "\\S+", "$0z" + r))
          docs.select(
            (col("doc_id") + lit(r * 10000000L)).as("doc_id"),
            t.as("text"), col("lang"), col("source"),
            length(t).cast("long").as("n_chars"))
        }
      }).write.mode("overwrite").parquet(dir)
    }
    Stamped.publish(s, s"$out/embeddings.parquet") { dir =>
      val emb = Tables.table(s, srcDir, "embeddings")
      unionAll((0 until factor).map { r =>
        if (r == 0) emb
        else {
          val rot = (0 until 64).map(i =>
            s"CAST(element_at(embedding, ${(i + r) % 64 + 1}) * ${replicaFlip(r, i)} AS FLOAT)")
          emb.select(
            (col("vec_id") + lit(r * 10000000L)).as("vec_id"),
            expr(s"array(${rot.mkString(",")})").as("embedding"),
            col("label"))
        }
      }).write.mode("overwrite").parquet(dir)
    }
    out
  }

  def main(args: Array[String]): Unit = {
    val sfSmall = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val sfBig = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val outJson = if (args.length > 2) args(2) else "SCALE_r07.json"
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else HeavyFamily ++ VectorFamily ++ BuildFamily.map(_._1)

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      // A superseded AQE stage whose cancel misses (observed: "Failed to
      // cancel job group … Cannot find active jobs for it" during the
      // ×100 decade) leaves ZOMBIE tasks spinning in codegen loops,
      // hoarding the execution-memory pool and livelocking the next
      // action's allocations. Interrupting on cancel kills the ones the
      // cancel DOES reach; long probe sessions should additionally run
      // in chunks (standard | decade+store) so a zombie's blast radius
      // is one JVM section, not the whole artifact.
      .config("spark.sql.execution.interruptOnCancel", "true")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probe = new TaskProbe
    spark.sparkContext.addSparkListener(probe)

    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    var failed = List.empty[String]
    // every row lands here the moment it is measured, and the artifact is
    // written from this buffer in a finally: two round-11 chunk runs died
    // mid-section (a disk-full spill, then a skew-row type bug) and lost
    // 40+ minutes of measured rows each because the write only happened
    // at the very end. A crashed run now leaves a "complete":false
    // artifact carrying everything it measured.
    val allRows = scala.collection.mutable.ArrayBuffer.empty[String]
    val measuredBytes =
      scala.collection.mutable.Map.empty[String, (Long, Long, Double)]
    def probeRow(name: String, rowName: String, dirSmall: String,
                 dirBig: String, growth: Double,
                 gateTime: Boolean = false,
                 allowance: Long = 32L << 20,
                 forceShuffle: Boolean = false): String = {
      val bcKeys = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.shuffle.partitions")
      def measurePair(): (Measure, Measure) = {
        val saved = bcKeys.map(k => k -> spark.conf.getOption(k))
        if (forceShuffle) {
          System.err.println(s"[scale] $rowName measured with broadcast " +
            "disabled on both sides (DecadeForceShuffle)")
          bcKeys.init.foreach(spark.conf.set(_, "-1"))
          // the forced post-transition plan must also be SIZED like the
          // production shuffle it simulates: at the ×100 decade, 32 static
          // partitions put ~2 GB sort-merge sorts into ~450 MB of per-task
          // execution memory and the row measured spill-thrash (time ×30.7
          // over bytes ×13.0) — a wall-clock artifact of undersized
          // partitions, not of the operator. 256 partitions keep each sort
          // in memory; AQE coalesces the small side back down.
          spark.conf.set("spark.sql.shuffle.partitions", "256")
        }
        try (measure(spark, probe, name, dirSmall),
          measure(spark, probe, name, dirBig))
        finally if (forceShuffle) saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
      var (a, b) = measurePair()
      var retried = false
      // Wall clock is the noisy axis (the repo's documented ×2 tenancy
      // band — the r12 chunk run measured decade3:q_sem_decontaminate's
      // small side at 7.5 s where three prior runs of byte-identical
      // code read 13.6 s, turning time ×20 into a failing ×39.6 while
      // bytes and the join regime sat unchanged-linear). A row whose
      // BYTES are linear but whose time ratio fails re-measures both
      // sides once and keeps the per-side minimum — min-over-repeats,
      // the standard wall-clock de-noising. The complexity measure
      // (bytes) is never retried: a bytes failure is a real failure on
      // the first measure.
      if (gateTime && !isLinearTime(a.sec, b.sec, growth) &&
          isLinear(a.shuffleBytes, b.shuffleBytes, growth,
            allowanceBytes = allowance)) {
        System.err.println(f"[scale] $rowName time ×${b.sec / math.max(1e-9, a.sec)}%.2f " +
          "over bound with linear bytes — re-measuring once (min-of-2 per side)")
        val (a2, b2) = measurePair()
        if (a2.sec < a.sec) a = a2
        if (b2.sec < b.sec) b = b2
        retried = true
      }
      measuredBytes(rowName) = (a.shuffleBytes, b.shuffleBytes, growth)
      val ok = isLinear(a.shuffleBytes, b.shuffleBytes, growth,
          allowanceBytes = allowance) &&
        (!gateTime || isLinearTime(a.sec, b.sec, growth))
      if (!ok) failed ::= rowName
      val byteRatio =
        if (a.shuffleBytes > 0) b.shuffleBytes.toDouble / a.shuffleBytes else -1.0
      val timeRatio = if (a.sec > 0) b.sec / a.sec else -1.0
      System.err.println(f"[scale] $rowName%-25s small=${a.sec}%6.2fs/${a.shuffleBytes}%12dB  " +
        f"big=${b.sec}%6.2fs/${b.shuffleBytes}%12dB  bytes×$byteRatio%7.2f time×$timeRatio%6.2f  growth=$growth%.0f " +
        s"joins[bhj ${a.bhj}→${b.bhj}, smj ${a.smj}→${b.smj}] ${if (ok) "LINEAR" else "SUPER-LINEAR"}")
      val row =
        s""""$rowName":{"small_sec":${r3(a.sec)},"big_sec":${r3(b.sec)},""" +
          s""""small_shuffle_bytes":${a.shuffleBytes},"big_shuffle_bytes":${b.shuffleBytes},""" +
          s""""bytes_ratio":${r3(byteRatio)},"time_ratio":${r3(timeRatio)},"growth":$growth,""" +
          s""""small_rows":${a.rows},"big_rows":${b.rows},""" +
          s""""small_bhj":${a.bhj},"small_smj":${a.smj},""" +
          s""""big_bhj":${b.bhj},"big_smj":${b.smj},""" +
          s""""time_retried":$retried,"linear":$ok}"""
      allRows += row
      row
    }
    var completed = false
    var transitions = List.empty[String]
    try {
    // Dev loop: SPARK_GRAFT_STANDARD=0 skips the standard sf-pair rows
    // (iterating on decade rows only); the committed artifact runs both.
    val rows =
      if (sys.env.get("SPARK_GRAFT_STANDARD").contains("0")) Seq.empty
      else names.map(n => probeRow(n, n, sfSmall, sfBig, growthFor(n)))
    // The second decade (sfBig → 10× synthetic): only when probing the
    // default set (an explicit query list targets the standard decade),
    // opt out with SPARK_GRAFT_DECADE=0. Decade rows gate on bytes AND
    // time with the TIGHT allowance; a failing row escalates to the
    // third decade (×10 synthetic → ×100 synthetic) where a plan
    // transition has already happened on the small side — proportional
    // there clears the row as a documented transition, super-linear
    // there is a confirmed quadratic.
    val decadeRows =
      if (args.length > 3 || sys.env.get("SPARK_GRAFT_DECADE").contains("0")) Seq.empty
      else {
        val synth = ensureSyntheticDecade(spark, sfBig)
        System.err.println(s"[scale] synthetic decade at $synth")
        // Dev loop: SPARK_GRAFT_DECADE_ONLY=q_a,q_b restricts the decade
        // rows (the committed artifact always probes the full family).
        val decadeOnly = sys.env.get("SPARK_GRAFT_DECADE_ONLY")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        val DecadeSel = decadeOnly.fold(DecadeFamily)(sel =>
          DecadeFamily.filter(sel))
        val d2 = DecadeSel.map(n =>
          probeRow(n, s"decade:$n", sfBig, synth, 10.0, gateTime = true,
            allowance = DecadeAllowanceBytes,
            forceShuffle = DecadeForceShuffle(n)))
        // Escalation to the third decade (×10 → ×100 synthetic) is now
        // AUTOMATIC for near-bound and allowance-dominated passes
        // ([[decadeEscalates]] — round-10 ask #2), on top of failing rows
        // and any hand-named SPARK_GRAFT_DECADE3_ALSO=q_a,q_b set —
        // linear at ×100 converts a "passes under slack" row into data;
        // super-linear fails the artifact like any other row.
        val alsoD3 = sys.env.get("SPARK_GRAFT_DECADE3_ALSO")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
          .getOrElse(Set.empty)
        val escalate = DecadeSel.filter { n =>
          failed.contains(s"decade:$n") || alsoD3(n) ||
            measuredBytes.get(s"decade:$n").exists { case (sm, bg, g) =>
              val esc = decadeEscalates(sm, bg, g)
              if (esc) System.err.println(
                s"[scale] decade:$n auto-escalates to the third decade " +
                  s"(bytes ${bg}B / ${sm}B vs growth $g)")
              esc
            }
        }
        val d3 = if (escalate.isEmpty) Seq.empty else {
          val synth100 = ensureSyntheticDecade(spark, sfBig, factor = 100)
          System.err.println(s"[scale] third decade at $synth100 for: ${escalate.mkString(", ")}")
          escalate.map { n =>
            val row = probeRow(n, s"decade3:$n", synth, synth100, 10.0,
              gateTime = true, allowance = DecadeAllowanceBytes,
              forceShuffle = DecadeForceShuffle(n))
            if (!failed.contains(s"decade3:$n") && failed.contains(s"decade:$n")) {
              // decade-2 excess + decade-3 proportionality = transition
              failed = failed.filterNot(_ == s"decade:$n")
              transitions ::= s"decade:$n"
            }
            row
          }
        }
        d2 ++ d3
      }
    // Store-aware rows (fixed batch, corpus ×10): per-row growth from
    // [[StoreGrowth]] — the flat terms (sign, relabel) gate at growth 1,
    // the candidate-carrying probe totals at the corpus growth (their
    // ceiling; the flat companion row pins the batch term). Skipped
    // alongside the decade rows for explicit query lists.
    val storeRows =
      if (args.length > 3 || sys.env.get("SPARK_GRAFT_DECADE").contains("0")) Seq.empty
      else StoreFamily.map { case (n, _) =>
        probeRow(n, n, sfSmall, sfBig, growth = StoreGrowth(n),
          gateTime = false, allowance = DecadeAllowanceBytes)
      }
    // Occupancy-skew rows (ask #4): the key-distribution gate, run with
    // the decade chunk (they read the same synthetic dir). Cheap — one
    // bucket groupBy per family per side, no pair join is materialized.
    val skewRows =
      if (args.length > 3 || sys.env.get("SPARK_GRAFT_DECADE").contains("0") ||
          sys.env.get("SPARK_GRAFT_SKEW").contains("0")) Seq.empty
      else {
        import org.apache.spark.sql.functions._
        val synth = ensureSyntheticDecade(spark, sfBig)
        def prof(fn: (SparkSession, String) => DataFrame, cap: Option[Int],
                 dir: String): (Long, Double, Long, Long, Long, Double) = {
          val occ = fn(spark, dir).localCheckpoint()
          val eff = cap.map(c => when(col("n") > c, lit(0L)).otherwise(col("n")))
            .getOrElse(col("n"))
          // eff·(eff−1) is a product of consecutive longs — always even —
          // so the /2 is exact; but Spark's `/` returns DOUBLE, so the
          // halving happens in Scala after an integer-exact sum (the
          // first cut summed the divided column and getLong threw
          // ClassCastException, aborting the whole artifact)
          val r = occ.agg(max("n"), expr("percentile(n, 0.99)"),
            first("expected"), sum(col("n")),
            sum(eff * (eff - lit(1L)))).collect()(0)
          val pairs = if (r.isNullAt(4)) 0L else r.getLong(4) / 2
          val rows = if (r.isNullAt(3)) 0L else r.getLong(3)
          val np = pairs.toDouble /
            (math.max(1L, rows).toDouble * math.max(1L, r.getLong(2)).toDouble)
          (r.getLong(0), r.getDouble(1), r.getLong(2), rows, pairs, np)
        }
        def skewRow(rowName: String, cap: Option[Int],
                    fn: (SparkSession, String) => DataFrame,
                    dirSmall: String, dirBig: String): String = {
          val a = prof(fn, cap, dirSmall)
          val b = prof(fn, cap, dirBig)
          val ok = b._6 <= SkewSlack * a._6 + SkewAllowanceNp
          if (!ok) failed ::= rowName
          val npRatio = if (a._6 > 0) b._6 / a._6 else -1.0
          System.err.println(f"[scale] $rowName%-25s small np=${a._6}%7.3f " +
            f"(max=${a._1}/exp=${a._3})  big np=${b._6}%7.3f " +
            f"(max=${b._1}/exp=${b._3})  np×$npRatio%6.2f ${if (ok) "HEALTHY" else "SKEWED"}")
          val row =
            s""""$rowName":{"small_max":${a._1},"small_p99":${r3(a._2)},""" +
              s""""small_expected":${a._3},"small_rows":${a._4},"small_pairs":${a._5},""" +
              s""""small_np":${r3(a._6)},"big_max":${b._1},"big_p99":${r3(b._2)},""" +
              s""""big_expected":${b._3},"big_rows":${b._4},"big_pairs":${b._5},""" +
              s""""big_np":${r3(b._6)},"np_ratio":${r3(npRatio)},"linear":$ok}"""
          allRows += row
          row
        }
        val d2 = SkewFamilies.map { case (name, cap, fn) =>
          skewRow(name, cap, fn, sfBig, synth) }
        // the ×10 → ×100 rows for the families whose rot class only
        // surfaces at the third decade (vector sign banding; plus MIH,
        // whose r8 failure mode was key saturation) — text LSH is
        // already decade-gated through build:shingledf / q_minhash_lsh
        val synth100 = ensureSyntheticDecade(spark, sfBig, factor = 100)
        val d3 = SkewFamilies.filterNot(_._1 == "skew:text_lsh")
          .map { case (name, cap, fn) =>
            skewRow(name.replace("skew:", "skew3:"), cap, fn, synth, synth100) }
        // Saturation escalation — the decade3 mechanism applied to the
        // skew gate: a CAPPED family's constant-probability pattern class
        // grows QUADRATICALLY until its size crosses the cap, then drops
        // out of the capped mass entirely, so the capped np ratio can
        // exceed slack in exactly one decade window while the family is
        // linear-by-construction (≤ cap·n) on both sides of it. A failing
        // skew3 row of a capped family re-measures at ×100 → ×1000, where
        // every such class has crossed: healthy there records the skew3
        // row as a saturation transition; unhealthy there is
        // distributional rot the cap does not bound — a real failure.
        val d4 = SkewFamilies
          .filter { case (name, cap, _) =>
            cap.isDefined && failed.contains(name.replace("skew:", "skew3:")) }
          .map { case (name, cap, fn) =>
            val synth1000 = ensureSyntheticDecade(spark, sfBig, factor = 1000)
            val n3 = name.replace("skew:", "skew3:")
            val n4 = name.replace("skew:", "skew4:")
            System.err.println(s"[scale] $n3 escalates to the fourth " +
              "decade (capped-family saturation window)")
            val row = skewRow(n4, cap, fn, synth100, synth1000)
            if (!failed.contains(n4)) {
              failed = failed.filterNot(_ == n3)
              transitions ::= n3
            }
            row
          }
        d2 ++ d3 ++ d4
      }
    require(rows.size + decadeRows.size + storeRows.size + skewRows.size ==
      allRows.size, "every row sequence must accumulate into allRows")
    completed = true
    } finally {
      // written even when a section dies mid-run (disk-full spill, a row
      // bug): the rows already measured survive as "complete":false —
      // merge_scale refuses nothing, and the gate's exit code below (or
      // the propagating exception) still fails the run loudly.
      val doc =
        s"""{"metric":"scale_proportionality","sf_small":"$sfSmall","sf_big":"$sfBig",""" +
          s""""complete":$completed,""" +
          s""""growth_default":10.0,"growth_vector_family":4.0,"slack":2.5,"allowance_bytes":${32L << 20},""" +
          s""""decade_growth":10.0,"decade_allowance_bytes":$DecadeAllowanceBytes,""" +
          s""""transitions":[${transitions.sorted.map("\"" + _ + "\"").mkString(",")}],""" +
          s""""failed":[${failed.sorted.map("\"" + _ + "\"").mkString(",")}],""" +
          s""""queries":{${allRows.mkString(",")}}}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
        (doc + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(doc)
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[scale] SUPER-LINEAR growth: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
