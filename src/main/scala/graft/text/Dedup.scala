package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Stamped

/** Deduplication operators for the training-data pipeline (SURVEY.md §2.9
  * X1; BASELINE.json north-star): exact, n-gram Jaccard, MinHash+LSH,
  * SimHash. All shuffle-conscious: candidate generation is always an
  * equi-join on a short key (shingle / band hash / band bits) — never an
  * all-pairs product — so the pattern survives a 100 TB corpus where
  * O(n^2) comparison is impossible.
  */
object Dedup {

  /** Exact dedup: keep the lowest doc_id per key (X1). One shuffle on the
    * key; at scale prefer hashing long keys first (fingerprint column).
    */
  def exact(df: DataFrame, keys: Seq[String], idCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Tokenization and shingle-building are COMPUTE-bound, so their
    * parallelism is pinned to the scan's partition count — and a small
    * corpus parquet is one row-group, serializing the whole pipeline onto
    * one core. Rebalance when the input has fewer partitions than the
    * cluster has slots; at real scale the scan already has thousands of
    * partitions and this is a no-op (no shuffle is added).
    */
  private def rebalanced(docs: DataFrame): DataFrame = {
    val target = docs.sparkSession.sparkContext.defaultParallelism
    // `docs.rdd.getNumPartitions` would answer this exactly but forces a
    // full analyze/optimize/plan pass into RDD lineage on every dedup call
    // just to read one number. `inputFiles` is driver-side metadata off the
    // analyzed plan: the scan's partition count is >= its file count (files
    // over maxPartitionBytes split further, never merge below it), so
    // file count >= target proves the scan is already wide enough. A
    // non-file source reports zero files and takes the repartition — the
    // conservative choice, and dedup inputs are parquet scans in practice.
    if (docs.inputFiles.length < target) docs.repartition(target) else docs
  }

  /** Exploded distinct word-n-gram shingle set: (doc_id, s). Shingling
    * goes through the codegen'd [[graft.functions.WordShingles]] — the
    * declarative `TextOps.shingles` stays the property-tested reference,
    * but its interpreted lambdas would dominate the scan at corpus scale.
    */
  def shingleSet(docs: DataFrame, n: Int): DataFrame = {
    graft.functions.WordShingles.register(docs.sparkSession)
    rebalanced(docs).select(col("doc_id"),
      explode(array_distinct(
        graft.functions.WordShingles.wordShingles(TextOps.tokens(col("text")), n))).as("s"))
  }

  /** Shingle set annotated with each shingle's GLOBAL document frequency:
    * (doc_id, s, df). The one corpus-text-sized pass the whole
    * set-similarity family shares — the capped inverted index
    * ([[ngramJaccardPairsFromShingleDf]], [[containmentPairsFromShingleDf]])
    * filters `df <= maxDf`, the prefix filter
    * ([[jaccardPrefixPairsFromShingleDf]]) orders by (df, s) — so
    * materializing it ONCE per corpus snapshot (EntryHelpers.shingleDf3
    * through the stamped layer) stops every family member re-tokenizing
    * and re-counting the same corpus (round-9 verdict ask #7). Cost: one
    * aggregation + one shuffle join over the shingle set; at 100 TB this
    * is a per-snapshot index build, not a per-query pass.
    */
  def shingleDf(docs: DataFrame, n: Int): DataFrame =
    shingleDfFromSet(shingleSet(docs, n))

  /** [[shingleDf]] over an already-built shingle set — the df-annotation
    * step alone, for callers that already hold (and cached) the set.
    */
  def shingleDfFromSet(sh: DataFrame): DataFrame = {
    val dfs = sh.groupBy("s").agg(count(lit(1)).as("df"))
    sh.join(dfs, "s").select("doc_id", "s", "df")
  }

  /** Default stop-shingle document-frequency cap for [[ngramJaccardPairs]].
    * A shingle held by d docs contributes d·(d-1)/2 candidate pairs, so the
    * inverted-index join's size is Σ_s df_s² — unbounded on a small-vocab
    * corpus. With the cap, every kept shingle contributes < maxDf pairs per
    * occurrence, so candidates ≤ (maxDf/2)·|shingle occurrences| — LINEAR
    * in corpus size, which is what survives 100 TB.
    */
  val DefaultMaxShingleDf = 10

  /** N-gram Jaccard near-dup pairs via an inverted-index join over
    * STOP-SHINGLE-FILTERED sets: shingles with document frequency above
    * `maxDf` are dropped up front (the standard stop-gram filter of
    * shingling-based near-dup detection — a shingle shared by many docs
    * carries no duplicate signal, only join blowup), then Jaccard is the
    * exact |A∩B| / (|A|+|B|-|A∩B|) of the filtered sets. The shingle
    * equi-join replaces the O(n^2) pair scan with sparse candidate
    * generation; doc_a < doc_b canonicalizes pairs.
    *
    * Eager: materializes the (small) pair list and releases every cached
    * intermediate before returning — no pinned executor memory outlives
    * the call.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                        maxDf: Int = DefaultMaxShingleDf): DataFrame =
    cappedScoredPairs(docs, n, maxDf, "jaccard", threshold) { (c, na, nb) =>
      c.cast("double") / (na + nb - c)
    }

  /** Near-containment pairs (overlap coefficient |A∩B| / min(|A|,|B|)):
    * the dedup semantics Jaccard misses — a short doc quoted verbatim
    * inside a long one has tiny Jaccard (the union is dominated by the
    * long doc) but containment ≈ 1, which is why web pipelines
    * (RefinedWeb-style) run a containment pass to drop subsumed docs.
    * Same capped inverted-index candidate generation as
    * [[ngramJaccardPairs]]; only the scoring formula differs. The df cap
    * interacts the same way: a contained doc built ONLY of stop-shingles
    * escapes, the documented recall trade of the cap.
    */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double,
                       maxDf: Int = DefaultMaxShingleDf): DataFrame =
    cappedScoredPairs(docs, n, maxDf, "containment", threshold) { (c, na, nb) =>
      c.cast("double") / least(na, nb)
    }

  /** [[ngramJaccardPairs]] over a pre-built [[shingleDf]] table: with df
    * already a column, the stop-shingle cap is a plain filter — no second
    * aggregation, no measured-broadcast anti-join — and the corpus
    * tokenization is whatever the caller paid for the table (one stamped
    * parquet scan in the entry layer). Identical semantics: `df <= maxDf`
    * keeps exactly the shingles the anti-join against `df > maxDf` keeps.
    */
  def ngramJaccardPairsFromShingleDf(shdf: DataFrame, threshold: Double,
                                     maxDf: Int = DefaultMaxShingleDf): DataFrame =
    cappedScoredPairsFromDf(shdf, maxDf, "jaccard", threshold) { (c, na, nb) =>
      c.cast("double") / (na + nb - c)
    }

  /** [[containmentPairs]] over a pre-built [[shingleDf]] table. */
  def containmentPairsFromShingleDf(shdf: DataFrame, threshold: Double,
                                    maxDf: Int = DefaultMaxShingleDf): DataFrame =
    cappedScoredPairsFromDf(shdf, maxDf, "containment", threshold) { (c, na, nb) =>
      c.cast("double") / least(na, nb)
    }

  private def cappedScoredPairsFromDf(shdf: DataFrame, maxDf: Int,
                                      scoreName: String, threshold: Double)
                                     (score: (Column, Column, Column) => Column): DataFrame = {
    require(maxDf >= 2, s"maxDf=$maxDf would drop every shared shingle")
    scoredPairsOverCapped(shdf.filter(col("df") <= maxDf).select("doc_id", "s"),
      scoreName, threshold)(score)
  }

  /** Shared pipeline of the capped set-similarity family: stop-shingle
    * filter → inverted-index list explode → per-pair common counts joined
    * with set sizes → `score(c, na, nb)` as `scoreName`, kept when
    * ≥ threshold. Eager: the (small) filtered pair list materializes
    * INSIDE the cache scope, and every cached intermediate is released
    * before returning.
    */
  private def cappedScoredPairs(docs: DataFrame, n: Int, maxDf: Int,
                                scoreName: String, threshold: Double)
                               (score: (Column, Column, Column) => Column): DataFrame = {
    require(maxDf >= 2, s"maxDf=$maxDf would drop every shared shingle")
    // cached: the hot-shingle head and the filtered set below both consume
    // the tokenized corpus; without the cache it is tokenized twice.
    // Materialized EAGERLY: the broadcast subquery below runs as a separate
    // concurrent job, and two jobs racing to compute the same cache blocks
    // convoy on BlockManager locks (observed as sporadic ~4x stalls).
    val shAll = shingleSet(docs, n).cache()
    try {
      shAll.count()
      // The hot-shingle head is usually small (Zipf), but its size is
      // data-dependent, so the broadcast decision is made on the MEASURED
      // count (one cheap agg over the cache), not a blind hint: a
      // boilerplate-heavy corpus whose stop list outgrows the bound
      // degrades to a shuffled anti-join instead of OOMing the driver.
      // The probe also serializes before the main job — no concurrent
      // broadcast-subquery racing the cache build.
      val hot = shAll.groupBy("s").agg(count(lit(1)).as("_df"))
        .filter(col("_df") > maxDf).select("s")
      val stopList = if (hot.count() <= 1000000L) broadcast(hot) else hot
      val sh = shAll.join(stopList, Seq("s"), "left_anti")
      scoredPairsOverCapped(sh, scoreName, threshold)(score)
    } finally shAll.unpersist() // even a failed pipeline must not pin the cache
  }

  /** The capped family's core over an ALREADY-FILTERED shingle set
    * (doc_id, s): inverted-index list explode → per-pair common counts
    * joined with set sizes → `score(c, na, nb)` kept when ≥ threshold.
    * Eager (localCheckpoint), so callers may release their inputs.
    */
  private def scoredPairsOverCapped(sh: DataFrame, scoreName: String,
                                    threshold: Double)
                                   (score: (Column, Column, Column) => Column): DataFrame = {
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // Inverted index as doc LISTS: after the cap every list holds 2..maxDf
    // ids (bounded aggregation state — no hot-key straggler), and the
    // in-list pair explode emits the candidate pairs directly. One shuffle
    // to build lists + one to count pairs, vs. the 4 a self-equi-join
    // formulation pays.
    val lists = sh.groupBy("s").agg(sort_array(collect_list("doc_id")).as("ds"))
      .filter(size(col("ds")) >= 2)
    val combos = filter(
      flatten(transform(col("ds"),
        a => transform(col("ds"), b => struct(a.as("doc_a"), b.as("doc_b"))))),
      p => p("doc_a") < p("doc_b"))
    val common = lists
      .select(explode(combos).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("c"))
    common
      .join(sz.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
      .withColumn(scoreName, score(col("c"), col("na"), col("nb")))
      .filter(col(scoreName) >= threshold)
      .select("doc_a", "doc_b", scoreName)
      .localCheckpoint() // eager: run the pipeline, truncate lineage
  }

  /** Prefix-filtering set-similarity join (the SSJoin/AllPairs/PPJoin
    * family — Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07): the EXACT
    * complement to [[ngramJaccardPairs]]' stop-shingle cap. Shingles are
    * ordered rarest-first (document frequency asc, shingle asc — a total
    * order), and each doc is indexed only by its first
    * `n - ceil(t·n) + 1` shingles: any pair with Jaccard ≥ t must share a
    * prefix element (the ceil(t·max(|A|,|B|))-th largest common shingle
    * sits inside BOTH prefixes), so candidate generation never touches the
    * frequent tail — the df-cap's join-blowup control with ZERO recall
    * loss, at the price of computing global dfs and a per-doc rank.
    *
    * The threshold is a RATIONAL num/den: the prefix bound
    * `ceil(t·n) = (num·n + den−1) div den` stays in integer arithmetic —
    * ceil over a binary-float product (0.4·n) rounds differently across
    * engines and would make the prefix length itself diverge.
    *
    * Scale shape: df table and per-doc rarity rank are one aggregation and
    * one doc-partitioned window over the shingle set; the candidate join
    * indexes prefixes only (≈(1−t)·corpus mass, and rare-by-construction
    * keys — no hot-key blowup); verification reuses [[verifyJaccard]]'s
    * candidate-pruned exact pipeline over the FULL sets.
    */
  def jaccardPrefixPairs(docs: DataFrame, n: Int, thresholdNum: Int,
                         thresholdDen: Int): DataFrame = {
    val sh = shingleSet(docs, n).cache()
    try {
      sh.count()
      jaccardPrefixPairsFromShingles(sh, thresholdNum, thresholdDen)
    } finally sh.unpersist()
  }

  /** [[jaccardPrefixPairs]] over an already-built (cached, materialized)
    * shingle table — the sharing hook for eval queries that need BOTH the
    * exact truth and an LSH pipeline over the same corpus: shingling is
    * the one corpus-text-sized pass, so computing it once for both sides
    * halves the dominant scan (round-7; the result is eagerly
    * checkpointed, so the caller may release `sh` on return).
    */
  def jaccardPrefixPairsFromShingles(sh: DataFrame, thresholdNum: Int,
                                     thresholdDen: Int): DataFrame =
    jaccardPrefixPairsFromShingleDf(shingleDfFromSet(sh), thresholdNum,
      thresholdDen)

  /** [[jaccardPrefixPairs]] over a pre-built [[shingleDf]] table: the df
    * aggregation + join — the corpus-sized half of the prefix build — is
    * whatever the caller paid for the table (one stamped parquet scan in
    * the entry layer); this computes only the per-doc rarity rank, the
    * prefix-index candidate join, and the exact verify.
    */
  def jaccardPrefixPairsFromShingleDf(shdf: DataFrame, thresholdNum: Int,
                                      thresholdDen: Int): DataFrame = {
    require(0 < thresholdNum && thresholdNum <= thresholdDen,
      s"threshold $thresholdNum/$thresholdDen must be a fraction in (0, 1]")
    val sh = shdf.select("doc_id", "s")
    val sz = shdf.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val byRarity = Window.partitionBy("doc_id").orderBy(col("df"), col("s"))
    val pref = shdf
      .withColumn("rn", row_number().over(byRarity))
      .join(sz, "doc_id")
      .filter(col("rn") <= col("n_sh") + 1 -
        expr(s"($thresholdNum * n_sh + ${thresholdDen - 1}) div $thresholdDen"))
      .select("doc_id", "s")
    val cands = pref.as("a")
      .join(pref.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct().localCheckpoint()
    // sz is already the per-doc shingle count the verify needs — pass it
    // through instead of paying the full-table aggregation twice
    verifyJaccard(sh, cands, thresholdNum.toDouble / thresholdDen, sizes = sz)
  }

  /** Cross-document repeated-span removal (X1: the "line dedup" of
    * CCNet/RefinedWeb-style web pipelines — boilerplate navigation, cookie
    * banners, and licence blocks repeat verbatim across millions of pages
    * and survive DOCUMENT-level dedup because the surrounding text
    * differs). Text is chunked into consecutive `chunkTokens`-token spans
    * (the corpus here has no newlines, so fixed-width token windows stand
    * in for lines — the algorithm is identical); every span that occurs
    * anywhere else in the corpus keeps only its FIRST occurrence (ordered
    * by (doc_id, position) — deterministic, engine-independent), and each
    * document is rebuilt from its surviving spans in order.
    *
    * Shape for 100 TB: chunking is a map-only pass; first-occurrence
    * selection is ONE shuffle on the span hash (window over the span);
    * document rebuild is one shuffle back on doc_id with the order carried
    * by the position column — `sort_array(collect_list(struct(pos, span)))`
    * keeps the reducer streaming-friendly (no global sort). Rebuilding
    * keys on the span STRING here for oracle parity; at corpus scale the
    * window key would be a 128-bit fingerprint of the span
    * ([[TextOps]].fingerprint) so the shuffle moves 16-byte keys, not
    * text — the structure is unchanged.
    *
    * Returns every input doc: (doc_id, new_text, n_kept, n_dropped);
    * a fully-boilerplate doc comes back with new_text = ''.
    */
  def lineDedup(docs: DataFrame, chunkTokens: Int): DataFrame = {
    val c = chunkTokens
    val tk = TextOps.tokens(col("text"))
    val chunks = rebalanced(docs).select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), (ceil(size(tk).cast("double") / c) - 1).cast("int")),
          i => array_join(slice(tk, i * c + 1, lit(c)), " "))))
      .toDF("doc_id", "pos", "chunk")
    val firstWins = Window.partitionBy("chunk").orderBy("doc_id", "pos")
    val kept = chunks
      .withColumn("_rn", row_number().over(firstWins))
      .withColumn("_keep", col("_rn") === 1)
    val rebuilt = kept
      .groupBy("doc_id")
      .agg(
        array_join(transform(
          sort_array(collect_list(when(col("_keep"), struct(col("pos"), col("chunk"))))),
          s => s("chunk")), " ").as("new_text"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("_keep"), 0L).otherwise(1L)).as("n_dropped"))
    docs.select("doc_id").join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("new_text"), lit("")).as("new_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** Cross-document duplicated-SPAN detection (the exact-substring side
    * of Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", re-expressed relationally): every maximal run of
    * shared k-token grams between two documents reports as ONE span when
    * it covers >= minTokens tokens. Where [[lineDedup]] removes repeated
    * fixed chunks, this finds the duplicated REGIONS themselves, at any
    * alignment — the paper's suffix-array scan turned into three
    * relational steps:
    *   1. position-stamped k-grams (map-only codegen'd shingling) with
    *      the stop-gram df cap — the same Σdf² join-blowup control as
    *      [[ngramJaccardPairs]];
    *   2. gram equi-join for cross-doc matches (doc_a < doc_b):
    *      candidates bounded by df per gram, never a doc×doc product;
    *   3. gaps-and-islands merge along each (doc_a, doc_b, diagonal =
    *      pos_a − pos_b): consecutive positions collapse via
    *      pos − row_number(), so an L-token shared region reports once
    *      with its true extent, not as L−k+1 gram hits.
    * The islands window partitions on (doc_a, doc_b, diag) — match-list
    * sized, never corpus-sized. The join keys on the gram STRING for
    * oracle parity; at corpus scale it would key on a 128-bit
    * [[TextOps]] fingerprint of the gram (16-byte shuffle keys, same
    * plan shape). A capped hot gram inside a true span splits the
    * reported run — the documented recall trade of the stop-gram filter.
    *
    * Returns (doc_a, doc_b, a_start, b_start, span_tokens): one row per
    * maximal shared span, token offsets 0-based.
    */
  def dupSpans(docs: DataFrame, k: Int, minTokens: Int,
               maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    require(minTokens >= k, s"minTokens=$minTokens must be >= k=$k")
    graft.functions.WordShingles.register(docs.sparkSession)
    // cached: the hot-gram head and the anti-join below both consume the
    // gram stream; same measured-broadcast discipline as cappedScoredPairs
    val grams = rebalanced(docs).select(col("doc_id"),
        posexplode(graft.functions.WordShingles.wordShingles(
          TextOps.tokens(col("text")), k)))
      .toDF("doc_id", "pos", "g").cache()
    try {
      // no standalone count: the hot-gram head's own count() below is a
      // sequential driver action whose single scan fills this cache
      // before any concurrent consumer exists (guide §1.2 — one job
      // round-trip saved; the broadcast-race hazard needs a concurrent
      // FIRST scan, and hot.count() runs alone)
      // the cap is DOCUMENT frequency (distinct docs per gram — the
      // cross-doc duplicate signal), NOT occurrence count: a doc that
      // repeats a two-doc boilerplate block many times must not push its
      // grams over the cap and erase the true span. Within-doc repeats of
      // a kept gram cost occ_a·occ_b matches — each on its own diagonal,
      // i.e. genuine span structure, df-bounded across docs.
      val hot = grams.groupBy("g").agg(countDistinct("doc_id").as("_df"))
        .filter(col("_df") > maxDf).select("g")
      val stopList = if (hot.count() <= 1000000L) broadcast(hot) else hot
      val gr = grams.join(stopList, Seq("g"), "left_anti")
      val m = gr.as("a")
        .join(gr.as("b"),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.pos").as("pa"), col("b.pos").as("pb"))
        .withColumn("diag", col("pa") - col("pb"))
      val byDiag = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
      m.withColumn("isl", col("pa") - row_number().over(byDiag))
        .groupBy("doc_a", "doc_b", "diag", "isl")
        .agg(min("pa").as("a_start"), min("pb").as("b_start"),
          (count(lit(1)) + lit(k - 1)).as("span_tokens"))
        .filter(col("span_tokens") >= minTokens)
        .select("doc_a", "doc_b", "a_start", "b_start", "span_tokens")
        .localCheckpoint() // eager: spans are tiny; release the gram cache
    } finally grams.unpersist()
  }

  /** MOSS-style winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting"): every
    * position gets its word-n-gram portable mixed hash; each sliding
    * window of `w` consecutive gram hashes selects its minimum (ties to
    * the LEFTMOST position — a fixed rule; the paper's robust variant
    * keeps the rightmost, either preserves the guarantee); the DISTINCT
    * selected (pos, hash) pairs are the document's fingerprint set.
    * Guarantee: any shared token run of length ≥ w + n − 1 between two
    * documents shares at least one fingerprint — unlike uniform hash-mod
    * sampling, a long match can never be skipped entirely. Density is
    * ~2/(w+1) of grams, so the fingerprint store is a fixed fraction of
    * corpus size.
    *
    * The (hash, pos) argmin rides ONE integer key min(gh·2^20 + pos)
    * (gh < 2^31, pos < 2^20 per doc, product < 2^51 — ANSI-safe), the
    * same encoding the oracle replays. A doc with fewer than w grams
    * contributes its single all-gram minimum. Shape for 100 TB: windows
    * are PARTITIONED BY doc — one shuffle on doc_id, parallel across
    * docs, no cross-doc traffic; the comparison phase downstream is an
    * equi-join on fingerprints.
    *
    * Returns (doc_id, pos, fp): the gram position and selected hash.
    */
  def winnowedFingerprints(docs: DataFrame, n: Int = 3, w: Int = 4): DataFrame = {
    require(w >= 1, s"w=$w")
    graft.functions.WordShingles.register(docs.sparkSession)
    graft.functions.TextHash.register(docs.sparkSession)
    val grams = rebalanced(docs).select(col("doc_id"),
        posexplode(graft.functions.WordShingles.wordShingles(
          TextOps.tokens(col("text")), n)))
      .toDF("doc_id", "pos", "g")
      .select(col("doc_id"), col("pos"),
        TextOps.mixedOf(graft.functions.TextHash.portableHash(col("g"))).as("gh"))
    val frame = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    val perDoc = Window.partitionBy("doc_id")
    grams
      .withColumn("selkey", min(col("gh") * lit(1048576L) + col("pos")).over(frame))
      .withColumn("gcnt", count(lit(1)).over(perDoc))
      .filter(col("pos") <= greatest(col("gcnt") - w, lit(0)))
      .select(col("doc_id"),
        pmod(col("selkey"), lit(1048576L)).cast("int").as("pos"),
        expr("selkey div 1048576").as("fp"))
      .distinct()
  }

  /** The MOSS comparison phase over [[winnowedFingerprints]]: doc pairs
    * sharing ≥ `minShared` distinct selected fingerprints, scored by the
    * min-relative overlap (shared / min(|A|,|B|) — the containment form,
    * since winnowed sets of very different sizes still signal subsumption).
    * The equi-join runs on the WINNOWED sets (~2/(w+1) of gram mass), so
    * the candidate volume is a fixed fraction of a raw shingle join's —
    * and the same document-frequency cap as [[ngramJaccardPairs]] drops
    * boilerplate fingerprints that carry no pair signal but would drive
    * the join quadratically. Returns (doc_a, doc_b, shared, overlap).
    */
  def winnowedPairs(docs: DataFrame, n: Int = 3, w: Int = 4,
                    minShared: Long = 2,
                    maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    val fps = winnowedFingerprints(docs, n, w).select("doc_id", "fp").distinct()
      .localCheckpoint() // consumed 3x below (df cap, sizes, self-join)
    val hot = fps.groupBy("fp").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDf).select("fp")
    // measured broadcast decision, same discipline as dupSpans' stop list
    val stopList = if (hot.count() <= 1000000L) broadcast(hot) else hot
    val kept = fps.join(stopList, Seq("fp"), "left_anti")
    val sz = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared"),
        (col("shared").cast("double") / least(col("na"), col("nb"))).as("overlap"))
  }

  /** Content-defined chunking (the Rabin/FastCDC idea, X1-adjacent): a
    * token ENDS its chunk when its portable mixed hash ≡ 0 mod
    * `avgTokens`, so boundaries depend only on LOCAL content. This is
    * what fixed-width chunking ([[lineDedup]]'s windows) cannot give:
    * an insertion early in a document shifts every later fixed window —
    * but CDC boundaries re-synchronize within ~one expected chunk, so
    * chunk-level dedup stays robust to edits (the same property dedup
    * storage systems buy with Rabin fingerprints). Expected chunk length
    * = avgTokens tokens.
    *
    * Shape for 100 TB: the flag is a map-side expression on the exploded
    * token stream; chunk ids are ONE doc-partitioned prefix-sum window
    * (same discipline as the sequence-packing prefix sum); the rebuild is
    * one groupBy (doc, chunk) with an in-row sort of the collected
    * (pos, token) structs. No self-joins, no global sort.
    *
    * Returns (doc_id, chunk_id, chunk_text, n_tokens).
    */
  def cdcChunks(docs: DataFrame, avgTokens: Int): DataFrame = {
    require(avgTokens >= 2, s"avgTokens=$avgTokens: boundary rate would be ~1")
    graft.functions.TextHash.register(docs.sparkSession)
    val tok = rebalanced(docs)
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))))
      .toDF("doc_id", "pos", "tok")
      .withColumn("flag",
        when(pmod(TextOps.mixedOf(graft.functions.TextHash.portableHash(col("tok"))),
          lit(avgTokens.toLong)) === 0, 1L).otherwise(0L))
    val before = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    tok.withColumn("chunk_id", coalesce(sum("flag").over(before), lit(0L)))
      .groupBy("doc_id", "chunk_id")
      .agg(
        array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          s => s("tok")), " ").as("chunk_text"),
        count(lit(1)).as("n_tokens"))
  }

  /** Benchmark decontamination (X1-adjacent: the eval-overlap filter every
    * LLM training pipeline runs before a corpus ships): a training doc is
    * contaminated if it shares at least one word n-gram with the eval
    * suite. Returns (doc_id, n_hits) — the count of distinct eval shingles
    * each non-eval doc contains; docs with no overlap are absent.
    *
    * Shape for 100 TB: the eval suite is SMALL by definition (benchmarks
    * are thousands of docs, not billions), so its shingle set broadcasts
    * and the corpus side is one map-only scan + semi-join-like inner join
    * + one aggregation shuffle on doc_id. The eval-side filter `isEval`
    * is a plain predicate, so when it references scan columns it pushes
    * down to the parquet reader — the eval extraction never reads the
    * full corpus.
    */
  def contaminationHits(docs: DataFrame, isEval: Column, n: Int): DataFrame = {
    val evalSh = shingleSet(docs.filter(isEval), n).select("s").distinct()
    shingleSet(docs.filter(!isEval), n)
      .join(broadcast(evalSh), Seq("s"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** Candidate-pair verification with the exact n-gram Jaccard. Prunes the
    * inverted index to candidate docs BEFORE the pair join — candidates are
    * rare, so the expensive shingle⋈shingle product only ever sees them
    * (without this the full-corpus join dominates: hot shingles explode
    * pair counts). `sh` must already be cached and materialized — the
    * minhash paths share ONE tokenization between signatures and verify.
    *
    * Formulation note (round-5 A/B, sf0.1 local[32]): a pair-linear
    * variant — cands ⋈ sh on doc_a, then left-semi on (doc_b, s) — was
    * measured at 10.5–13.8 s on q_jaccard_prefix vs 7.4 s for this
    * shA ⋈ shB ON s shape. The semi-join variant's Σ_pairs|A| rows carry
    * full shingle STRINGS through two shuffles, which costs more than
    * this join's Σ_s df²-bounded pair explosion at observed dfs; revisit
    * only if a corpus with genuinely hot candidate shingles (df ≫ 10³
    * among candidate docs) shows up in the verify profile.
    */
  def verifyJaccard(sh: DataFrame, cands: DataFrame,
                            verifyThreshold: Double,
                            sizes: DataFrame = null): DataFrame = {
    // `sizes` (doc_id, n_sh): callers that already aggregated per-doc
    // shingle counts (the prefix filter needs them for its own bound)
    // pass them in — recomputing here would be a SECOND full-corpus
    // aggregation + shuffle for a table the caller holds (guide §2.4).
    val sz = if (sizes != null) sizes
      else sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val shA = sh.join(cands.select(col("doc_a").as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi")
    val shB = sh.join(cands.select(col("doc_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi")
    val common = shA.as("x")
      .join(shB.as("y"), col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .join(cands, Seq("doc_a", "doc_b"), "left_semi")
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
    common
      .join(sz.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
      .withColumn("jaccard", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= verifyThreshold)
      .select("doc_a", "doc_b", "jaccard")
      .localCheckpoint() // eager: verified pairs are tiny; caller frees sh
  }

  /** Candidate pairs from a banded table (doc_id, band, bh): equi-join on
    * the band key, canonicalized doc_a < doc_b, deduped across bands.
    * Eagerly materialized (localCheckpoint) — verifyJaccard consumes the
    * candidate list three times, and the blocks are GC-reclaimed once the
    * caller drops the result (no catalog-pinned cache).
    */
  private def bandCandidates(banded: DataFrame): DataFrame =
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct().localCheckpoint()

  /** Portable banded signature table (doc_id, band, bh) over an
    * already-built shingle set: h_i(s) = ((2i+1)·H(s) + 12345i+1) mod M
    * over TextOps.mixedHash, band key = base-1000003 fold of the band's
    * minima. One definition shared by the full-corpus pair join, the
    * persisted corpus index, and the incremental new-batch probe — their
    * banding semantics cannot drift apart. ((2i+1)·H < 2^36,
    * fold < 2^52: ANSI-safe.)
    */
  def portableBanded(sh: DataFrame, numHashes: Int, bands: Int): DataFrame =
    bandKeysOf(portableSignatureCols(sh, numHashes), numHashes, bands)

  /** Portable MinHash signature table (doc_id, h0..h{numHashes-1}) over an
    * already-built shingle set — the corpus-scale half of
    * [[portableBanded]], split out so a band-count SWEEP signs the corpus
    * ONCE and re-bands the same minima per point: re-banding is a
    * numHashes-column fold over a doc-count-sized table, re-signing is a
    * full shingle aggregation (round-7 ask #2).
    */
  def portableSignatureCols(sh: DataFrame, numHashes: Int): DataFrame = {
    graft.functions.TextHash.register(sh.sparkSession)
    val m = TextOps.HashMod
    val hs = sh.withColumn("hs",
      TextOps.mixedOf(graft.functions.TextHash.portableHash(col("s"))))
    val mins = (0 until numHashes).map(i =>
      min(pmod(lit(2L * i + 1) * col("hs") + lit(12345L * i + 1), lit(m))).as(s"h$i"))
    hs.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Band keys (doc_id, band, bh) from an existing signature-column table:
    * base-1000003 fold of each band's minima — byte-identical to the keys
    * [[portableBanded]] derives, whatever `bands` divides `numHashes` by.
    */
  def bandKeysOf(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val m = TextOps.HashMod
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      (b * rows until (b + 1) * rows).foldLeft(lit(0L)) { (acc, i) =>
        pmod(acc * lit(1000003L) + col(s"h$i"), lit(m))
      }.as(s"bh$b")
    }
    sigs.select(col("doc_id"), posexplode(array(bandCols: _*)))
      .toDF("doc_id", "band", "bh")
  }

  /** UNVERIFIED banded candidates for every point of a band-count sweep,
    * tagged with the band count that surfaced them: ONE signature pass
    * over an already-built shingle table, one doc-count-sized re-band +
    * self-join per point. The sharing hook for eval queries that join the
    * candidates against an exact-truth pair set computed over the SAME
    * shingles — when the truth threshold equals the verify threshold,
    * candidates ∩ truth IS the verified sweep (prefix-filter truth is
    * complete), so no second verification pipeline is needed at all.
    */
  def bandSweepCandidates(sh: DataFrame, numHashes: Int,
                          bandCounts: Seq[Int]): DataFrame = {
    val sigs = portableSignatureCols(sh, numHashes).cache()
    try {
      sigs.count()
      bandCounts.map(b =>
        bandCandidatesOf(sigs, numHashes, b).withColumn("bands", lit(b)))
        .reduce(_ union _).localCheckpoint()
    } finally sigs.unpersist()
  }

  /** Candidate pairs for ONE band count from an existing signature-column
    * table (doc-count-sized re-band + band-bucket self-join; eagerly
    * materialized by [[bandCandidates]]) — the sharing hook for queries
    * that need the signature table itself (e.g. per-hash agreement
    * estimates) alongside the banded pairs.
    */
  def bandCandidatesOf(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val banded = bandKeysOf(sigs, numHashes, bands).cache()
    try { banded.count(); bandCandidates(banded) }
    finally banded.unpersist()
  }

  /** MinHash + LSH banding (X1 scale path) over the portable hash family:
    * signatures -> band keys -> equi-join on (band, bh) for candidates ->
    * verify with the exact Jaccard. Bands trade recall for cost:
    * P(candidate) = 1-(1-j^rows)^bands, so near-dups (j≈0.9) collide
    * w.h.p. while random pairs don't. Every step is replicable in DuckDB
    * SQL, so this is the oracle-checked pipeline.
    */
  def minhashLshPairsPortable(docs: DataFrame, n: Int, numHashes: Int,
                              bands: Int, verifyThreshold: Double): DataFrame =
    minhashLshPairsFromShingles(shingleSet(docs, n), numHashes, bands,
      verifyThreshold)

  /** [[minhashLshPairsPortable]] over an already-built shingle set — the
    * signature + band join + verify stages alone, for callers holding the
    * stamped per-snapshot shingle table (EntryHelpers.shingleDf3): the
    * corpus tokenize pass drops out of every consumer that shares it,
    * exactly like the ngram family's FromShingleDf variants. Both LSH
    * consumers at the suite's canonical operating point (q_minhash_lsh
    * live, q_weighted_jaccard through the stamped pair artifact) feed
    * from here, so their banding semantics cannot drift apart.
    */
  def minhashLshPairsFromShingles(sh0: DataFrame, numHashes: Int,
                                  bands: Int, verifyThreshold: Double): DataFrame = {
    val sh = sh0.cache()
    try {
      // one eager materialization: the signature aggregation scans sh
      // exactly once, so banded.count() fills BOTH caches sequentially —
      // the separate sh.count() it subsumes was one job round-trip of
      // pure overhead (guide §1.2). It must stay eager: bandCandidates
      // scans banded twice concurrently and verifyJaccard scans sh three
      // times concurrently (BlockManager first-touch race otherwise).
      val banded = portableBanded(sh, numHashes, bands).cache()
      val cands =
        try { banded.count(); bandCandidates(banded) }
        finally banded.unpersist()
      verifyJaccard(sh, cands, verifyThreshold)
    } finally sh.unpersist()
  }

  /** The LSH parameters a band index was built with. Probes and appends
    * `require` a match: a 32-hash probe against a 16-hash index would
    * otherwise SILENTLY return short pair lists.
    */
  private def lshSpec(n: Int, numHashes: Int, bands: Int): Stamped.Spec =
    Stamped.Spec("band index", "_graft_lsh_spec",
      s"""{"n":$n,"numHashes":$numHashes,"bands":$bands}""")()

  /** Materialize the portable band-signature INDEX of a corpus at `path`
    * (idempotent: a complete index is left untouched, so repeated runs —
    * and every later ingest batch — reuse one corpus-scale signature
    * pass). The index is (doc_id, band, bh) parquet laid out as
    * `path/batch=base/…`: later ingest batches APPEND their own
    * `batch=<stamp>/` partitions (see [[ingestPairs]]' `appendBatch`), so
    * the index grows with the corpus and batch N+2 finds batch N+1's
    * near-dups without any corpus re-sign. ~numHashes rows of three
    * smallints/longs per document, independent of document length — the
    * artifact that makes ingest-time dedup affordable at 100 TB.
    * Published through [[Stamped.publish]] with its parameter sidecar.
    */
  def ensureBandIndex(docs: DataFrame, path: String, n: Int,
                      numHashes: Int, bands: Int): Unit = {
    val spec = lshSpec(n, numHashes, bands)
    Stamped.publish(docs.sparkSession, path, spec) { dir =>
      portableBanded(shingleSet(docs, n), numHashes, bands)
        .withColumn("batch", lit("base"))
        .write.mode("overwrite").partitionBy("batch").parquet(dir)
      spec.want
    }
  }

  /** Incremental dedup of an arriving batch against a corpus whose band
    * index was persisted by [[ensureBandIndex]]: only the NEW docs are
    * shingled and signed; candidates come from the (band, bh) equi-join
    * of the new signatures against the stored index; the exact-Jaccard
    * verify scans just the CANDIDATE docs (batch-side shingles are
    * REUSED from the signature pass; only candidate corpus docs are
    * tokenized on demand through a semi-join-pruned scan). Per-doc
    * signatures depend only on that doc's own shingles, so the result
    * provably equals the full-corpus [[minhashLshPairsPortable]]
    * restricted to new-vs-corpus pairs (spec-asserted) — but the work
    * scales with |batch| + |candidates|, not |corpus|: the operational
    * shape of ingest-time dedup.
    *
    * Returns canonical (doc_a, doc_b, jaccard), doc_a < doc_b, exactly
    * one side from the batch.
    */
  def incrementalLshPairs(docs: DataFrame, isNew: Column, indexPath: String,
                          n: Int, numHashes: Int, bands: Int,
                          verifyThreshold: Double,
                          appendBatch: Option[String] = None): DataFrame =
    probeIndex(docs, isNew, indexPath, n, numHashes, bands, verifyThreshold,
      includeInternal = false, appendBatch)

  /** The FULL arriving-batch pair set in one pass: index-probe pairs
    * (batch vs corpus, as [[incrementalLshPairs]]) PLUS the batch's
    * internal near-dup pairs — the batch is shingled and signed exactly
    * ONCE, its banding feeds both the index equi-join and the in-batch
    * band self-join, and one exact-Jaccard verify covers the combined
    * candidate list. Equals [[minhashLshPairsPortable]] over the whole
    * corpus restricted to pairs with at least one batch side
    * (spec-asserted). This is what an ingest step actually consumes —
    * arrivals duplicate each other as often as they duplicate the
    * corpus — and what [[incrementalGroups]] folds into the stored
    * labels.
    *
    * `appendBatch = Some(stamp)` CLOSES the ingest loop: after the probe,
    * the batch's banded signatures — already computed and cached for the
    * candidate join — are written to the index as a `batch=<stamp>/`
    * partition (written once, [[Stamped.appendOnce]]), so the NEXT
    * batch's probe sees this one without a corpus re-sign. The append
    * reuses the cached banding; its only extra cost is the |batch|-sized
    * parquet write.
    */
  def ingestPairs(docs: DataFrame, isNew: Column, indexPath: String,
                  n: Int, numHashes: Int, bands: Int,
                  verifyThreshold: Double,
                  appendBatch: Option[String] = None): DataFrame =
    probeIndex(docs, isNew, indexPath, n, numHashes, bands, verifyThreshold,
      includeInternal = true, appendBatch)

  /** The index-GROWTH half of [[ingestPairs]] alone: band the batch's
    * signatures and append them as `batch=<batchId>/`, WITHOUT the probe
    * join or the exact-Jaccard verify. For callers that need the ingest
    * loop closed but never consume this batch's own pair set (e.g. the
    * multi-batch query discards batch 1's pairs — computing them was two
    * eager cache fills, a candidate checkpoint, and a corpus-side verify
    * scan of pure waste, guide §1.2: don't compute what you throw away).
    * Written once: a warm replay does not even read the batch.
    */
  def ensureBatchAppended(docs: DataFrame, isNew: Column, indexPath: String,
                          n: Int, numHashes: Int, bands: Int,
                          batchId: String): Unit = {
    val s = docs.sparkSession
    Stamped.requireSpec(s, indexPath, lshSpec(n, numHashes, bands))
    Stamped.appendOnce(s, indexPath, "band index", batchId)(
      portableBanded(shingleSet(docs.filter(isNew), n), numHashes, bands)
        .write.mode("overwrite").parquet(_))
  }

  private def probeIndex(docs: DataFrame, isNew: Column, indexPath: String,
                         n: Int, numHashes: Int, bands: Int,
                         verifyThreshold: Double,
                         includeInternal: Boolean,
                         appendBatch: Option[String] = None): DataFrame = {
    val s = docs.sparkSession
    Stamped.requireSpec(s, indexPath, lshSpec(n, numHashes, bands))
    // ONE tokenization of the batch serves signatures AND verification
    val newSh = shingleSet(docs.filter(isNew), n).cache()
    try {
      val newBanded = portableBanded(newSh, numHashes, bands).cache()
      val cands = try {
        // ONE eager materialization: banding scans newSh exactly once, so
        // this fills BOTH caches sequentially — the separate newSh.count()
        // it subsumes was a full scheduling round-trip of pure overhead
        // (guide §1.2). It stays EAGER because the candidate checkpoint
        // below scans newBanded up to three times concurrently (probe +
        // internal self-join sides) — first-touch cache races convoy on
        // BlockManager locks (the cappedScoredPairs lesson).
        newBanded.count()
        // a replayed batch may ALREADY sit in the index — prune its own
        // partition out of the probe (partition-pruned, so free) or the
        // re-run would see itself: self-pairs, and in-batch pairs leaking
        // through the incremental (no-internal) variant
        val index = appendBatch.foldLeft(s.read.parquet(indexPath)) {
          (ix, id) => ix.filter(col("batch") =!= id)
        }
        val probe = newBanded.as("a")
          .join(index.as("b"),
            col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
          .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
            greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
        val c = (if (includeInternal) probe.union(
            newBanded.as("a").join(newBanded.as("b"),
              col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
                col("a.doc_id") < col("b.doc_id"))
              .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")))
         else probe)
          .distinct().localCheckpoint()
        // candidates are materialized (eager checkpoint) — NOW the index
        // may grow; the cached banding is reused, so the append costs one
        // |batch|-sized parquet write
        appendBatch.foreach { id =>
          Stamped.appendOnce(s, indexPath, "band index", id)(
            newBanded.write.mode("overwrite").parquet(_))
        }
        c
      } finally newBanded.unpersist()
      val candIds = cands.select(col("doc_a").as("doc_id"))
        .union(cands.select(col("doc_b").as("doc_id"))).distinct()
      // corpus-side candidates are the only docs tokenized here; the
      // batch side semi-joins down to its candidate subset of newSh
      val shCand = newSh.join(candIds, Seq("doc_id"), "left_semi")
        .union(shingleSet(
          docs.filter(!isNew).join(candIds, Seq("doc_id"), "left_semi"), n))
        .cache()
      try {
        // eager: verifyJaccard scans shCand three times (sizes + both
        // semi-joined sides) concurrently inside its one checkpoint job —
        // its contract requires a materialized cache (BlockManager
        // first-touch race otherwise)
        shCand.count()
        verifyJaccard(shCand, cands, verifyThreshold)
      } finally shCand.unpersist()
    } finally newSh.unpersist()
  }

  /** The corpus's dedup-group labels: the minhash-LSH pair graph run
    * through [[dedupGroups]], as (id, group_id). This is the second
    * persisted artifact of the ingest loop — arrivals probe the band
    * index for pairs, then fold them into these labels with
    * [[incrementalGroups]] instead of re-running corpus CC.
    */
  def groupLabels(docs: DataFrame, n: Int, numHashes: Int, bands: Int,
                  verifyThreshold: Double): DataFrame =
    dedupGroups(docs.select("doc_id"),
        minhashLshPairsPortable(docs, n, numHashes, bands, verifyThreshold),
        "doc_id")
      .withColumnRenamed("doc_id", "id")

  /** [[groupLabels]] published once as a parquet root at `path`. */
  def ensureGroupLabels(docs: DataFrame, path: String, n: Int, numHashes: Int,
                        bands: Int, verifyThreshold: Double): Unit =
    Stamped.publish(docs.sparkSession, path)(
      groupLabels(docs, n, numHashes, bands, verifyThreshold)
        .write.mode("overwrite").parquet(_))

  /** Incremental connected-component maintenance: fold a batch of NEW
    * near-dup pairs into an existing fixpoint labeling without
    * recomputing corpus CC. CC is associative over edge union —
    * CC(E_old ∪ E_new) = CC(stars(CC(E_old)) ∪ E_new) — and only
    * components touching a new pair can change, so:
    *   1. seeds = prior labels of the new pairs' endpoints (an id absent
    *      from the labeling — a brand-new doc — labels itself);
    *   2. affected = prior rows whose group_id is a seed label;
    *   3. relabel affected ∪ new ids over the star edges (group_id, id)
    *      ∪ the new pairs — a touched-components-sized subgraph, never
    *      the corpus;
    *   4. every untouched row passes through unchanged.
    * `priorLabels` (id, group_id) MUST be a fixpoint labeling (group_id
    * = min reachable id), e.g. [[dedupGroups]] output — the result is
    * then the same fixpoint over the union graph (property-tested
    * against full recomputation on random edge splits, EngineProps).
    *
    * Scale shape: the corpus-sized label table is read three times:
    * by ONE semi-join and ONE anti-join, both keyed on group_id, and by
    * the seeds lookup in [[relabelTouched]]
    * (`ends.join(priorLabels, Seq("id"), "left")`), keyed on id.
    * Co-partitioning the stored labels by group_id collapses the first
    * two onto that layout but does not cover the id-keyed lookup; every
    * other operand is sized by the batch and its touched components.
    */
  def incrementalGroups(priorLabels: DataFrame, newPairs: DataFrame): DataFrame = {
    val (seeds, relabeled) = relabelTouched(priorLabels, newPairs)
    priorLabels.join(seeds, Seq("group_id"), "left_anti")
      .select("id", "group_id")
      .union(relabeled)
  }

  /** The TOUCHED-COMPONENT slice of [[incrementalGroups]] alone — every
    * (id, group_id) the batch's pairs could have changed (the relabeled
    * components ∪ the batch's endpoints), WITHOUT the corpus-sized
    * pass-through. This is the per-batch DELTA a versioned label store
    * writes: at 100 TB the full labeling is billions of rows, while a
    * batch touches |batch| + its components — writing the delta keeps
    * per-batch I/O batch-sized ([[graft.streaming.IngestDedup]]'s label
    * versions fold deltas with latest-version-wins). Unchanged members
    * of a touched component are included (their re-derived label equals
    * the old one) — the fold is idempotent per id, so over-writing a
    * few unchanged rows costs bytes, not correctness.
    */
  def incrementalGroupsDelta(priorLabels: DataFrame,
                             newPairs: DataFrame): DataFrame =
    relabelTouched(priorLabels, newPairs)._2

  /** Steps 1–3 of [[incrementalGroups]], shared with its delta: the seed
    * labels (group_id) of the components the new pairs touch, and those
    * components relabeled (id, group_id) over the star edges ∪ the new
    * pairs.
    */
  private def relabelTouched(priorLabels: DataFrame,
                             newPairs: DataFrame): (DataFrame, DataFrame) = {
    // materialized once: endpoints, the subgraph union, and (via
    // dedupGroups) the edge cache all re-reference the pair list
    val p = newPairs.select("doc_a", "doc_b").localCheckpoint()
    val ends = p.select(col("doc_a").as("id"))
      .union(p.select(col("doc_b").as("id"))).distinct()
    val seeds = ends.join(priorLabels, Seq("id"), "left")
      .select(coalesce(col("group_id"), col("id")).as("group_id")).distinct()
    val affected = priorLabels.join(seeds, Seq("group_id"), "left_semi")
    val starEdges = affected.filter(col("id") =!= col("group_id"))
      .select(col("group_id").as("doc_a"), col("id").as("doc_b"))
    val subNodes = affected.select("id").union(ends).distinct()
    (seeds, dedupGroups(subNodes, starEdges.union(p), "id").select("id", "group_id"))
  }

  /** Connected components over a near-dup pair list: every doc gets the
    * MINIMUM doc_id reachable through the similarity graph as `group_id`
    * (singletons keep their own id) — the step that turns pairwise dedup
    * output into keep-one-per-group.
    *
    * Min-label propagation: each round every node takes the min of its own
    * label and its neighbors' labels; converges in O(graph diameter)
    * rounds. Near-dup graphs at corpus scale are overwhelmingly tiny
    * cliques/chains (diameter ≤ a few), so the loop runs 2-4 rounds; the
    * driver only ever sees per-round change COUNTS, never rows. (The
    * classic large-star/small-star halving is the upgrade path if a
    * pathological long-chain graph ever appears.)
    */
  def dedupGroups(docs: DataFrame, pairs: DataFrame, idCol: String,
                  maxIter: Int = 20): DataFrame = {
    // the union references the pair list TWICE — materialize it once, or a
    // lazy upstream pipeline (e.g. banded LSH candidates) executes twice
    // inside the edge-cache build. Skipped only when the input IS a
    // materialized scan (a bare checkpoint, at most trivially projected —
    // ngramJaccardPairs checkpoints its result): a forall-over-leaves test
    // would misclassify an expensive lazy plan BUILT ON checkpointed
    // inputs and re-introduce the double execution.
    val preMaterialized = {
      import org.apache.spark.sql.catalyst.plans.logical.Project
      import org.apache.spark.sql.execution.LogicalRDD
      pairs.queryExecution.analyzed match {
        case _: LogicalRDD => true
        case p: Project => p.child.isInstanceOf[LogicalRDD]
        case _ => false
      }
    }
    val p0 = pairs.select("doc_a", "doc_b")
    val p = if (preMaterialized) p0 else p0.localCheckpoint()
    // Adjacency WITH SELF-LOOPS, built once and cached CLUSTERED+SORTED
    // on the per-round join key (guide §2.4; the PPR/PageRank pre-table
    // discipline), partition count derived from the edge count rather
    // than the static shuffle.partitions (guide §2.1; graft.ops.Sizing —
    // a cached plan's pinned partitioning would otherwise drag 32
    // near-empty partitions through every round at small scale).
    //
    // The self-loop (id, id) row per node is the restructure that
    // collapses a round to ONE join + ONE aggregate: min over the closed
    // neighborhood {own} ∪ neighbors comes straight out of the group-by
    // (the pre-r13 shape needed a left join + coalesce to fold the own
    // label back in, plus a pointer-jump join — three joins per round,
    // each a separate AQE stage/job on node-sized frames). The self-loop
    // row also carries the node's INPUT label out of the aggregation
    // (min over the single dst = src row), so per-barrier change
    // detection costs no extra join either.
    val nPairs = p.count()
    val e0 = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // Iterate ONLY over docs that appear in an edge: a doc in no pair can
    // never change label, so the propagation loop runs on the near-dup set
    // (tiny compared to the corpus — at 100 TB this is the difference
    // between looping over duplicates and looping over everything);
    // singletons are appended at the end with their own id.
    val ids = e0.select(col("src").as("id")).distinct().localCheckpoint()
    val np = graft.ops.Sizing.loopPartitions(p, 2 * nPairs, bytesPerRow = 48L)
    val adj = e0.union(ids.select(col("id").as("src"), col("id").as("dst")))
      .repartition(np, col("dst")).sortWithinPartitions("dst")
      .cache()
    // localCheckpoint (not cache) each barrier: caching keeps the LOGICAL
    // plan, so iteration k's lineage nests k joins — analysis and codegen
    // grow per round and every round compiles fresh classes. Checkpointing
    // truncates the plan to the materialized partitions; every iteration
    // then plans and compiles the same constant-depth shape. Superseded
    // rounds' checkpoint blocks (small: one (id, label) pair per edge doc)
    // are released by the ContextCleaner once the loop drops its references
    // — they are not Dataset caches, so catalog.clearCache does not see them.
    try {
      var labels: DataFrame = ids.withColumn("group_id", col("id"))
      var iter = 0
      var converged = false
      // One propagation round over lbl (id, group_id): every node takes
      // min(own ∪ neighbors) — own included via its self-loop row — and
      // `old` = the node's input label (the self-loop row's group_id),
      // for change detection. No pointer jump: the round-12 measurements
      // showed jump composition is vacuous for min-label propagation
      // (the propagated label is usually the region minimum, whose own
      // label is itself; 12 rounds with 1 jump AND with 3), and this
      // round's measurement confirms dropping it entirely keeps the
      // round count while removing two joins per round.
      def round(lbl: DataFrame): DataFrame =
        adj.select(col("dst").as("id"), col("src"))
          .join(lbl.select("id", "group_id"), Seq("id"))
          .groupBy(col("src"))
          .agg(min("group_id").as("group_id"),
            min(when(col("id") === col("src"), col("group_id"))).as("old"))
          .withColumnRenamed("src", "id")
      while (!converged && iter < maxIter) {
        // TWO rounds per convergence barrier, change detection INSIDE the
        // materializing job via observe() (metrics ride the checkpoint
        // action) — no separate per-round count job, half the barriers,
        // and the two-round chain is strictly LINEAR (round 2 consumes
        // round 1 exactly once), so nothing recomputes. `changed`
        // compares round 2 against its own input (round 1): zero means
        // round(r1) == r1, i.e. r1 is a fixpoint of the round function,
        // so stopping is exact — labels only shrink, and a barrier whose
        // FIRST round already converged observes zero too.
        val obs = org.apache.spark.sql.Observation()
        labels = round(round(labels).select("id", "group_id"))
          .observe(obs, count(when(col("group_id") =!= col("old"), lit(1))).as("changed"))
          .select("id", "group_id")
          .localCheckpoint()
        converged = obs.get("changed").asInstanceOf[Long] == 0
        iter += 2
      }
      // Silent non-convergence would return plausible-but-wrong group ids
      // (far ends of a long chain keep intermediate labels) — escalate to
      // the star algorithm, whose round count is O(log n) regardless of
      // graph diameter, instead of failing. (Hand it the materialized
      // pair list, not the original lazy plan.)
      if (!converged) dedupGroupsStar(docs, p, idCol)
      else docs.select(col(idCol).as("id")).distinct()
        .join(labels, Seq("id"), "left")
        .select(col("id").as(idCol),
          coalesce(col("group_id"), col("id")).as("group_id"))
    } finally adj.unpersist()
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): same output contract as [[dedupGroups]] — every doc labeled
    * with the minimum id reachable in the pair graph — but the round count
    * is O(log n) in the COMPONENT SIZE, not O(diameter), so a pathological
    * long-chain similarity graph (where min-label propagation needs one
    * round per hop) converges in a dozen rounds at any scale.
    *
    * Per round, both operations are one groupBy + one equi-join on node
    * ids — shuffle-friendly, no driver-side rows, localCheckpoint keeps
    * the plan constant-depth:
    *  - large-star: every neighbor v > u re-attaches to m(u) = min of
    *    u's closed neighborhood (halves deep trees);
    *  - small-star: every neighbor v < u (and u itself) re-attaches to
    *    u's minimum smaller neighbor (flattens local stars).
    * The fixpoint is a star forest: each component's edges all point at
    * its minimum node, which is exactly the group label.
    */
  def dedupGroupsStar(docs: DataFrame, pairs: DataFrame, idCol: String,
                      maxIter: Int = 50): DataFrame = {
    // canonical undirected edge list (v < u) in the ids' NATIVE type —
    // least/greatest/min order any orderable column, and a cast would
    // silently null out non-numeric ids — self-loops dropped
    var edges = pairs
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("v"), greatest(col("a"), col("b")).as("u"))
      .distinct().localCheckpoint()
    var iter = 0
    var converged = edges.isEmpty
    while (!converged && iter < maxIter) {
      // large-star: for every directed (u, v) with v > u, link v to
      // m(u) = min(Γ(u) ∪ {u}); m < v always, so (m, v) is canonical
      val adj = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val lmin = adj.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val large = adj.join(lmin, "u").filter(col("v") > col("u"))
        .select(col("m").as("v"), col("v").as("u"))
        .distinct().localCheckpoint()
      // small-star: per node u, link every smaller neighbor (and u) to
      // u's minimum smaller neighbor
      val smin = large.groupBy("u").agg(min("v").as("m"))
      val small = large.join(smin, "u")
        .select(col("m").as("nv"), col("v").as("nu"))
        .union(smin.select(col("m").as("nv"), col("u").as("nu")))
        .filter(col("nv") =!= col("nu"))
        .select(col("nv").as("v"), col("nu").as("u"))
        .distinct().localCheckpoint()
      // fixpoint test: the edge set no longer changes (counts are cheap
      // first gate; the except() only runs when counts already agree)
      converged = small.count() == edges.count() &&
        small.exceptAll(edges).isEmpty
      edges = small
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dedupGroupsStar did not converge in $maxIter rounds — " +
          "this exceeds the O(log n) bound and indicates a bug, not a " +
          "graph shape; do not raise maxIter to paper over it")
    // star forest: each non-root u has exactly one (root v, u) edge
    docs.select(col(idCol).as("id")).distinct()
      .join(edges.select(col("u").as("id"), col("v").as("root")), Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("root"), col("id")).as("group_id"))
  }

  /** Width of the portable SimHash signature. */
  private val SimhashBits = 56

  /** 56-bit portable SimHash: each bit is the sign of the sum of ±1 votes
    * from every distinct token's hash bit; two independent 28-bit mixed
    * portable hashes (TextOps.mixedHash with different multipliers) supply
    * bits 0-27 and 28-55. Every step is DuckDB-replicable, so
    * [[simhashPairsPortable]] is oracle-checked. One groupBy with 56
    * partial-aggregable sums — map-side combined, single shuffle.
    */
  def simhashSignaturesPortable(docs: DataFrame): DataFrame = {
    graft.functions.TextHash.register(docs.sparkSession)
    val half = SimhashBits / 2
    val ph = graft.functions.TextHash.portableHash(col("w"))
    val tok = rebalanced(docs)
      .select(col("doc_id"),
        explode(array_distinct(TextOps.tokens(col("text")))).as("w"))
      .withColumn("h1", TextOps.mixedOf(ph))
      .withColumn("h2", TextOps.mixedOf(ph, mult = TextOps.AltMixMult))
    val sums = (0 until 2 * half).map { b =>
      val (src, bb) = if (b < half) ("h1", b) else ("h2", b - half)
      sum(when(expr(s"($src >> $bb) & 1") === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val sig = (0 until 2 * half)
      .map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    tok.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), sig.as("sig"))
  }

  /** SimHash near-dup pairs: band the portable signature
    * ([[simhashSignaturesPortable]]) into 4 equal bit slices;
    * by pigeonhole any pair within Hamming distance 3 shares at least one
    * exact band — equi-join on (band, bits), then verify the true Hamming
    * distance with bit_count(xor).
    */
  def simhashPairsPortable(docs: DataFrame, maxHamming: Int): DataFrame = {
    val numBands = 4
    require(maxHamming < numBands,
      s"$numBands bands only guarantee distance <= ${numBands - 1}")
    val bandBits = SimhashBits / numBands
    val mask = (1L << bandBits) - 1
    // cached: the per-bit-sum signature aggregation is the expensive
    // subtree; the self-join must not compute it twice. Released after the
    // (eager) pair join — the small pair list is what survives the call.
    val banded = simhashSignaturesPortable(docs).select(col("doc_id"), col("sig"),
        posexplode(array((0 until numBands).map(j => expr(s"(sig >> ${bandBits * j}) & $mask")): _*)))
      .toDF("doc_id", "sig", "band", "bits").cache()
    try {
      banded.count()
      // Emit each candidate pair from its FIRST shared band only: the
      // joined band's predecessors must all differ, checked in-row (both
      // sides carry the full signature). This replaces the post-join
      // distinct() — a full extra shuffle of the candidate stream, the
      // largest intermediate of the whole pipeline at corpus scale —
      // with a predicate evaluated inside the join stage (guide §2.4:
      // remove shuffles outright). Within one band a pair joins at most
      // once (banded has exactly one row per (doc, band)), so
      // first-shared-band emission is exactly once per candidate pair —
      // the same pair set distinct() produced.
      val firstShared = (0 until numBands - 1).map { j =>
        col("a.band") <= j ||
          expr(s"((a.sig >> ${bandBits * j}) & $mask) != " +
            s"((b.sig >> ${bandBits * j}) & $mask)")
      }.reduce(_ && _)
      banded.as("a")
        .join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
            col("a.doc_id") < col("b.doc_id") && firstShared)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("cast(bit_count(a.sig ^ b.sig) as int)").as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .localCheckpoint()
    } finally banded.unpersist()
  }

  /** ExactSubstr-style duplicated-region statistics (Lee, Ippolito et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better" —
    * the char-level companion of the paper's suffix-array pass): a
    * character position is DUPLICATED when the k-char substring starting
    * there occurs at least twice in the corpus, and a document's
    * duplicated REGIONS are the merged [p, p+k) intervals over its
    * duplicated positions. The paper's single-node suffix array exists to
    * answer "does this k-substring repeat?" in bounded memory; on Spark
    * the same predicate is one combinable char-k-gram count + one
    * equi-join back — the sorted-neighbor LCP ≥ k test and the k-gram
    * count ≥ 2 test are EXACTLY equivalent (among sorted suffixes, the
    * longest prefix shared with any other suffix is shared with an
    * adjacent one), so no global suffix sort is needed. Scale shape:
    * gram stream is the corpus char stream (n·L rows, the method's
    * irreducible input), count is map-side combinable, hot grams meet a
    * one-row count side, interval merge is a per-doc window.
    *
    * Returns one row per document: (doc_id, total_chars, dup_chars,
    * n_spans, dup_ratio) — dup_ratio rounded to 9 (the libm-parity
    * convention).
    */
  def exactSubstrDupStats(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k=$k")
    // char k-grams via the linear-pass CharShingles kernel (positions are
    // 0-based, matching the sequence(0, len-k) + substring(p+1, k) form
    // this replaces): Substring re-scans codepoints from the string start
    // on every call — O(len²) per document on the corpus char stream,
    // this method's irreducible input (round 12, guide §4).
    graft.functions.CharShingles.register(docs.sparkSession)
    val grams = docs.filter(length(col("text")) >= k)
      .select(col("doc_id"),
        posexplode(graft.functions.CharShingles.charShingles(col("text"), k))
          .as(Seq("p", "g")))
    val dupGrams = grams.groupBy("g").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("g")
    val dupPos = grams.join(dupGrams, "g").select("doc_id", "p")
    val w = Window.partitionBy("doc_id").orderBy("p")
    val spans = dupPos
      .withColumn("maxEnd", max(col("p") + k)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("maxEnd").isNull || col("p") > col("maxEnd"), 1).otherwise(0))
      .withColumn("isle", sum("ni").over(w))
      .groupBy("doc_id", "isle")
      .agg(min("p").as("s"), (max(col("p")) + k).as("e"))
    val perDoc = spans.groupBy("doc_id")
      .agg(sum((col("e") - col("s")).cast("long")).as("dup_chars"),
        count(lit(1)).as("n_spans"))
    docs.select(col("doc_id"), length(col("text")).cast("long").as("total_chars"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("dup_chars", "n_spans"))
      .withColumn("dup_ratio", round(col("dup_chars").cast("double") /
        greatest(col("total_chars"), lit(1L)).cast("double"), 9))
  }
}
