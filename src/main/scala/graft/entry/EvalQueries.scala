package graft.entry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.entry.EntryHelpers._
import graft.sources.Tables
import graft.text.Dedup

/** Round-6 curation/embedding EVALUATION queries — the engine measuring
  * its own approximate pipelines, with recall/agreement as hash-checked
  * DATA (not just spec assertions): LSH dedup recall vs the exact
  * prefix-filter truth, ANN recall@10 vs exact cosine, kNN label
  * agreement, lang-id confusion, plus the curation analytics that ride
  * the same machinery (sorted-neighborhood blocking, perplexity,
  * char-trigram profiles, curriculum buckets, dup-rate provenance,
  * embedding variance/drift, MMR diversification, streaming top-k).
  *
  * Same conventions as every entry module: exact integer counts, one
  * rounded transcendental per term, exact-decimal accumulation, an
  * explicit unique-key orderBy, and a DuckDB oracle twin per query.
  */
private[graft] object EvalQueries {

  /** X1+ sorted-neighborhood blocking (the entity-resolution classic):
    * sort documents by a normalized key, compare each doc only to its w=2
    * successors WITHIN its 2-char prefix block — per-block windows keep
    * the sort distributed (no global single-partition window), candidate
    * count ≤ 2·n, then an exact token-Jaccard verify keeps real matches.
    * The cheap deterministic complement to MinHash-LSH for short keys.
    */
  /** Sorted-neighborhood candidate pairs (da, db, ta, tb, la, lb) — the
    * shared blocking pass of q_sorted_blocking and q_record_linkage:
    * normalized-key sort, w=2 successors within 2-char prefix blocks
    * (per-block windows, no global single-partition sort), ≤ 2·n pairs.
    */
  private def blockedCandidates(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), trim(lower(col("text"))).as("nt"))
      .withColumn("key", substring(col("nt"), 1, 16))
      .withColumn("blk", substring(col("nt"), 1, 2))
    val wo = Window.partitionBy("blk").orderBy("key", "doc_id")
    val x = docs
      .withColumn("b1", lead("doc_id", 1).over(wo)).withColumn("t1", lead("nt", 1).over(wo))
      .withColumn("l1", lead("lang", 1).over(wo))
      .withColumn("b2", lead("doc_id", 2).over(wo)).withColumn("t2", lead("nt", 2).over(wo))
      .withColumn("l2", lead("lang", 2).over(wo))
    def pairsAt(b: String, t: String, l: String): DataFrame = x.filter(col(b).isNotNull)
      .select(col("doc_id").as("da"), col(b).as("db"), col("nt").as("ta"),
        col(t).as("tb"), col("lang").as("la"), col(l).as("lb"))
    pairsAt("b1", "t1", "l1").union(pairsAt("b2", "t2", "l2"))
  }

  private def toks(c: Column): Column = array_distinct(split(c, "\\s+"))

  /** X1+ sorted-neighborhood blocking (the entity-resolution classic):
    * the shared [[blockedCandidates]] pass plus an exact token-Jaccard
    * verify — the cheap deterministic complement to MinHash-LSH for
    * short keys.
    */
  private def qSortedBlocking(s: SparkSession, dir: String): DataFrame = {
    val cand = blockedCandidates(s, dir)
    val inter = size(array_intersect(toks(col("ta")), toks(col("tb"))))
    val uni = size(toks(col("ta"))) + size(toks(col("tb"))) - inter
    cand
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        round(inter.cast("double") / uni.cast("double"), 9).as("jaccard"))
      .filter(col("jaccard") >= 0.3)
      .orderBy("doc_a", "doc_b")
  }

  /** X1+ record-linkage scoring over the blocked candidates: per-field
    * agreement (language match, length ratio, token Jaccard) combined
    * into one weighted score — the Fellegi-Sunter-style "same entity?"
    * ranking every master-data pipeline runs after blocking. Every field
    * score is one rounded deterministic expression; the filter keeps
    * plausible links only.
    */
  private def qRecordLinkage(s: SparkSession, dir: String): DataFrame = {
    val cand = blockedCandidates(s, dir)
    val inter = size(array_intersect(toks(col("ta")), toks(col("tb"))))
    val uni = size(toks(col("ta"))) + size(toks(col("tb"))) - inter
    val lm = (col("la") === col("lb")).cast("double")
    val lr = round(least(length(col("ta")), length(col("tb"))).cast("double")
      / greatest(length(col("ta")), length(col("tb"))).cast("double"), 9)
    val j = round(inter.cast("double") / uni.cast("double"), 9)
    cand
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        lm.cast("int").as("lang_match"), lr.as("len_ratio"), j.as("jaccard"),
        round(lm + lr + j * 2.0, 9).as("score"))
      .filter(col("score") >= 2.0)
      .orderBy("doc_a", "doc_b")
  }

  /** X1+ n-gram novelty curve: per document, the fraction of its
    * distinct shingles whose FIRST occurrence (lowest doc_id) is this
    * document — the marginal-information signal of dataset ordering
    * (deduplicated corpora trend high; boilerplate-heavy tails trend
    * low). One shingle pass, one combinable min, one key join.
    */
  private def qNgramNovelty(s: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingleSet(Tables.table(s, dir, "documents"), n = 3)
    val first = sh.groupBy("s").agg(min("doc_id").as("fd"))
    sh.join(first, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_shingles").cast("double"), 9)
          .as("novelty"))
      .orderBy("doc_id")
  }

  /** X3+ per-document unigram perplexity under the corpus's own language
    * model — the fluency/outlier score of pretraining curation (a doc the
    * corpus LM finds surprising is boilerplate, noise, or off-domain).
    * Token counts are exact; each distinct token costs one rounded -ln(p);
    * per-doc accumulation is exact decimal; one exp at the end (rounded
    * to 6). Join is token→vocab (broadcast-sized), aggregation
    * map-side-combinable — linear at any SF.
    */
  private def qPerplexity(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.table(s, dir, "documents")
      .select(col("doc_id"), explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("cw"))
    val tot = toks.agg(count(lit(1)).as("nt"))
    val nll = round(-log(col("cw").cast("double") / col("nt").cast("double")), 9)
      .cast(DecimalType(28, 9))
    // the per-doc NLL total leaves the decimal domain as exact BIGINT
    // NANOS, not a decimal→double cast: the engines' decimal→double
    // conversions disagree at the last ULP once sf0.1-scale totals hit
    // ~1e2 (the q_sql_promo_share pathology — surfaced by the sf0.1
    // correctness sweep, round 8), while int64→double is the identical
    // correctly-rounded conversion everywhere
    val avg = col("nll_nanos").cast("double") /
      (col("n_tokens").cast("double") * 1.0e9)
    toks.join(vocab, "w").crossJoin(broadcast(tot))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tokens"), sum(nll).as("nllsum"))
      .withColumn("nll_nanos",
        (col("nllsum") * lit(1000000000L)).cast("long")) // decimal ×1e9 is exact
      .select(col("doc_id"), col("n_tokens"),
        round(avg, 9).as("avg_nll"), round(exp(avg), 6).as("ppl"))
      .orderBy("doc_id")
  }

  /** X3+ language-ID confusion matrix: the heuristic classifier
    * (q_lang_id's stopword-ratio rule) evaluated against the labeled
    * lang column — per (label, prediction) counts plus row-share. The
    * eval harness every classifier in the curation stack needs; one
    * combinable count over the per-doc pass.
    */
  private def qLangidConfusion(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(graft.text.TextOps.tokens(col("text"))).as("w"))
    val pred = tok.groupBy("doc_id", "lang")
      .agg((count(when(col("w").isin(graft.text.TextOps.EnStopwords: _*), 1)).cast("double") /
        count(lit(1))).as("stop_ratio"))
      .withColumn("predicted", when(col("stop_ratio") >= 0.08, "en").otherwise("other"))
    val cells = pred.groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
    val rows = cells.groupBy("lang").agg(sum("n").as("n_lang"))
    cells.join(broadcast(rows), "lang")
      .select(col("lang"), col("predicted"), col("n"),
        round(col("n").cast("double") / col("n_lang").cast("double"), 9).as("row_share"))
      .orderBy("lang", "predicted")
  }

  /** X3+ curriculum buckets: documents ranked by quality score into
    * deciles via the same distributed prefix-sum rank as q_rfm (no
    * global ntile window), per-bucket count and exact-decimal mean
    * score — the difficulty schedule of curriculum training.
    */
  private def qCurriculumBuckets(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.table(s, dir, "documents")
      .select(col("doc_id"), graft.text.TextOps.qualityScore(col("text")).as("score"))
      .localCheckpoint()
    val n = scored.count()
    val ranked = graft.ops.Ordered.prefixSum(scored,
      Seq(col("score").desc, col("doc_id")), lit(1L), "idx")
    ranked.select(expr(s"(idx * 10) div $n").as("bucket"),
        round(col("score"), 9).cast(DecimalType(28, 9)).as("sq"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        round(sum("sq").cast("double") / count(lit(1)).cast("double"), 9).as("mean_score"))
      .orderBy("bucket")
  }

  /** X2+ kNN classification over the embedding LSH index: predict each
    * document's language from the majority label of its 5 banded-LSH
    * nearest neighbors (count-desc/lang-asc tie rule) and compare to the
    * labeled column — the standard embedding-quality probe ("do neighbors
    * share labels?"). Reuses the q_knn_join machinery (band self-join +
    * rank window, never n²); votes are exact counts.
    */
  private def qKnnClassify(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val knn = knnTop5(s, dir)
    val labels = Tables.table(s, dir, "documents").select(col("doc_id"), col("lang"))
    val votes = knn.join(labels, knn("vec_id") === labels("doc_id"))
      .groupBy(col("query_id"), col("lang").as("nlang"))
      .agg(count(lit(1)).as("v"))
    val w = Window.partitionBy("query_id").orderBy(col("v").desc, col("nlang"))
    val pred = votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("nlang").as("predicted"))
    pred.join(labels, pred("query_id") === labels("doc_id"))
      .select(col("doc_id"), col("lang").as("actual"), col("predicted"),
        (col("lang") === col("predicted")).as("correct"))
      .orderBy("doc_id")
  }

  /** X1+ LSH recall evaluation: the MinHash-LSH pair pipeline measured
    * against the EXACT threshold-pair truth from the lossless prefix
    * filter (same shingle definition, same 0.5 threshold) — TP/FN counts
    * and recall as data, the "measure your dedup, don't trust it" gate a
    * production curation stack runs per corpus snapshot. Both sides share
    * ONE corpus shingle pass, and the LSH side needs no verification
    * pipeline of its own: truth and verify thresholds coincide and
    * prefix-filter truth is complete, so banded candidates ∩ truth IS the
    * verified LSH pair set (same fusion as q_dedup_band_sweep).
    */
  private def qNearDupEval(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(s, dir, "documents")
    // truth reads the stamped lossless-prefix artifact; the shingle pass
    // feeds only the LSH side now, so it is single-use (no cache dance)
    val truth = truthPairsT05(s, dir).select("doc_a", "doc_b")
    val cands = Dedup.bandSweepCandidates(Dedup.shingleSet(docs, n = 3),
      numHashes = 16, bandCounts = Seq(4))
    val lsh = cands.join(truth, Seq("doc_a", "doc_b"))
      .select("doc_a", "doc_b").localCheckpoint()
    val joined = truth.withColumn("in_t", lit(1L))
      .join(lsh.withColumn("in_l", lit(1L)), Seq("doc_a", "doc_b"), "full_outer")
    joined.agg(
        sum(coalesce(col("in_t"), lit(0L))).as("n_truth"),
        sum(coalesce(col("in_l"), lit(0L))).as("n_lsh"),
        sum(when(col("in_t").isNotNull && col("in_l").isNotNull, 1L).otherwise(0L)).as("tp"))
      .select(col("n_truth"), col("n_lsh"), col("tp"),
        (col("n_truth") - col("tp")).as("fn"),
        round(col("tp").cast("double") / col("n_truth").cast("double"), 9).as("recall"))
  }

  /** X2+ embedding centroid drift: per-dimension fixed-point means of two
    * corpus halves (even vs odd ids — the snapshot-vs-snapshot shape) and
    * their gap — the cheap "did my embedding distribution move" monitor;
    * one combinable aggregate per half, dim-bounded output.
    */
  private def qCentroidDrift(s: SparkSession, dir: String): DataFrame = {
    val pts = Tables.table(s, dir, "embeddings")
      .select(pmod(col("vec_id"), lit(2L)).as("half"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("half"), col("pos"),
        (floor(col("v").cast("double") * 1000000).cast("long") + 1000000L).as("e"))
    val means = pts.groupBy("half", "pos").agg(expr("sum(e) div count(1)").as("m"))
    means.groupBy("pos")
      .agg(max(when(col("half") === 0, col("m"))).as("mean_even"),
        max(when(col("half") === 1, col("m"))).as("mean_odd"))
      .select(col("pos"), col("mean_even"), col("mean_odd"),
        (col("mean_even") - col("mean_odd")).as("drift"))
      .orderBy("pos")
  }

  /** DQ duplicate-rate report by source: the near-dup CC groups
    * (q_dedup_groups' pipeline) joined back to provenance — which
    * source is feeding the corpus duplicates. Group sizes are exact;
    * one rounded division per source.
    */
  private def qDupRateBySource(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(s, dir, "documents")
    val groups = njGroups(s, dir)
    val sizes = groups.groupBy("group_id").agg(count(lit(1)).as("gsz"))
    val flagged = groups.join(sizes, "group_id")
      .select(col("doc_id"), (col("gsz") > 1).cast("long").as("is_dup"))
    docs.select("doc_id", "source").join(flagged, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("is_dup").as("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        round(col("n_dup_docs").cast("double") / col("n_docs").cast("double"), 9)
          .as("dup_rate"))
      .orderBy("source")
  }

  /** X3+ per-language character-trigram profile: top-10 trigrams by
    * count (trigram-asc ties) — the statistical signature real lang-id
    * models use. In-row position explode (no self-join), one combinable
    * count, bounded-heap per-group top-k.
    */
  private def qCharTrigrams(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // One linear codepoint walk per document (graft.functions.
    // CharShingles) instead of `transform(sequence(...), i ->
    // substring(nt, i, 3))`: the lambda is CodegenFallback AND every
    // substring call re-scans codepoints from the string start — O(len²)
    // per doc, measured as this query's entire 2.4 s cost at sf0.1 (the
    // codegen'd explode+substring spelling keeps the quadratic scan and
    // measured no better). Trigram multiset identical, incl. the
    // short-doc and NULL edge cases (see the kernel's scaladoc).
    graft.functions.CharShingles.register(s)
    val tri = Tables.table(s, dir, "documents")
      .select(col("lang"), trim(lower(col("text"))).as("nt"))
      .select(col("lang"),
        explode(graft.functions.CharShingles.charShingles(col("nt"), 3)).as("tri"))
    val cnt = tri.groupBy("lang", "tri").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang").orderBy(col("n").desc, col("tri"))
    cnt.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .orderBy("lang", "rk")
  }

  /** X2+ per-dimension embedding variance — the dead/dominant-dimension
    * audit before whitening or PQ subspace splits: n, Σe exact BIGINTs
    * over the fixed-point values; Σe² accumulated in Decimal(38,0)
    * (e² ≤ 4e12 per row, so a BIGINT sum would overflow under ANSI past
    * ~2.3M vectors while DuckDB HUGEINT-promotes — the decimal sum keeps
    * both engines exact at any corpus size); variance in doubles over
    * exact integers. Dim-bounded output.
    */
  private def qDimVariance(s: SparkSession, dir: String): DataFrame = {
    val pts = Tables.table(s, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("pos"),
        (floor(col("v").cast("double") * 1000000).cast("long") + 1000000L).as("e"))
    val agg = pts.groupBy("pos").agg(count(lit(1)).as("n"), sum("e").as("se"),
      sum((col("e") * col("e")).cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("sq"))
    val (n, se, sq) = (col("n").cast("double"), col("se").cast("double"),
      col("sq").cast("double"))
    // report in ORIGINAL float units: the fixed-point micro² scale (~1e10)
    // has more significant digits than round-9 doubles can pin cross-engine
    agg.select(col("pos"), col("n"),
        round(se / n / 1e6 - 1.0, 9).as("mean"),
        round((n * sq - se * se) / (n * n) / 1e12, 9).as("variance"))
      .orderBy("pos")
  }

  /** X2+ maximal marginal relevance (MMR) — diversified top-5 from the
    * query's cosine top-10 shortlist: greedy argmax of
    * 0.7·sim(q,d) − 0.3·max sim(d, selected), the retrieval-stack
    * de-redundancy step. All iterations run over the k-bounded shortlist
    * (corpus work = the one top-k scan); every score one rounded
    * expression; vec_id ties pin the greedy order cross-engine.
    */
  private def qMmr(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.table(s, dir, "embeddings")
    val cands = graft.sim.Similarity.topkCosine(s, emb, queryId = 0L, k = 10)
      .localCheckpoint()
    val withE = cands.join(emb, "vec_id").select(col("vec_id"), col("sim"), col("embedding"))
    val ps = withE.select(col("vec_id").as("x"), col("embedding").as("ea"))
      .join(withE.select(col("vec_id").as("y"), col("embedding").as("eb")),
        col("x") =!= col("y"))
      .select(col("x"), col("y"),
        graft.functions.Vectors.cosineSim(s, "ea", "eb").as("psim"))
      .localCheckpoint()
    var sel = cands.orderBy(col("sim").desc, col("vec_id")).limit(1)
      .select(col("vec_id"), lit(1).as("rk"), round(col("sim") * 0.7, 9).as("score"))
      .localCheckpoint()
    for (k <- 2 to 5) {
      val pen = ps.join(sel.select(col("vec_id").as("y")), "y")
        .groupBy(col("x").as("vec_id")).agg(max("psim").as("mp"))
      val pick = cands.join(pen, "vec_id")
        .join(sel.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), lit(k).as("rk"),
          round(col("sim") * 0.7 - col("mp") * 0.3, 9).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(1)
      sel = sel.union(pick).localCheckpoint()
    }
    sel.orderBy("rk")
  }

  /** X2+ ANN recall@10 as data: for the first 10 query vectors, the
    * banded-LSH top-10 measured against the exact cosine top-10 — the
    * index-quality gate every vector store ships (the per-index sibling
    * of q_near_dup_eval's dedup recall). The exact side is the documented
    * brute-force baseline over the query set; hits are one key join.
    */
  private def qRecallAtK(s: SparkSession, dir: String): DataFrame = {
    val exact = exactCosQ10(s, dir).select(col("query_id"), col("vec_id"))
    val ann = annQ10(s, dir).select(col("query_id"), col("vec_id"))
    val hit = exact.join(ann, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    val annN = ann.groupBy("query_id").agg(count(lit(1)).as("n_ann"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(annN, Seq("query_id"), "left")
      .join(hit, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_ann"), lit(0L)).as("n_ann"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double")
          / col("n_exact").cast("double"), 9).as("recall"))
      .orderBy("query_id")
  }

  /** X5 streaming top event types: Complete-mode aggregate over the
    * staged feed, then the bounded top-5 — the live leaderboard shape;
    * must hash-match the batch oracle (stream/batch agreement through
    * the gate, the q_stream_quarterly convention). Decimal-stable sums
    * keep streamed partials bit-equal to DuckDB.
    */
  private def qStreamTopk(s: SparkSession, dir: String): DataFrame = {
    val feed = stageFeed(dir, "stream_topk_feed")
    val ev = graft.streaming.EventStreams.readEventStream(s, feed)
    val agg = ev.withWatermark("ts", "1 day")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), graft.ops.Scalar.stableSum(col("value")).as("sum_value"))
    graft.streaming.EventStreams.runToCompletion(s, agg,
        "stream_topk_" + dirTag(dir), org.apache.spark.sql.streaming.OutputMode.Complete)
      .orderBy(col("n").desc, col("event_type")).limit(5)
  }

  /** X1+ LSH band-count ablation: the MinHash pipeline swept at bands ∈
    * {2, 4, 8} over the same 16-hash signatures, each point's verified
    * pairs and recall against the exact prefix-filter truth — the tuning
    * curve (more bands = higher recall = more candidates) measured as
    * data, not copied from a textbook S-curve. ONE corpus shingle pass
    * shared by the exact truth AND all three band points
    * (Dedup.jaccardPrefixPairsFromShingles / bandSweepCandidates), and NO
    * second verification pipeline: the truth threshold equals the verify
    * threshold, and prefix-filter truth is COMPLETE (every pair ≥ t is in
    * it), so a banded candidate verifies iff it is a truth pair —
    * candidates ∩ truth IS the verified sweep, tp = n_pairs by
    * construction, and the recall curve is one pair equi-join.
    */
  private def qDedupBandSweep(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(s, dir, "documents")
    // truth reads the stamped lossless-prefix artifact; one shingle pass
    // feeds the three band points (single consumer — no cache dance)
    val truth = truthPairsT05(s, dir).select("doc_a", "doc_b")
    val tagged = Dedup.bandSweepCandidates(Dedup.shingleSet(docs, n = 3),
      numHashes = 16, bandCounts = Seq(2, 4, 8))
    val nT = truth.agg(count(lit(1)).as("n_truth"))
    val swept = tagged.join(truth, Seq("doc_a", "doc_b"))
      .select("doc_a", "doc_b", "bands").localCheckpoint()
    val nL = swept.groupBy("bands").agg(count(lit(1)).as("n_pairs"))
    val tp = swept.join(truth, Seq("doc_a", "doc_b"))
      .groupBy("bands").agg(count(lit(1)).as("tp"))
    nL.join(tp, Seq("bands"), "left").crossJoin(broadcast(nT))
      .select(col("bands"), col("n_pairs"),
        coalesce(col("tp"), lit(0L)).as("tp"), col("n_truth"),
        round(coalesce(col("tp"), lit(0L)).cast("double")
          / col("n_truth").cast("double"), 9).as("recall"))
      .orderBy("bands")
  }

  /** X5 streaming hourly leaderboard: the watermarked tumbling-window
    * aggregate (EventStreams.hourlyTypeCounts — until now spec-only)
    * driven through the correctness gate: Complete-mode drive of the
    * staged feed, window start flattened out of the struct, exact counts
    * hash-matched against the batch oracle.
    */
  private def qStreamHourly(s: SparkSession, dir: String): DataFrame = {
    val feed = stageFeed(dir, "stream_hourly_feed")
    val agg = graft.streaming.EventStreams.hourlyTypeCounts(
      graft.streaming.EventStreams.readEventStream(s, feed))
    graft.streaming.EventStreams.runToCompletion(s, agg,
        "stream_hourly_" + dirTag(dir), org.apache.spark.sql.streaming.OutputMode.Complete)
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"))
      .orderBy("hour_start", "event_type")
  }

  /** X3+ balanced shard assignment for training export: docs ranked by
    * token count (descending, the LPT greedy order) through the
    * distributed prefix-sum rank, dealt round-robin across 8 shards —
    * near-equal token mass per shard without any bin-packing state.
    * Shard-count-bounded output.
    */
  private def qShardAssign(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.table(s, dir, "documents")
      .select(col("doc_id"), graft.text.TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    val ranked = graft.ops.Ordered.prefixSum(m,
      Seq(col("n_tok").desc, col("doc_id")), lit(1L), "idx")
    ranked.select(pmod(col("idx"), lit(8L)).as("shard"), col("n_tok"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"))
      .orderBy("shard")
  }

  /** X3+ token-budget data selection: keep the best-quality documents
    * until HALF the corpus token mass is spent — the "what makes the
    * cut" report of budgeted training runs. Quality-ranked exclusive
    * prefix sums come from the distributed two-level pass; the keep rule
    * is whole-doc (a doc either fits the remaining budget in rank order
    * or everything after it is out).
    */
  private def qBudgetTrim(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.table(s, dir, "documents")
      .select(col("doc_id"), graft.text.TextOps.qualityScore(col("text")).as("score"),
        graft.text.TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    val tot = scored.agg(sum("n_tok").as("tot"))
    val cum = graft.ops.Ordered.prefixSum(scored,
      Seq(col("score").desc, col("doc_id")), col("n_tok"), "cum_before")
    cum.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_tok"), round(col("score"), 9).as("score"),
        (col("cum_before") + col("n_tok") <= expr("tot div 2")).as("kept"))
      .orderBy("doc_id")
  }

  /** X2+ out-of-distribution shortlist over the Lloyd assignment: the
    * 20 vectors FARTHEST from their own centroid, with a z-score against
    * the corpus distance distribution — the embedding-space OOD review
    * queue of curation (a fixed 2σ fence flags nothing on well-mixed
    * corpora; the ranked shortlist is always actionable). Distances come
    * exact from the fixed-point chain; the moment sums run in exact
    * decimals (dist² would overflow BIGINT); one rounded z per row.
    */
  private def qOodDetect(s: SparkSession, dir: String): DataFrame = {
    val (assign, _) = graft.sim.Similarity.kmeansFixedFull(
      Tables.table(s, dir, "embeddings"), k = 8, iters = 2)
    val dd = col("dist").cast(DecimalType(38, 0))
    val m = assign.agg(count(lit(1)).as("n"),
      sum(dd).as("sd"), sum(dd * dd).as("sq"))
    val (n, sd, sq) = (col("n").cast("double"), col("sd").cast("double"),
      col("sq").cast("double"))
    val mu = sd / n
    val sigma = sqrt((n * sq - sd * sd) / (n * n))
    assign.crossJoin(broadcast(m))
      .select(col("vec_id"), col("cluster"), col("dist"),
        round((col("dist").cast("double") - mu) / sigma, 9).as("z"))
      .orderBy(col("dist").desc, col("vec_id")).limit(20)
  }

  /** X2+ IVF list-balance audit: per-cluster assignment counts and
    * share from the same Lloyd chain — skewed inverted lists are the
    * classic silent ANN latency killer (one hot list serializes every
    * probe), so the balance report is a first-class ops metric.
    */
  private def qClusterBalance(s: SparkSession, dir: String): DataFrame = {
    val (assign, _) = graft.sim.Similarity.kmeansFixedFull(
      Tables.table(s, dir, "embeddings"), k = 8, iters = 2)
    val t = assign.agg(count(lit(1)).as("tot"))
    assign.groupBy("cluster").agg(count(lit(1)).as("n_vecs"))
      .crossJoin(broadcast(t))
      .select(col("cluster"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("tot").cast("double"), 9).as("share"),
        round(col("n_vecs").cast("double") * 8.0 / col("tot").cast("double"), 9)
          .as("imbalance"))
      .orderBy("cluster")
  }

  /** X1+ MinHash estimator calibration: for every verified LSH pair,
    * the signature-agreement estimate ĵ = (matching slots)/16 against
    * the exact Jaccard — Pr[h_min equal] = J is the theorem MinHash
    * rests on; this measures its finite-sample error on the real corpus.
    * Signatures come from the same portable per-slot minima as the band
    * index (long format, one combinable min per (doc, slot)).
    */
  private def qMinhashEst(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(s, dir, "documents")
    // ONE 16-hash signature pass feeds both the banded candidates and the
    // per-hash agreement estimate (the estimate's long form is the wide
    // signature table unpivoted). The verified pair set with its exact
    // jaccard comes off the stamped truth artifact: banded candidates ∩
    // truth IS the verified set (the q_near_dup_eval identity — truth is
    // complete at the shared threshold), and the artifact carries
    // verifyJaccard's own value arithmetic, so no second verify pipeline.
    val sigs = Dedup.portableSignatureCols(Dedup.shingleSet(docs, n = 3),
      numHashes = 16).localCheckpoint()
    val cands = Dedup.bandCandidatesOf(sigs, numHashes = 16, bands = 4)
    val pairs = cands.join(truthPairsT05(s, dir), Seq("doc_a", "doc_b"))
    val sigL = sigs.select(col("doc_id"),
      expr("stack(16, " + (0 until 16).map(i => s"${i}L, h$i").mkString(", ") + ")")
        .as(Seq("i", "h")))
    val sa = sigL.select(col("doc_id").as("doc_a"), col("i"), col("h").as("ha"))
    val sb = sigL.select(col("doc_id").as("doc_b"), col("i"), col("h").as("hb"))
    pairs.join(sa, "doc_a").join(sb, Seq("doc_b", "i"))
      .groupBy("doc_a", "doc_b", "jaccard")
      .agg(sum(when(col("ha") === col("hb"), 1L).otherwise(0L)).as("eq"))
      .select(col("doc_a"), col("doc_b"),
        round(col("eq").cast("double") / 16.0, 9).as("j_est"),
        round(col("jaccard"), 9).as("j_exact"),
        round(abs(col("eq").cast("double") / 16.0 - col("jaccard")), 9).as("abs_err"))
      .orderBy("doc_a", "doc_b")
  }

  /** X3+ deterministic class rebalancing: every language downsampled to
    * the minority class size by portable-hash rank (smallest mixed hash
    * of doc_id wins, doc_id ties) — the bias-mitigation sampler that is
    * reproducible across runs, partitionings, and engines, unlike
    * rand()-based undersampling. Per-key windows; group-count broadcast.
    */
  private def qClassRebalance(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(s, dir, "documents").select(col("doc_id"), col("lang"))
    val m = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .agg(min("n").as("m"))
    val h = graft.text.TextOps.mixedOf(
      pmod(col("doc_id"), lit(graft.text.TextOps.HashMod)))
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    docs.withColumn("h", h)
      .withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(m))
      .filter(col("rk") <= col("m"))
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** X2+ hard-negative mining: for each of the first 20 query vectors,
    * the top-3 nearest neighbors whose LABEL DIFFERS — the contrastive-
    * training pairs that actually move an encoder (near in embedding
    * space, apart in label space). Rides the banded kNN machinery; one
    * label join + one per-query rank window.
    */
  private def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val knn = graft.sim.Similarity.annTopkBatch(s, Tables.table(s, dir, "embeddings"),
      queryPred = col("vec_id") < 20, k = 10)
    val labels = Tables.table(s, dir, "documents").select(col("doc_id"), col("lang"))
    val ql = labels.select(col("doc_id").as("query_id"), col("lang").as("qlang"))
    val nl = labels.select(col("doc_id").as("vec_id"), col("lang").as("nlang"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    knn.join(ql, "query_id").join(nl, "vec_id")
      .filter(col("qlang") =!= col("nlang"))
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= 3)
      .select(col("query_id"), col("vec_id"), col("sim"),
        col("qlang"), col("nlang"), col("neg_rank"))
      .orderBy("query_id", "neg_rank")
  }

  /** DQ one-row corpus data card: the summary block of a dataset
    * release — sizes, language/source breadth, token mass, English
    * share, exact-duplicate rate (md5 identity) — all from two
    * combinable aggregates.
    */
  private def qDataCard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(s, dir, "documents")
    val en = sum(when(col("lang") === "en", 1L).otherwise(0L))
    docs.select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        graft.text.TextOps.tokenCount(col("text")).cast("long").as("n_tok"),
        md5(col("text")).as("sig"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("lang").as("n_langs"),
        countDistinct("source").as("n_sources"),
        sum("n_tok").as("total_tokens"),
        sum("n_chars").as("total_chars"),
        round(en.cast("double") / count(lit(1)).cast("double"), 9).as("en_share"),
        round(sum("n_tok").cast("double") / count(lit(1)).cast("double"), 9)
          .as("avg_tokens"),
        round((count(lit(1)) - countDistinct("sig")).cast("double")
          / count(lit(1)).cast("double"), 9).as("exact_dup_rate"))
  }

  /** DQ cross-source overlap matrix: near-dup pairs grouped by the
    * (unordered) source pair — which feeds are copying each other, the
    * provenance diagnostic behind q_dup_rate_by_source's totals. Rides
    * the capped inverted-index pair pipeline; two broadcast-size label
    * joins; source-pair-bounded output.
    */
  private def qCrossSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(s, dir, "documents")
    val pairs = njPairs(s, dir)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_x"),
        greatest(col("sa"), col("sb")).as("source_y"))
      .groupBy("source_x", "source_y").agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_x", "source_y")
  }

  /** DQ template/boilerplate detection: documents sharing a 32-char
    * normalized prefix, groups of ≥ 2 reported with their spread — the
    * cheap first pass of boilerplate removal (crawl templates share
    * openings long before shingle-level similarity fires). One
    * combinable aggregate on a derived key.
    */
  private def qTemplateDetect(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")
      .select(col("doc_id"), substring(trim(lower(col("text"))), 1, 32).as("prefix"))
      .groupBy("prefix")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("prefix"))

  /** A2+ burstiness (Fano factor) per event type: variance-to-mean of
    * daily counts — >1 over-dispersed/bursty, ≈1 Poisson-like; the
    * traffic-shape probe behind capacity planning. Exact integer moments
    * per type, population variance, one rounded division.
    */
  private def qBurstiness(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(count(lit(1)).as("c"))
    val agg = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("c").as("sc"),
        sum(col("c") * col("c")).as("sq"))
    val (n, sc, sq) = (col("n_days").cast("double"), col("sc").cast("double"),
      col("sq").cast("double"))
    agg.select(col("event_type"), col("n_days"),
        round(sc / n, 9).as("mean_daily"),
        round((n * sq - sc * sc) / (n * n) / (sc / n), 9).as("fano"))
      .orderBy("event_type")
  }

  /** X1+ near-dup evidence: for every verified pair, the single most
    * DISTINCTIVE shared shingle (lowest document frequency, shingle-asc
    * ties) — the human-reviewable "why were these merged" forensic line
    * every dedup pipeline owes its operators. Shares the capped shingle
    * convention with the pair pipeline; one shared-shingle join bounded
    * by the df cap, one per-pair argmin window.
    */
  private def qDedupExplain(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(s, dir, "documents")
    val pairs = njPairs(s, dir)
    val shAll = Dedup.shingleSet(docs, 3)
    val dfs = shAll.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= Dedup.DefaultMaxShingleDf)
    val sh = shAll.join(dfs, "s")
    val shared = pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("s"), col("df")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .filter(col("s") === col("sb"))
    val w = Window.partitionBy("doc_a", "doc_b").orderBy(col("df"), col("s"))
    shared.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("doc_a"), col("doc_b"), col("s").as("evidence_shingle"), col("df"))
      .orderBy("doc_a", "doc_b")
  }

  /** X3+ corpus entropy rate: unigram vs bigram token entropy and the
    * conditional H(w₂|w₁) = H₂ − H₁ — the compressibility / redundancy
    * estimate of the corpus (how much the next token is determined by
    * the previous). Multiset counts exact; one rounded p·ln p per
    * distinct (bi)gram accumulated in exact decimals; bits via the
    * shared ln 2 constant.
    */
  private def qEntropyRate(s: SparkSession, dir: String): DataFrame = {
    val tk = Tables.table(s, dir, "documents")
      .select(split(trim(lower(col("text"))), "\\s+").as("tk"))
    val uni = tk.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    // ≥2 tokens: Spark's sequence(1, 0) reverses rather than emptying,
    // which would index element_at out of bounds (DuckDB's range is
    // naturally empty there, so the filter changes nothing cross-engine)
    val bi = tk.filter(size(col("tk")) >= 2).select(explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"))
        .as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    def entropy(cnt: DataFrame): DataFrame = {
      val n = cnt.agg(sum("c").as("n"))
      val p = col("c").cast("double") / col("n").cast("double")
      cnt.crossJoin(broadcast(n))
        .select(col("n"), round(p * log(p), 9).cast(DecimalType(28, 9)).as("t"))
        .groupBy("n").agg((-sum("t").cast("double") / math.log(2.0)).as("h"))
    }
    val h1 = entropy(uni).select(col("n").as("n_tokens"), col("h").as("h1"))
    val h2 = entropy(bi).select(col("n").as("n_bigrams"), col("h").as("h2"))
    h1.crossJoin(h2)
      .select(col("n_tokens"), col("n_bigrams"),
        round(col("h1"), 9).as("h_unigram_bits"),
        round(col("h2"), 9).as("h_bigram_bits"),
        round(col("h2") - col("h1"), 9).as("h_cond_bits"))
  }

  /** DQ lang-id ROC points: the stopword-ratio classifier swept at
    * thresholds {0.04, 0.08, 0.12} — TPR/FPR per operating point as
    * data (q_langid_confusion fixes one threshold; this measures the
    * trade-off curve). One per-doc ratio pass, a 3-row threshold
    * explode, exact confusion counts.
    */
  private def qLangidRoc(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(graft.text.TextOps.tokens(col("text"))).as("w"))
    val ratio = tok.groupBy("doc_id", "lang")
      .agg((count(when(col("w").isin(graft.text.TextOps.EnStopwords: _*), 1)).cast("double") /
        count(lit(1))).as("r"))
    val swept = ratio.select(col("lang"), col("r"),
      explode(array(lit(0.04), lit(0.08), lit(0.12))).as("threshold"))
    swept
      .groupBy("threshold")
      .agg(sum(when(col("lang") === "en" && col("r") >= col("threshold"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("lang") =!= "en" && col("r") >= col("threshold"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("lang") === "en" && col("r") < col("threshold"), 1L).otherwise(0L)).as("fn"),
        sum(when(col("lang") =!= "en" && col("r") < col("threshold"), 1L).otherwise(0L)).as("tn"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
        round(col("tp").cast("double") / (col("tp") + col("fn")).cast("double"), 9).as("tpr"),
        round(col("fp").cast("double") / (col("fp") + col("tn")).cast("double"), 9).as("fpr"))
      .orderBy("threshold")
  }

  /** X2+ ANN work-savings report: per query, how many distinct corpus
    * vectors the band index actually surfaces vs the corpus size — the
    * "we examined 4%, not 100%" number that justifies the index (the
    * scale claim of every banded query, measured as data). One band
    * equi-join on the slim bucket rows.
    */
  private def qAnnCandidates(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.table(s, dir, "embeddings")
    val pl = graft.sim.Similarity.portablePlanes(16, 64)
    val bd = graft.sim.Similarity.bandedExplode(emb, pl, 8)
      .select("vec_id", "band", "bkt").localCheckpoint()
    val n = emb.agg(count(lit(1)).as("corpus_n"))
    val q = bd.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("band"), col("bkt"))
    q.join(bd, Seq("band", "bkt"))
      .filter(col("query_id") =!= col("vec_id"))
      .select("query_id", "vec_id").distinct()
      .groupBy("query_id").agg(count(lit(1)).as("n_cands"))
      .crossJoin(broadcast(n))
      .select(col("query_id"), col("n_cands"), col("corpus_n"),
        round(col("n_cands").cast("double") / col("corpus_n").cast("double"), 9)
          .as("cand_frac"))
      .orderBy("query_id")
  }

  /** DQ dedup ROI card: documents and token mass before/after near-dup
    * collapse — the one-row business case of the dedup stack. The kept
    * representative per group is the group label itself (min doc_id —
    * the CC labeling convention), so the whole report is the existing
    * groups pipeline plus one token join.
    */
  private def qDedupReduction(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(s, dir, "documents")
    val groups = njGroups(s, dir)
    val toks = docs.select(col("doc_id"),
      graft.text.TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    groups.join(toks, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("group_id").as("n_groups"),
        sum("n_tok").as("total_tokens"),
        sum(when(col("doc_id") === col("group_id"), col("n_tok")).otherwise(0L))
          .as("kept_tokens"))
      .select(col("n_docs"), col("n_groups"),
        (col("n_docs") - col("n_groups")).as("n_removed"),
        col("total_tokens"), col("kept_tokens"),
        round(lit(1.0) - col("kept_tokens").cast("double")
          / col("total_tokens").cast("double"), 9).as("token_reduction"))
  }

  /** X2+ k-means elbow sweep: total within-cluster SSE at k ∈ {2,4,8}
    * from three independent fixed-point Lloyd runs — the "how many
    * clusters" diagnostic every IVF/quantizer build starts from, with
    * every point of the curve bit-replayable (three prefixed oracle
    * chains in one SQL statement).
    */
  private def qKmeansElbow(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.table(s, dir, "embeddings")
    // The three Lloyd runs are INDEPENDENT — submit them from a small
    // thread pool so each run's jobs back-fill the executor tail of the
    // others (guide §2.6: overlap independent jobs; Spark's scheduler
    // runs concurrent jobs FIFO within one application). The quantized
    // point table is hoisted ONCE outside the futures: all three runs'
    // quantize plans canonicalize identically (k only affects seeds), so
    // per-run caches would share one CacheManager entry and the first
    // finisher's unpersist would yank it from under the others. One
    // cache, one validating materialization, released after all Awaits;
    // the union of the three per-k aggregates is unchanged.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val pts = graft.sim.Similarity.quantizeShifted(emb, 1000000L).cache()
    try {
      graft.sim.Similarity.validateShifted(pts, 1000000L)
      val runs = Seq(2, 4, 8).map { k => Future {
        val (assign, _) =
          graft.sim.Similarity.kmeansOnCachedPts(emb, pts, k = k, iters = 2)
        assign.agg(sum("dist").as("sse")).select(lit(k).as("k"), col("sse"))
      } }
      // Await materializes each run's checkpointed assignment, so the
      // returned (lazy) aggregate no longer touches pts afterwards.
      runs.map(Await.result(_, Duration.Inf)).reduce(_ union _).orderBy("k")
    } finally pts.unpersist()
  }

  /** X1+ weighted (multiset) Jaccard for the verified near-dup pairs:
    * Σ min(cₐ,c_b) / Σ max(cₐ,c_b) over token MULTIPLICITIES — repeated
    * boilerplate counts fully here where the set Jaccard saturates; the
    * union trick (a-side and b-side rows summed per (pair, token)) keeps
    * it one combinable aggregation, no outer join.
    */
  private def qWeightedJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(s, dir, "documents")
    // the pre-named round-10 lever: the LSH pair set at the canonical
    // operating point comes from the stamped per-snapshot artifact
    // (EntryHelpers.lshPairsT05) instead of re-running the signature +
    // band join + verify pipeline q_minhash_lsh already runs — this
    // query pays only its own token-count weighting
    val pairs = lshPairsT05(s, dir).select("doc_a", "doc_b")
    val tcnt = docs
      .select(col("doc_id"), explode(graft.text.TextOps.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val ta = tcnt.select(col("doc_id").as("doc_a"), col("w"), col("c").as("ca"))
    val tb = tcnt.select(col("doc_id").as("doc_b"), col("w"), col("c").as("cb"))
    val rowsA = pairs.join(ta, "doc_a")
      .select(col("doc_a"), col("doc_b"), col("w"), col("ca"), lit(0L).as("cb"))
    val rowsB = pairs.join(tb, "doc_b")
      .select(col("doc_a"), col("doc_b"), col("w"), lit(0L).as("ca"), col("cb"))
    rowsA.union(rowsB)
      .groupBy("doc_a", "doc_b", "w")
      .agg(sum("ca").as("ca"), sum("cb").as("cb"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(least(col("ca"), col("cb"))).as("smin"),
        sum(greatest(col("ca"), col("cb"))).as("smax"))
      .select(col("doc_a"), col("doc_b"),
        round(col("smin").cast("double") / col("smax").cast("double"), 9)
          .as("weighted_jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** X2+ distance-metric agreement: per query, the overlap between the
    * exact L2 top-10 (fixed-point squared distance, the Lloyd
    * convention) and the exact cosine top-10 — how much the metric
    * choice changes retrieval on unnormalized embeddings; the eval that
    * decides whether an index must store norms.
    */
  private def qMetricAgreement(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.table(s, dir, "embeddings")
    val pts = graft.sim.Similarity.quantizeShifted(emb, 1000000L).localCheckpoint()
    val qp = pts.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("pos"), col("e").as("qe"))
    val d2 = pts.join(qp, "pos")
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum((col("e") - col("qe")) * (col("e") - col("qe"))).as("dist"))
    val wL2 = Window.partitionBy("query_id").orderBy(col("dist"), col("vec_id"))
    val l2top = d2.withColumn("rk", row_number().over(wL2)).filter(col("rk") <= 10)
      .select("query_id", "vec_id")
    val costop = exactCosQ10(s, dir).select("query_id", "vec_id")
    l2top.groupBy("query_id").agg(count(lit(1)).as("n_l2"))
      .join(l2top.join(costop, Seq("query_id", "vec_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_both")), Seq("query_id"), "left")
      .select(col("query_id"), col("n_l2"),
        coalesce(col("n_both"), lit(0L)).as("n_both"),
        round(coalesce(col("n_both"), lit(0L)).cast("double") / 10.0, 9).as("agreement"))
      .orderBy("query_id")
  }

  /** X1+ dedup transitivity gap: how many pairs the connected-component
    * closure IMPLIES beyond those the similarity join found — Σ C(|g|,2)
    * over groups minus direct pairs. Near zero = tight clusters; large =
    * chains of borderline matches merging dissimilar docs (the classic
    * CC-dedup failure smell). One-row report off the existing pipelines.
    */
  private def qTransitivityGap(s: SparkSession, dir: String): DataFrame = {
    val pairs = njPairs(s, dir)
    val groups = njGroups(s, dir)
    val implied = groups.groupBy("group_id").agg(count(lit(1)).as("sz"))
      .agg(sum(expr("(sz * (sz - 1)) div 2")).as("implied_pairs"))
    val np = pairs.agg(count(lit(1)).as("direct_pairs"))
    implied.crossJoin(broadcast(np))
      .select(col("direct_pairs"), col("implied_pairs"),
        (col("implied_pairs") - col("direct_pairs")).as("gap"))
  }

  /** DQ quality by source: per-source doc count, exact-percentile median
    * quality and mean (exact decimals) — which feed is worth its ingest
    * cost; the stratified view behind q_curriculum_buckets' global ranks.
    */
  private def qQualityBySource(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")
      .select(col("source"), graft.text.TextOps.qualityScore(col("text")).as("sc"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(expr("percentile(sc, 0.5)"), 9).as("median_score"),
        round(sum(round(col("sc"), 9).cast(DecimalType(28, 9))).cast("double")
          / count(lit(1)).cast("double"), 9).as("mean_score"))
      .orderBy("source")

  /** X3+ deterministic holdout split: 80/10/10 train/val/test by
    * portable-hash bucket, reported per (split, lang) — the reproducible
    * split every training run needs (re-runnable on any engine or
    * partitioning, unlike rand()), with the language-balance check
    * built in.
    */
  private def qHoldoutSplit(s: SparkSession, dir: String): DataFrame = {
    val h = graft.text.TextOps.mixedOf(
      pmod(col("doc_id"), lit(graft.text.TextOps.HashMod)))
    val b = pmod(h, lit(10L))
    val split = when(b < 8, "train").when(b < 9, "val").otherwise("test")
    val cells = Tables.table(s, dir, "documents")
      .select(split.as("split"), col("lang"))
      .groupBy("split", "lang").agg(count(lit(1)).as("n"))
    val t = cells.groupBy("split").agg(sum("n").as("n_split"))
    cells.join(broadcast(t), "split")
      .select(col("split"), col("lang"), col("n"),
        round(col("n").cast("double") / col("n_split").cast("double"), 9)
          .as("lang_share"))
      .orderBy("split", "lang")
  }

  /** X1+ duplicate-cluster size histogram: count of CC groups by size —
    * the shape of the duplication (many pairs vs few giant clusters
    * drives which dedup strategy pays); count-of-counts off the existing
    * groups pipeline.
    */
  private def qDupClusterSizes(s: SparkSession, dir: String): DataFrame = {
    njGroups(s, dir)
      .groupBy("group_id").agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_groups"))
      .orderBy("sz")
  }

  /** DQ length-quality correlation: Pearson between doc length and the
    * quality score (are we about to length-bias the corpus when we
    * filter by quality?) — the q_corr_stats decimal-stable moment
    * convention with the score rounded to 9 first.
    */
  private def qLengthQualityCorr(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.table(s, dir, "documents")
      .select(col("n_chars").cast("double").as("x"),
        round(graft.text.TextOps.qualityScore(col("text")), 9).as("y"))
    val n = count(lit(1)).cast("double")
    scored.agg(n.as("n"),
        graft.ops.Scalar.stableSum(col("x")).as("sx"),
        graft.ops.Scalar.stableSum(col("y")).as("sy"),
        graft.ops.Scalar.stableSumProd(col("x"), col("x")).as("sxx"),
        graft.ops.Scalar.stableSumProd(col("y"), col("y")).as("syy"),
        graft.ops.Scalar.stableSumProd(col("x"), col("y")).as("sxy"))
      .select(col("n").cast("long").as("n_docs"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 9)
          .as("corr_len_quality"))
  }

  /** X2+ ANN mean-reciprocal-rank inputs: for each query, WHERE in the
    * banded index's ranking the TRUE nearest neighbor (exact cosine
    * argmax) lands — rank 1 is a perfect index, 0 means the band missed
    * it entirely. The third standard retrieval metric beside recall@k
    * and candidate fraction; MRR itself is the spec's one-line fold.
    */
  private def qMrr(s: SparkSession, dir: String): DataFrame = {
    val truth = exactCosQ10(s, dir).filter(col("erk") === 1)
      .select(col("query_id"), col("vec_id").as("true_nn"))
    val ann = annQ10(s, dir)
      .select(col("query_id"), col("vec_id"), col("rk"))
    truth.join(ann, truth("query_id") === ann("query_id")
        && truth("true_nn") === ann("vec_id"), "left")
      .select(truth("query_id"), col("true_nn"),
        coalesce(col("rk"), lit(0)).as("ann_rank"),
        when(col("rk").isNotNull, round(lit(1.0) / col("rk"), 9)).otherwise(0.0)
          .as("reciprocal_rank"))
      .orderBy(truth("query_id"))
  }

  /** X2+ ANN nDCG@10 — the graded-relevance retrieval metric that
    * completes the standard eval triple (recall@k counts hits, MRR finds
    * the one true neighbor, nDCG weighs WHERE every relevant item
    * landed): gain of the item at ANN position i = 11 − its exact-cosine
    * rank (true #1 worth 10 … #10 worth 1, outside the exact top-10
    * worth 0), DCG = Σ gain/log2(i+1), normalized by the ideal ordering's
    * IDCG computed from the same exact table. Both sides read the
    * stamped truth/index tables ([[exactCosQ10]]/[[annQ10]]); log2 is
    * libm-dependent, so each positional term is rounded at 9 and
    * accumulated in exact decimals (the q_adamic_adar transcendental
    * convention) before the one final division.
    */
  private def qNdcg(s: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(18, 9)
    val exact = exactCosQ10(s, dir)
      .select(col("query_id"), col("vec_id"), (lit(11) - col("erk")).as("rel"),
        col("erk"))
    val dcg = annQ10(s, dir).select(col("query_id"), col("vec_id"), col("rk"))
      .join(exact.select("query_id", "vec_id", "rel"), Seq("query_id", "vec_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("rel"), lit(0)).cast("double")
          / log2(col("rk") + 1), 9).cast(dec).as("term"))
      .groupBy("query_id").agg(sum("term").as("dcg"))
    val idcg = exact
      .select(col("query_id"),
        round(col("rel").cast("double") / log2(col("erk") + 1), 9)
          .cast(dec).as("term"))
      .groupBy("query_id").agg(sum("term").as("idcg"))
    idcg.join(dcg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("dcg"), lit(BigDecimal(0)).cast(dec)).cast("double").as("dcg"),
        col("idcg").cast("double").as("idcg"),
        round(coalesce(col("dcg"), lit(BigDecimal(0)).cast(dec)).cast("double")
          / col("idcg").cast("double"), 9).as("ndcg"))
      .orderBy("query_id")
  }

  /** DQ source concentration (HHI over provenance): Σ share² of doc
    * counts by source — is the corpus one crawl in a trench coat; one
    * aggregate, source-bounded arithmetic.
    */
  private def qSourceConcentration(s: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.table(s, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("n"))
    val t = cnt.agg(sum("n").as("tot"), count(lit(1)).as("n_sources"))
    val share = col("n").cast("double") / col("tot").cast("double")
    cnt.crossJoin(broadcast(t))
      .select(col("n_sources"),
        round(share * share, 9).cast(DecimalType(28, 9)).as("c2"))
      .groupBy("n_sources")
      .agg(round(sum("c2").cast("double"), 9).as("hhi"))
  }

  /** This family's share of SparkEntry.queries. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_minhash_est" -> (qMinhashEst _),
    "q_mrr" -> (qMrr _),
    "q_ndcg" -> (qNdcg _),
    "q_source_concentration" -> (qSourceConcentration _),
    "q_holdout_split" -> (qHoldoutSplit _),
    "q_dup_cluster_sizes" -> (qDupClusterSizes _),
    "q_length_quality_corr" -> (qLengthQualityCorr _),
    "q_metric_agreement" -> (qMetricAgreement _),
    "q_transitivity_gap" -> (qTransitivityGap _),
    "q_quality_by_source" -> (qQualityBySource _),
    "q_kmeans_elbow" -> (qKmeansElbow _),
    "q_weighted_jaccard" -> (qWeightedJaccard _),
    "q_ann_candidates" -> (qAnnCandidates _),
    "q_dedup_reduction" -> (qDedupReduction _),
    "q_entropy_rate" -> (qEntropyRate _),
    "q_langid_roc" -> (qLangidRoc _),
    "q_dedup_explain" -> (qDedupExplain _),
    "q_cross_source_overlap" -> (qCrossSourceOverlap _),
    "q_template_detect" -> (qTemplateDetect _),
    "q_burstiness" -> (qBurstiness _),
    "q_class_rebalance" -> (qClassRebalance _),
    "q_hard_negatives" -> (qHardNegatives _),
    "q_data_card" -> (qDataCard _),
    "q_ood_detect" -> (qOodDetect _),
    "q_cluster_balance" -> (qClusterBalance _),
    "q_stream_hourly" -> (qStreamHourly _),
    "q_shard_assign" -> (qShardAssign _),
    "q_budget_trim" -> (qBudgetTrim _),
    "q_dedup_band_sweep" -> (qDedupBandSweep _),
    "q_record_linkage" -> (qRecordLinkage _),
    "q_ngram_novelty" -> (qNgramNovelty _),
    "q_knn_classify" -> (qKnnClassify _),
    "q_near_dup_eval" -> (qNearDupEval _),
    "q_sorted_blocking" -> (qSortedBlocking _),
    "q_perplexity" -> (qPerplexity _),
    "q_langid_confusion" -> (qLangidConfusion _),
    "q_curriculum_buckets" -> (qCurriculumBuckets _),
    "q_char_trigrams" -> (qCharTrigrams _),
    "q_dim_variance" -> (qDimVariance _),
    "q_centroid_drift" -> (qCentroidDrift _),
    "q_mmr" -> (qMmr _),
    "q_recall_at_k" -> (qRecallAtK _),
    "q_stream_topk" -> (qStreamTopk _),
    "q_dup_rate_by_source" -> (qDupRateBySource _),
  )

  /** This family's share of SparkEntry.oracleSql. */
  def oracleSql: Map[String, String] = Map(
    "q_mrr" ->
      s"""WITH $embedBucketCtes,
         |qs AS (SELECT vec_id AS query_id, embedding AS qemb
         |       FROM embeddings WHERE vec_id < 10),
         |cs AS (
         |  SELECT q.query_id, e.vec_id, ${cosSql("e.embedding", "q.qemb")} AS sim
         |  FROM embeddings e CROSS JOIN qs q WHERE e.vec_id <> q.query_id),
         |truth AS (
         |  SELECT query_id, vec_id AS true_nn FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
         |    FROM cs) WHERE rk = 1),
         |acands AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
         |  FROM bd q JOIN bd c
         |    ON q.band = c.band AND q.bkt = c.bkt AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10),
         |ascored AS (
         |  SELECT query_id, acands.vec_id, ${cosSql("qa.embedding", "ca.embedding")} AS sim
         |  FROM acands JOIN embeddings qa ON acands.query_id = qa.vec_id
         |              JOIN embeddings ca ON acands.vec_id = ca.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id, rk FROM (
         |    SELECT query_id, vec_id,
         |      CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id)
         |        AS INTEGER) AS rk
         |    FROM ascored) WHERE rk <= 10)
         |SELECT t.query_id AS query_id, true_nn,
         |  CAST(COALESCE(r.rk, 0) AS INTEGER) AS ann_rank,
         |  CASE WHEN r.rk IS NOT NULL THEN round(1.0 / r.rk, 9) ELSE 0.0 END
         |    AS reciprocal_rank
         |FROM truth t LEFT JOIN ranked r
         |  ON t.query_id = r.query_id AND t.true_nn = r.vec_id
         |ORDER BY t.query_id""".stripMargin,
    // exact/ANN sides rebuilt from the q_mrr CTEs; each positional
    // gain/log2 term rounded at 9 then summed as DECIMAL(18,9)
    "q_ndcg" ->
      s"""WITH $embedBucketCtes,
         |qs AS (SELECT vec_id AS query_id, embedding AS qemb
         |       FROM embeddings WHERE vec_id < 10),
         |cs AS (
         |  SELECT q.query_id, e.vec_id, ${cosSql("e.embedding", "q.qemb")} AS sim
         |  FROM embeddings e CROSS JOIN qs q WHERE e.vec_id <> q.query_id),
         |exact AS (
         |  SELECT query_id, vec_id, 11 - erk AS rel, erk FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS erk
         |    FROM cs) WHERE erk <= 10),
         |acands AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
         |  FROM bd q JOIN bd c
         |    ON q.band = c.band AND q.bkt = c.bkt AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10),
         |ascored AS (
         |  SELECT query_id, acands.vec_id, ${cosSql("qa.embedding", "ca.embedding")} AS sim
         |  FROM acands JOIN embeddings qa ON acands.query_id = qa.vec_id
         |              JOIN embeddings ca ON acands.vec_id = ca.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id, rk FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
         |    FROM ascored) WHERE rk <= 10),
         |dcg AS (
         |  SELECT r.query_id,
         |    SUM(CAST(round(CAST(COALESCE(e.rel, 0) AS DOUBLE) / log2(r.rk + 1), 9)
         |      AS DECIMAL(18,9))) AS dcg
         |  FROM ranked r LEFT JOIN exact e
         |    ON r.query_id = e.query_id AND r.vec_id = e.vec_id
         |  GROUP BY 1),
         |idcg AS (
         |  SELECT query_id,
         |    SUM(CAST(round(CAST(rel AS DOUBLE) / log2(erk + 1), 9)
         |      AS DECIMAL(18,9))) AS idcg
         |  FROM exact GROUP BY 1)
         |SELECT i.query_id AS query_id,
         |  CAST(CAST(COALESCE(d.dcg, CAST(0 AS DECIMAL(18,9))) AS VARCHAR(64)) AS DOUBLE) AS dcg,
         |  CAST(i.idcg AS DOUBLE) AS idcg,
         |  round(CAST(CAST(COALESCE(d.dcg, CAST(0 AS DECIMAL(18,9))) AS VARCHAR(64)) AS DOUBLE)
         |    / CAST(i.idcg AS DOUBLE), 9) AS ndcg
         |FROM idcg i LEFT JOIN dcg d ON i.query_id = d.query_id
         |ORDER BY i.query_id""".stripMargin,
    "q_source_concentration" ->
      """WITH cnt AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot, CAST(COUNT(*) AS BIGINT) AS n_sources
        |      FROM cnt)
        |SELECT n_sources,
        |  round(CAST(CAST(SUM(CAST(round((CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
        |    * (CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)), 9) AS DECIMAL(28,9)))
        | AS VARCHAR(64)) AS DOUBLE), 9) AS hhi
        |FROM cnt CROSS JOIN t GROUP BY n_sources""".stripMargin,
    "q_holdout_split" ->
      s"""WITH b AS (
         |  SELECT lang,
         |    (${mixSql(mixSql("(doc_id % 2147483647)", graft.text.TextOps.DefaultMixMult), graft.text.TextOps.DefaultMixMult)}) % 10 AS bkt
         |  FROM documents),
         |cells AS (
         |  SELECT CASE WHEN bkt < 8 THEN 'train' WHEN bkt < 9 THEN 'val'
         |              ELSE 'test' END AS split,
         |    lang, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM b GROUP BY 1, 2),
         |t AS (SELECT split, CAST(SUM(n) AS BIGINT) AS n_split FROM cells GROUP BY 1)
         |SELECT cells.split AS split, lang, n,
         |  round(CAST(n AS DOUBLE) / CAST(n_split AS DOUBLE), 9) AS lang_share
         |FROM cells JOIN t ON cells.split = t.split
         |ORDER BY cells.split, lang""".stripMargin,
    "q_dup_cluster_sizes" ->
      s"""$dedupGroupsCte
         |SELECT sz, COUNT(*) AS n_groups FROM (
         |  SELECT group_id, CAST(COUNT(*) AS BIGINT) AS sz FROM groups GROUP BY 1)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_length_quality_corr" -> {
      val q =
        """round(0.5 * (CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE)
          |           / len(string_split_regex(trim(lower(text)), '\s+')))
          |    + 0.5 * (CAST(length(regexp_replace(trim(lower(text)), '[^a-z ]', '', 'g')) AS DOUBLE)
          |             / length(trim(lower(text)))), 9)""".stripMargin
      s"""WITH sc AS (SELECT CAST(n_chars AS DOUBLE) AS x, $q AS y FROM documents),
         |m AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |    ${ss("x")} AS sx, ${ss("y")} AS sy,
         |    ${sp("x", "x")} AS sxx, ${sp("y", "y")} AS syy,
         |    ${sp("x", "y")} AS sxy
         |  FROM sc)
         |SELECT CAST(n AS BIGINT) AS n_docs,
         |  round((n * sxy - sx * sy)
         |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9)
         |    AS corr_len_quality
         |FROM m""".stripMargin
    },
    "q_metric_agreement" ->
      s"""WITH pts AS (
         |  SELECT vec_id, CAST(i AS INTEGER) AS pos,
         |    CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000) AS BIGINT)
         |      + 1000000 AS e
         |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS i)),
         |qp AS (SELECT vec_id AS query_id, pos, e AS qe FROM pts WHERE vec_id < 10),
         |d2 AS (
         |  SELECT q.query_id, p.vec_id,
         |    CAST(SUM((p.e - q.qe) * (p.e - q.qe)) AS BIGINT) AS dist
         |  FROM pts p JOIN qp q ON p.pos = q.pos
         |  WHERE p.vec_id <> q.query_id GROUP BY 1, 2),
         |l2top AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rk
         |    FROM d2) WHERE rk <= 10),
         |qs AS (SELECT vec_id AS query_id, embedding AS qemb
         |       FROM embeddings WHERE vec_id < 10),
         |cs AS (
         |  SELECT q.query_id, e.vec_id, ${cosSql("e.embedding", "q.qemb")} AS sim
         |  FROM embeddings e CROSS JOIN qs q WHERE e.vec_id <> q.query_id),
         |ctop AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
         |    FROM cs) WHERE rk <= 10),
         |hl AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_l2 FROM l2top GROUP BY 1),
         |hb AS (SELECT l2top.query_id, CAST(COUNT(*) AS BIGINT) AS n_both
         |       FROM l2top JOIN ctop USING (query_id, vec_id) GROUP BY 1)
         |SELECT hl.query_id AS query_id, n_l2, COALESCE(n_both, 0) AS n_both,
         |  round(CAST(COALESCE(n_both, 0) AS DOUBLE) / 10.0, 9) AS agreement
         |FROM hl LEFT JOIN hb ON hl.query_id = hb.query_id
         |ORDER BY hl.query_id""".stripMargin,
    "q_transitivity_gap" ->
      s"""$dedupGroupsCte,
         |gsz AS (SELECT group_id, COUNT(*) AS sz FROM groups GROUP BY 1),
         |imp AS (SELECT CAST(SUM((sz * (sz - 1)) // 2) AS BIGINT) AS implied_pairs FROM gsz),
         |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS direct_pairs FROM pairs)
         |SELECT direct_pairs, implied_pairs,
         |  CAST(implied_pairs - direct_pairs AS BIGINT) AS gap
         |FROM imp CROSS JOIN np""".stripMargin,
    "q_quality_by_source" ->
      """WITH sc AS (
        |  SELECT source,
        |    0.5 * (CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE)
        |           / len(string_split_regex(trim(lower(text)), '\s+')))
        |    + 0.5 * (CAST(length(regexp_replace(trim(lower(text)), '[^a-z ]', '', 'g')) AS DOUBLE)
        |             / length(trim(lower(text)))) AS sc
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  round(quantile_cont(sc, 0.5), 9) AS median_score,
        |  round(CAST(CAST(SUM(CAST(round(sc, 9) AS DECIMAL(28,9))) AS VARCHAR(64)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 9) AS mean_score
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_kmeans_elbow" ->
      s"""WITH ${kmeansOracleCtes(k = 2, iters = 2, prefix = "ka_")},
         |${kmeansOracleCtes(k = 4, iters = 2, prefix = "kb_")},
         |${kmeansOracleCtes(k = 8, iters = 2, prefix = "kc_")}
         |SELECT k, sse FROM (
         |  SELECT CAST(2 AS INTEGER) AS k,
         |    (SELECT CAST(SUM(dist) AS BIGINT) FROM ka_aF) AS sse
         |  UNION ALL
         |  SELECT CAST(4 AS INTEGER),
         |    (SELECT CAST(SUM(dist) AS BIGINT) FROM kb_aF)
         |  UNION ALL
         |  SELECT CAST(8 AS INTEGER),
         |    (SELECT CAST(SUM(dist) AS BIGINT) FROM kc_aF))
         |ORDER BY k""".stripMargin,
    "q_weighted_jaccard" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents
         |), sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, len(tk) - 1),
         |      i -> array_to_string(tk[i:i+2], ' '))) AS s
         |  FROM toks
         |), hs AS (SELECT doc_id, s, ${mixedSql("s")} AS hs FROM sh),
         |sig AS (
         |  SELECT doc_id, i, MIN(((2*i+1)*hs + 12345*i+1) % 2147483647) AS h
         |  FROM hs CROSS JOIN (SELECT unnest(range(0,16)) AS i) GROUP BY doc_id, i
         |), bands AS (
         |  SELECT doc_id, i // 4 AS band,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list(h ORDER BY i)),
         |      (acc, x) -> (acc*1000003 + x) % 2147483647) AS bh
         |  FROM sig GROUP BY doc_id, i // 4
         |), cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
         |), sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |common AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS c
         |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
         |  WHERE (x.doc_id, y.doc_id) IN (SELECT (doc_a, doc_b) FROM cands)
         |  GROUP BY 1, 2),
         |lp AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (x.n + y.n - c) AS jaccard
         |    FROM common JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id)
         |  WHERE jaccard >= 0.5),
         |tcnt AS (
         |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
         |    FROM documents)
         |  GROUP BY 1, 2),
         |u AS (
         |  SELECT doc_a, doc_b, w, CAST(SUM(ca) AS BIGINT) AS ca,
         |    CAST(SUM(cb) AS BIGINT) AS cb
         |  FROM (
         |    SELECT p.doc_a, p.doc_b, t.w, t.c AS ca, CAST(0 AS BIGINT) AS cb
         |    FROM lp p JOIN tcnt t ON p.doc_a = t.doc_id
         |    UNION ALL
         |    SELECT p.doc_a, p.doc_b, t.w, CAST(0 AS BIGINT), t.c
         |    FROM lp p JOIN tcnt t ON p.doc_b = t.doc_id)
         |  GROUP BY 1, 2, 3)
         |SELECT doc_a, doc_b,
         |  round(CAST(SUM(least(ca, cb)) AS DOUBLE)
         |    / CAST(SUM(greatest(ca, cb)) AS DOUBLE), 9) AS weighted_jaccard
         |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_ann_candidates" ->
      s"""WITH $embedBucketCtes,
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS corpus_n FROM embeddings),
         |cands AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
         |  FROM bd q JOIN bd c
         |    ON q.band = c.band AND q.bkt = c.bkt AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10)
         |SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_cands, corpus_n,
         |  round(CAST(COUNT(*) AS DOUBLE) / CAST(corpus_n AS DOUBLE), 9) AS cand_frac
         |FROM cands CROSS JOIN n
         |GROUP BY query_id, corpus_n ORDER BY query_id""".stripMargin,
    "q_dedup_reduction" ->
      s"""$dedupGroupsCte,
         |toks2 AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n_tok
         |  FROM documents)
         |SELECT COUNT(*) AS n_docs,
         |  CAST(COUNT(DISTINCT group_id) AS BIGINT) AS n_groups,
         |  CAST(COUNT(*) - COUNT(DISTINCT group_id) AS BIGINT) AS n_removed,
         |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
         |  CAST(SUM(CASE WHEN g.doc_id = group_id THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS kept_tokens,
         |  round(1.0 - CAST(SUM(CASE WHEN g.doc_id = group_id THEN n_tok ELSE 0 END) AS DOUBLE)
         |    / CAST(SUM(n_tok) AS DOUBLE), 9) AS token_reduction
         |FROM groups g JOIN toks2 ON g.doc_id = toks2.doc_id""".stripMargin,
    "q_entropy_rate" ->
      s"""WITH tk AS (
         |  SELECT string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents),
         |uni AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(tk) AS w FROM tk) GROUP BY 1),
         |bi AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(list_transform(range(1, len(tk)),
         |          i -> tk[i] || ' ' || tk[i + 1])) AS w
         |        FROM tk) GROUP BY 1),
         |n1 AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
         |n2 AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM bi),
         |h1 AS (
         |  SELECT n1.n AS n_tokens,
         |    -CAST(CAST(SUM(CAST(round((CAST(c AS DOUBLE) / CAST(n1.n AS DOUBLE))
         |      * ln(CAST(c AS DOUBLE) / CAST(n1.n AS DOUBLE)), 9) AS DECIMAL(28,9)))
         | AS VARCHAR(64)) AS DOUBLE) / ${math.log(2.0)} AS h
         |  FROM uni CROSS JOIN n1 GROUP BY n1.n),
         |h2 AS (
         |  SELECT n2.n AS n_bigrams,
         |    -CAST(CAST(SUM(CAST(round((CAST(c AS DOUBLE) / CAST(n2.n AS DOUBLE))
         |      * ln(CAST(c AS DOUBLE) / CAST(n2.n AS DOUBLE)), 9) AS DECIMAL(28,9)))
         | AS VARCHAR(64)) AS DOUBLE) / ${math.log(2.0)} AS h
         |  FROM bi CROSS JOIN n2 GROUP BY n2.n)
         |SELECT n_tokens, n_bigrams,
         |  round(h1.h, 9) AS h_unigram_bits,
         |  round(h2.h, 9) AS h_bigram_bits,
         |  round(h2.h - h1.h, 9) AS h_cond_bits
         |FROM h1 CROSS JOIN h2""".stripMargin,
    "q_langid_roc" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |ratio AS (
        |  SELECT doc_id, lang,
        |    CAST(COUNT(CASE WHEN w IN ('a','an','the','of','to','in','and','is','it','for','on','with') THEN 1 END) AS DOUBLE)
        |      / COUNT(*) AS r
        |  FROM tok GROUP BY 1, 2),
        |swept AS (
        |  SELECT lang, r, t AS threshold
        |  FROM ratio CROSS JOIN (SELECT unnest(CAST([0.04, 0.08, 0.12] AS DOUBLE[])) AS t))
        |SELECT threshold,
        |  CAST(SUM(CASE WHEN lang = 'en' AND r >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |  CAST(SUM(CASE WHEN lang <> 'en' AND r >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |  CAST(SUM(CASE WHEN lang = 'en' AND r < threshold THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |  CAST(SUM(CASE WHEN lang <> 'en' AND r < threshold THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |  round(CAST(SUM(CASE WHEN lang = 'en' AND r >= threshold THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(CASE WHEN lang = 'en' AND r >= threshold THEN 1 ELSE 0 END)
        |         + SUM(CASE WHEN lang = 'en' AND r < threshold THEN 1 ELSE 0 END) AS DOUBLE), 9) AS tpr,
        |  round(CAST(SUM(CASE WHEN lang <> 'en' AND r >= threshold THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(CASE WHEN lang <> 'en' AND r >= threshold THEN 1 ELSE 0 END)
        |         + SUM(CASE WHEN lang <> 'en' AND r < threshold THEN 1 ELSE 0 END) AS DOUBLE), 9) AS fpr
        |FROM swept GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dedup_explain" ->
      s"""$dedupGroupsCte,
         |dfx AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
         |shared AS (
         |  SELECT p.doc_a, p.doc_b, a.s, d.df
         |  FROM pairs p JOIN sh a ON p.doc_a = a.doc_id
         |               JOIN sh b ON p.doc_b = b.doc_id AND a.s = b.s
         |               JOIN dfx d ON a.s = d.s)
         |SELECT doc_a, doc_b, s AS evidence_shingle, CAST(df AS BIGINT) AS df
         |FROM (
         |  SELECT doc_a, doc_b, s, df,
         |    row_number() OVER (PARTITION BY doc_a, doc_b ORDER BY df, s) AS rk
         |  FROM shared)
         |WHERE rk = 1 ORDER BY doc_a, doc_b""".stripMargin,
    "q_cross_source_overlap" ->
      s"""$dedupGroupsCte,
         |lab AS (SELECT doc_id, source FROM documents)
         |SELECT least(a.source, b.source) AS source_x,
         |  greatest(a.source, b.source) AS source_y, COUNT(*) AS n_pairs
         |FROM pairs JOIN lab a ON doc_a = a.doc_id JOIN lab b ON doc_b = b.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_template_detect" ->
      """SELECT substr(trim(lower(text)), 1, 32) AS prefix, COUNT(*) AS n_docs,
        |  CAST(MIN(doc_id) AS BIGINT) AS first_doc, CAST(MAX(doc_id) AS BIGINT) AS last_doc
        |FROM documents
        |GROUP BY 1 HAVING COUNT(*) >= 2
        |ORDER BY n_docs DESC, prefix""".stripMargin,
    "q_burstiness" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |a AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(c*c) AS BIGINT) AS sq
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n_days,
        |  round(CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE), 9) AS mean_daily,
        |  round((CAST(n_days AS DOUBLE) * CAST(sq AS DOUBLE)
        |         - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
        |    / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE))
        |    / (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE)), 9) AS fano
        |FROM a ORDER BY event_type""".stripMargin,
    "q_class_rebalance" ->
      s"""WITH m AS (
         |  SELECT MIN(n) AS m FROM (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1)),
         |h AS (
         |  SELECT doc_id, lang,
         |    ${mixSql(mixSql("(doc_id % 2147483647)", graft.text.TextOps.DefaultMixMult), graft.text.TextOps.DefaultMixMult)} AS h
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
         |  FROM h)
         |SELECT doc_id, lang FROM r CROSS JOIN m WHERE rk <= m
         |ORDER BY doc_id""".stripMargin,
    "q_hard_negatives" ->
      s"""WITH $embedBucketCtes, acands AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
         |  FROM bd q JOIN bd c
         |    ON q.band = c.band AND q.bkt = c.bkt AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 20
         |), scored AS (
         |  SELECT query_id, acands.vec_id,
         |    ${cosSql("qa.embedding", "ca.embedding")} AS sim
         |  FROM acands JOIN embeddings qa ON acands.query_id = qa.vec_id
         |              JOIN embeddings ca ON acands.vec_id = ca.vec_id
         |), ranked AS (
         |  SELECT query_id, vec_id, sim FROM (
         |    SELECT query_id, vec_id, sim,
         |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
         |    FROM scored) WHERE rk <= 10
         |), neg AS (
         |  SELECT r.query_id, r.vec_id, r.sim, dq.lang AS qlang, dn.lang AS nlang
         |  FROM ranked r JOIN documents dq ON r.query_id = dq.doc_id
         |                JOIN documents dn ON r.vec_id = dn.doc_id
         |  WHERE dq.lang <> dn.lang
         |), nr AS (
         |  SELECT query_id, vec_id, sim, qlang, nlang,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id)
         |      AS INTEGER) AS neg_rank
         |  FROM neg)
         |SELECT query_id, vec_id, sim, qlang, nlang, neg_rank
         |FROM nr WHERE neg_rank <= 3 ORDER BY query_id, neg_rank""".stripMargin,
    "q_data_card" ->
      """SELECT COUNT(*) AS n_docs,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(SUM(CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT))
        |    AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  round(CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 9) AS en_share,
        |  round(CAST(SUM(CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT))
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS avg_tokens,
        |  round(CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 9) AS exact_dup_rate
        |FROM documents""".stripMargin,
    "q_minhash_est" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents
         |), sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, len(tk) - 1),
         |      i -> array_to_string(tk[i:i+2], ' '))) AS s
         |  FROM toks
         |), hs AS (SELECT doc_id, s, ${mixedSql("s")} AS hs FROM sh),
         |sig AS (
         |  SELECT doc_id, i, MIN(((2*i+1)*hs + 12345*i+1) % 2147483647) AS h
         |  FROM hs CROSS JOIN (SELECT unnest(range(0,16)) AS i) GROUP BY doc_id, i
         |), bands AS (
         |  SELECT doc_id, i // 4 AS band,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list(h ORDER BY i)),
         |      (acc, x) -> (acc*1000003 + x) % 2147483647) AS bh
         |  FROM sig GROUP BY doc_id, i // 4
         |), cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
         |), sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |common AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS c
         |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
         |  WHERE (x.doc_id, y.doc_id) IN (SELECT (doc_a, doc_b) FROM cands)
         |  GROUP BY 1, 2),
         |lp AS (
         |  SELECT doc_a, doc_b, jaccard FROM (
         |    SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (x.n + y.n - c) AS jaccard
         |    FROM common JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id)
         |  WHERE jaccard >= 0.5),
         |est AS (
         |  SELECT p.doc_a, p.doc_b, p.jaccard,
         |    CAST(SUM(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) AS BIGINT) AS eq
         |  FROM lp p JOIN sig sa ON sa.doc_id = p.doc_a
         |            JOIN sig sb ON sb.doc_id = p.doc_b AND sa.i = sb.i
         |  GROUP BY 1, 2, 3)
         |SELECT doc_a, doc_b,
         |  round(CAST(eq AS DOUBLE) / 16.0, 9) AS j_est,
         |  round(jaccard, 9) AS j_exact,
         |  round(abs(CAST(eq AS DOUBLE) / 16.0 - jaccard), 9) AS abs_err
         |FROM est ORDER BY doc_a, doc_b""".stripMargin,
    "q_ood_detect" ->
      s"""WITH ${kmeansOracleCtes(k = 8, iters = 2)},
         |m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(CAST(dist AS HUGEINT)) AS sd,
         |    SUM(CAST(dist AS HUGEINT) * CAST(dist AS HUGEINT)) AS sq
         |  FROM aF)
         |SELECT vec_id, cluster, dist,
         |  round((CAST(dist AS DOUBLE) - CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))
         |    / sqrt((CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
         |            - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
         |           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 9) AS z
         |FROM aF CROSS JOIN m
         |ORDER BY dist DESC, vec_id LIMIT 20""".stripMargin,
    "q_cluster_balance" ->
      s"""WITH ${kmeansOracleCtes(k = 8, iters = 2)},
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM aF)
         |SELECT cluster, COUNT(*) AS n_vecs,
         |  round(CAST(COUNT(*) AS DOUBLE) / CAST(tot AS DOUBLE), 9) AS share,
         |  round(CAST(COUNT(*) AS DOUBLE) * 8.0 / CAST(tot AS DOUBLE), 9) AS imbalance
         |FROM aF CROSS JOIN t GROUP BY cluster, tot ORDER BY cluster""".stripMargin,
    "q_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_shard_assign" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |ranked AS (
        |  SELECT n_tok,
        |    CAST((row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1) % 8 AS BIGINT) AS shard
        |  FROM m)
        |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tokens
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_budget_trim" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    0.5 * (CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE)
        |           / len(string_split_regex(trim(lower(text)), '\s+')))
        |    + 0.5 * (CAST(length(regexp_replace(trim(lower(text)), '[^a-z ]', '', 'g')) AS DOUBLE)
        |             / length(trim(lower(text)))) AS score,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |t AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS tot FROM scored),
        |cum AS (
        |  SELECT doc_id, n_tok, score,
        |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY score DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM scored)
        |SELECT doc_id, n_tok, round(score, 9) AS score,
        |  cum_before + n_tok <= tot // 2 AS kept
        |FROM cum CROSS JOIN t ORDER BY doc_id""".stripMargin,
    "q_record_linkage" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, trim(lower(text)) AS nt,
        |    substr(trim(lower(text)), 1, 16) AS key,
        |    substr(trim(lower(text)), 1, 2) AS blk
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, lang, nt,
        |    lead(doc_id, 1) OVER (PARTITION BY blk ORDER BY key, doc_id) AS b1,
        |    lead(nt, 1) OVER (PARTITION BY blk ORDER BY key, doc_id) AS t1,
        |    lead(lang, 1) OVER (PARTITION BY blk ORDER BY key, doc_id) AS l1,
        |    lead(doc_id, 2) OVER (PARTITION BY blk ORDER BY key, doc_id) AS b2,
        |    lead(nt, 2) OVER (PARTITION BY blk ORDER BY key, doc_id) AS t2,
        |    lead(lang, 2) OVER (PARTITION BY blk ORDER BY key, doc_id) AS l2
        |  FROM docs),
        |cand AS (
        |  SELECT doc_id AS da, b1 AS db, nt AS ta, t1 AS tb, lang AS la, l1 AS lb
        |  FROM x WHERE b1 IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, b2, nt, t2, lang, l2 FROM x WHERE b2 IS NOT NULL),
        |scored AS (
        |  SELECT least(da, db) AS doc_a, greatest(da, db) AS doc_b,
        |    CASE WHEN la = lb THEN 1.0 ELSE 0.0 END AS lm,
        |    round(CAST(least(length(ta), length(tb)) AS DOUBLE)
        |      / CAST(greatest(length(ta), length(tb)) AS DOUBLE), 9) AS lr,
        |    round(CAST(len(list_intersect(list_distinct(string_split_regex(ta, '\s+')),
        |                                  list_distinct(string_split_regex(tb, '\s+')))) AS DOUBLE)
        |      / CAST(len(list_distinct(string_split_regex(ta, '\s+')))
        |           + len(list_distinct(string_split_regex(tb, '\s+')))
        |           - len(list_intersect(list_distinct(string_split_regex(ta, '\s+')),
        |                                list_distinct(string_split_regex(tb, '\s+')))) AS DOUBLE), 9)
        |      AS j
        |  FROM cand)
        |SELECT doc_a, doc_b, CAST(lm AS INTEGER) AS lang_match, lr AS len_ratio,
        |  j AS jaccard, round(lm + lr + j * 2.0, 9) AS score
        |FROM scored WHERE round(lm + lr + j * 2.0, 9) >= 2.0
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(tk) - 1),
        |      i -> array_to_string(tk[i:i+2], ' '))) AS s
        |  FROM toks
        |), first_d AS (SELECT s, MIN(doc_id) AS fd FROM sh GROUP BY 1)
        |SELECT doc_id, COUNT(*) AS n_shingles,
        |  CAST(SUM(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  round(CAST(SUM(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 9) AS novelty
        |FROM sh JOIN first_d USING (s)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_dedup_band_sweep" -> {
      val perBand = Seq(2, 4, 8).map { b =>
        val rpb = 16 / b
        s"""bands$b AS (
           |  SELECT doc_id, i // $rpb AS band,
           |    list_reduce(list_prepend(CAST(0 AS BIGINT), list(h ORDER BY i)),
           |      (acc, x) -> (acc*1000003 + x) % 2147483647) AS bh
           |  FROM sig GROUP BY doc_id, i // $rpb
           |), lc$b AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands$b a JOIN bands$b b
           |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
           |), lm$b AS (
           |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS c
           |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
           |  WHERE (x.doc_id, y.doc_id) IN (SELECT (doc_a, doc_b) FROM lc$b)
           |  GROUP BY 1, 2
           |), lp$b AS (
           |  SELECT doc_a, doc_b FROM (
           |    SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (x.n + y.n - c) AS jaccard
           |    FROM lm$b JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id)
           |  WHERE jaccard >= 0.5
           |)""".stripMargin
      }.mkString(",\n")
      val statRows = Seq(2, 4, 8).map { b =>
        s"""  SELECT CAST($b AS INTEGER) AS bands,
           |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lp$b) AS n_pairs,
           |    (SELECT CAST(COUNT(*) AS BIGINT)
           |     FROM lp$b JOIN tpairs USING (doc_a, doc_b)) AS tp""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents
         |), sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, len(tk) - 1),
         |      i -> array_to_string(tk[i:i+2], ' '))) AS s
         |  FROM toks
         |), dfs AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |pref AS (
         |  SELECT doc_id, s FROM (
         |    SELECT sh.doc_id, sh.s, z.n,
         |      row_number() OVER (PARTITION BY sh.doc_id ORDER BY d.df, sh.s) AS rn
         |    FROM sh JOIN dfs d USING (s) JOIN sz z USING (doc_id))
         |  WHERE rn <= n + 1 - (n + 1) // 2
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id
         |), common AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS c
         |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
         |  JOIN cand ON cand.doc_a = x.doc_id AND cand.doc_b = y.doc_id
         |  GROUP BY 1, 2
         |), tpairs AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (x.n + y.n - c) AS jaccard
         |    FROM common JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id)
         |  WHERE jaccard >= 0.5
         |), hs AS (SELECT doc_id, s, ${mixedSql("s")} AS hs FROM sh),
         |sig AS (
         |  SELECT doc_id, i, MIN(((2*i+1)*hs + 12345*i+1) % 2147483647) AS h
         |  FROM hs CROSS JOIN (SELECT unnest(range(0,16)) AS i) GROUP BY doc_id, i
         |),
         |$perBand,
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM tpairs),
         |stats AS (
         |$statRows)
         |SELECT bands, n_pairs, COALESCE(tp, 0) AS tp, n_truth,
         |  round(CAST(COALESCE(tp, 0) AS DOUBLE) / CAST(n_truth AS DOUBLE), 9) AS recall
         |FROM stats CROSS JOIN t ORDER BY bands""".stripMargin
    },
    "q_knn_classify" ->
      s"""WITH $embedBucketCtes, acands AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
         |  FROM bd q JOIN bd c
         |    ON q.band = c.band AND q.bkt = c.bkt AND q.vec_id <> c.vec_id
         |), scored AS (
         |  SELECT query_id, acands.vec_id,
         |    ${cosSql("qa.embedding", "ca.embedding")} AS sim
         |  FROM acands JOIN embeddings qa ON acands.query_id = qa.vec_id
         |              JOIN embeddings ca ON acands.vec_id = ca.vec_id
         |), ranked AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
         |    FROM scored) WHERE rk <= 5
         |), votes AS (
         |  SELECT query_id, d.lang AS nlang, COUNT(*) AS v
         |  FROM ranked JOIN documents d ON ranked.vec_id = d.doc_id GROUP BY 1, 2
         |), pred AS (
         |  SELECT query_id, nlang AS predicted FROM (
         |    SELECT query_id, nlang,
         |      row_number() OVER (PARTITION BY query_id ORDER BY v DESC, nlang) AS rn
         |    FROM votes) WHERE rn = 1)
         |SELECT p.query_id AS doc_id, d.lang AS actual, p.predicted,
         |  (d.lang = p.predicted) AS correct
         |FROM pred p JOIN documents d ON p.query_id = d.doc_id
         |ORDER BY doc_id""".stripMargin,
    "q_near_dup_eval" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk FROM documents
         |), sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, len(tk) - 1),
         |      i -> array_to_string(tk[i:i+2], ' '))) AS s
         |  FROM toks
         |), dfs AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |pref AS (
         |  SELECT doc_id, s FROM (
         |    SELECT sh.doc_id, sh.s, z.n,
         |      row_number() OVER (PARTITION BY sh.doc_id ORDER BY d.df, sh.s) AS rn
         |    FROM sh JOIN dfs d USING (s) JOIN sz z USING (doc_id))
         |  WHERE rn <= n + 1 - (n + 1) // 2
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id
         |), common AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS c
         |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
         |  JOIN cand ON cand.doc_a = x.doc_id AND cand.doc_b = y.doc_id
         |  GROUP BY 1, 2
         |), tpairs AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (x.n + y.n - c) AS jaccard
         |    FROM common JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id)
         |  WHERE jaccard >= 0.5
         |), hs AS (SELECT doc_id, s, ${mixedSql("s")} AS hs FROM sh),
         |sig AS (
         |  SELECT doc_id, i, MIN(((2*i+1)*hs + 12345*i+1) % 2147483647) AS h
         |  FROM hs CROSS JOIN (SELECT unnest(range(0,16)) AS i) GROUP BY doc_id, i
         |), bands AS (
         |  SELECT doc_id, i // 4 AS band,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list(h ORDER BY i)),
         |      (acc, x) -> (acc*1000003 + x) % 2147483647) AS bh
         |  FROM sig GROUP BY doc_id, i // 4
         |), lcands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
         |), lcommon AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS c
         |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
         |  WHERE (x.doc_id, y.doc_id) IN (SELECT (doc_a, doc_b) FROM lcands)
         |  GROUP BY 1, 2
         |), lpairs AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (x.n + y.n - c) AS jaccard
         |    FROM lcommon JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id)
         |  WHERE jaccard >= 0.5
         |), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM tpairs),
         |l AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lsh FROM lpairs),
         |i AS (SELECT CAST(COUNT(*) AS BIGINT) AS tp
         |      FROM tpairs JOIN lpairs USING (doc_a, doc_b))
         |SELECT n_truth, n_lsh, tp, CAST(n_truth - tp AS BIGINT) AS fn,
         |  round(CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE), 9) AS recall
         |FROM t CROSS JOIN l CROSS JOIN i""".stripMargin,
    "q_sorted_blocking" ->
      """WITH docs AS (
        |  SELECT doc_id, trim(lower(text)) AS nt,
        |    substr(trim(lower(text)), 1, 16) AS key,
        |    substr(trim(lower(text)), 1, 2) AS blk
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, nt,
        |    lead(doc_id, 1) OVER (PARTITION BY blk ORDER BY key, doc_id) AS b1,
        |    lead(nt, 1) OVER (PARTITION BY blk ORDER BY key, doc_id) AS t1,
        |    lead(doc_id, 2) OVER (PARTITION BY blk ORDER BY key, doc_id) AS b2,
        |    lead(nt, 2) OVER (PARTITION BY blk ORDER BY key, doc_id) AS t2
        |  FROM docs),
        |cand AS (
        |  SELECT doc_id AS da, b1 AS db, nt AS ta, t1 AS tb FROM x WHERE b1 IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, b2, nt, t2 FROM x WHERE b2 IS NOT NULL),
        |scored AS (
        |  SELECT least(da, db) AS doc_a, greatest(da, db) AS doc_b,
        |    round(CAST(len(list_intersect(list_distinct(string_split_regex(ta, '\s+')),
        |                                  list_distinct(string_split_regex(tb, '\s+')))) AS DOUBLE)
        |      / CAST(len(list_distinct(string_split_regex(ta, '\s+')))
        |           + len(list_distinct(string_split_regex(tb, '\s+')))
        |           - len(list_intersect(list_distinct(string_split_regex(ta, '\s+')),
        |                                list_distinct(string_split_regex(tb, '\s+')))) AS DOUBLE), 9)
        |      AS jaccard
        |  FROM cand)
        |SELECT doc_a, doc_b, jaccard FROM scored
        |WHERE jaccard >= 0.3 ORDER BY doc_a, doc_b""".stripMargin,
    "q_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |v AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM toks GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM toks),
        |d AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens,
        |    CAST(SUM(CAST(round(-ln(CAST(cw AS DOUBLE) / CAST(nt AS DOUBLE)), 9)
        |      AS DECIMAL(28,9))) * 1000000000 AS BIGINT) AS nll_nanos
        |  FROM toks JOIN v USING (w) CROSS JOIN t GROUP BY 1)
        |SELECT doc_id, n_tokens,
        |  round(CAST(nll_nanos AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1e9), 9)
        |    AS avg_nll,
        |  round(exp(CAST(nll_nanos AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1e9)), 6)
        |    AS ppl
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_langid_confusion" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |pred AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN CAST(COUNT(CASE WHEN w IN ('a','an','the','of','to','in','and','is','it','for','on','with') THEN 1 END) AS DOUBLE)
        |      / COUNT(*) >= 0.08 THEN 'en' ELSE 'other' END AS predicted
        |  FROM tok GROUP BY 1, 2),
        |cells AS (SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n FROM pred GROUP BY 1, 2),
        |rows_t AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang FROM cells GROUP BY 1)
        |SELECT lang, predicted, n,
        |  round(CAST(n AS DOUBLE) / CAST(n_lang AS DOUBLE), 9) AS row_share
        |FROM cells JOIN rows_t USING (lang)
        |ORDER BY lang, predicted""".stripMargin,
    "q_curriculum_buckets" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    0.5 * (CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE)
        |           / len(string_split_regex(trim(lower(text)), '\s+')))
        |    + 0.5 * (CAST(length(regexp_replace(trim(lower(text)), '[^a-z ]', '', 'g')) AS DOUBLE)
        |             / length(trim(lower(text)))) AS score
        |  FROM documents),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM scored),
        |ranked AS (
        |  SELECT CAST(((row_number() OVER (ORDER BY score DESC, doc_id) - 1) * 10) // n
        |    AS BIGINT) AS bucket,
        |    CAST(round(score, 9) AS DECIMAL(28,9)) AS sq
        |  FROM scored CROSS JOIN n)
        |SELECT bucket, COUNT(*) AS n_docs,
        |  round(CAST(SUM(sq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS mean_score
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_char_trigrams" ->
      """WITH tri AS (
        |  SELECT lang,
        |    unnest(list_transform(range(1, greatest(length(nt) - 2, 1) + 1),
        |      i -> substr(nt, CAST(i AS INTEGER), 3))) AS tri
        |  FROM (SELECT lang, trim(lower(text)) AS nt FROM documents)),
        |cnt AS (
        |  SELECT lang, tri, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tri WHERE length(tri) = 3 GROUP BY 1, 2)
        |SELECT lang, tri, n, rk FROM (
        |  SELECT lang, tri, n,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, tri) AS INTEGER) AS rk
        |  FROM cnt)
        |WHERE rk <= 10 ORDER BY lang, rk""".stripMargin,
    "q_dim_variance" ->
      """WITH pts AS (
        |  SELECT CAST(i AS INTEGER) AS pos,
        |    CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000) AS BIGINT) + 1000000 AS e
        |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS i)),
        |a AS (
        |  SELECT pos, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(e) AS BIGINT) AS se,
        |    CAST(SUM(e*e) AS BIGINT) AS sq
        |  FROM pts GROUP BY 1)
        |SELECT pos, n,
        |  round(CAST(se AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 - 1.0, 9) AS mean,
        |  round((CAST(n AS DOUBLE) * CAST(sq AS DOUBLE) - CAST(se AS DOUBLE) * CAST(se AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1000000000000.0, 9) AS variance
        |FROM a ORDER BY pos""".stripMargin,
    "q_centroid_drift" ->
      """WITH pts AS (
        |  SELECT vec_id % 2 AS half, CAST(i AS INTEGER) AS pos,
        |    CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000) AS BIGINT)
        |      + 1000000 AS e
        |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS i)),
        |means AS (
        |  SELECT half, pos, CAST(SUM(e) // COUNT(*) AS BIGINT) AS m
        |  FROM pts GROUP BY 1, 2)
        |SELECT pos,
        |  MAX(CASE WHEN half = 0 THEN m END) AS mean_even,
        |  MAX(CASE WHEN half = 1 THEN m END) AS mean_odd,
        |  CAST(MAX(CASE WHEN half = 0 THEN m END)
        |    - MAX(CASE WHEN half = 1 THEN m END) AS BIGINT) AS drift
        |FROM means GROUP BY pos ORDER BY pos""".stripMargin,
    "q_mmr" -> {
      val rounds = (2 to 5).map { k =>
        s"""p$k AS (
           |  SELECT x AS vec_id, MAX(psim) AS mp
           |  FROM ps JOIN s${k - 1} sel ON ps.y = sel.vec_id GROUP BY 1),
           |pick$k AS (
           |  SELECT c.vec_id, CAST($k AS INTEGER) AS rk,
           |    round(c.sim * 0.7 - p.mp * 0.3, 9) AS score
           |  FROM cands c JOIN p$k p ON c.vec_id = p.vec_id
           |  WHERE c.vec_id NOT IN (SELECT vec_id FROM s${k - 1})
           |  ORDER BY score DESC, c.vec_id LIMIT 1),
           |s$k AS (SELECT * FROM s${k - 1} UNION ALL SELECT * FROM pick$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |cands AS (
         |  SELECT vec_id, sim FROM (
         |    SELECT e.vec_id, ${cosSql("e.embedding", "q.qe")} AS sim
         |    FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0)
         |  ORDER BY sim DESC, vec_id LIMIT 10),
         |ce AS (SELECT c.vec_id, c.sim, e.embedding
         |       FROM cands c JOIN embeddings e USING (vec_id)),
         |ps AS (
         |  SELECT a.vec_id AS x, b.vec_id AS y,
         |    ${cosSql("a.embedding", "b.embedding")} AS psim
         |  FROM ce a JOIN ce b ON a.vec_id <> b.vec_id),
         |s1 AS (
         |  SELECT vec_id, CAST(1 AS INTEGER) AS rk, round(sim * 0.7, 9) AS score
         |  FROM cands ORDER BY sim DESC, vec_id LIMIT 1),
         |$rounds
         |SELECT vec_id, rk, score FROM s5 ORDER BY rk""".stripMargin
    },
    "q_recall_at_k" ->
      s"""WITH $embedBucketCtes,
         |qs AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
         |exsc AS (
         |  SELECT q.query_id, e.vec_id, ${cosSql("e.embedding", "q.qe")} AS sim
         |  FROM embeddings e CROSS JOIN qs q WHERE e.vec_id <> q.query_id),
         |ex AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
         |    FROM exsc) WHERE rk <= 10),
         |acands AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
         |  FROM bd q JOIN bd c ON q.band = c.band AND q.bkt = c.bkt AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10),
         |ascored AS (
         |  SELECT query_id, acands.vec_id, ${cosSql("qa.embedding", "ca.embedding")} AS sim
         |  FROM acands JOIN embeddings qa ON acands.query_id = qa.vec_id
         |              JOIN embeddings ca ON acands.vec_id = ca.vec_id),
         |ann AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
         |    FROM ascored) WHERE rk <= 10),
         |hx AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact FROM ex GROUP BY 1),
         |ha AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_ann FROM ann GROUP BY 1),
         |hh AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
         |       FROM ex JOIN ann USING (query_id, vec_id) GROUP BY 1)
         |SELECT hx.query_id, n_exact,
         |  COALESCE(n_ann, 0) AS n_ann, COALESCE(n_hit, 0) AS n_hit,
         |  round(CAST(COALESCE(n_hit, 0) AS DOUBLE) / CAST(n_exact AS DOUBLE), 9) AS recall
         |FROM hx LEFT JOIN ha USING (query_id) LEFT JOIN hh USING (query_id)
         |ORDER BY query_id""".stripMargin,
    "q_stream_topk" ->
      s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, ${ss("value")} AS sum_value
         |FROM events GROUP BY 1 ORDER BY n DESC, event_type LIMIT 5""".stripMargin,
    "q_dup_rate_by_source" ->
      s"""$dedupGroupsCte,
         |sizes AS (SELECT group_id, COUNT(*) AS gsz FROM groups GROUP BY 1),
         |flagged AS (
         |  SELECT g.doc_id, CASE WHEN s.gsz > 1 THEN 1 ELSE 0 END AS is_dup
         |  FROM groups g JOIN sizes s USING (group_id))
         |SELECT d.source, COUNT(*) AS n_docs, CAST(SUM(is_dup) AS BIGINT) AS n_dup_docs,
         |  round(CAST(SUM(is_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS dup_rate
         |FROM documents d JOIN flagged f ON d.doc_id = f.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
