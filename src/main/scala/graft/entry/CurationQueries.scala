package graft.entry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.graph.PageRank
import graft.ingest.Normalize
import graft.multimodal.Media
import graft.ops.{Ordered, Profile, Reshape, Scalar}
import graft.sim.Similarity
import graft.sources.{LocalFs, Tables}
import graft.text.{Dedup, TextOps}

import graft.entry.EntryHelpers._

/** Corpus-curation passes: PII redaction, decontamination, global ids,
  * stratified sampling, ORC, NFC normalization, line dedup, sequence
  * packing, int8 quantization, salted aggregation, token entropy, EWMA,
  * batched ANN and stream-static enrichment.
  *
  * One `queries` entry per operator (driver contract) with its DuckDB
  * `oracleSql` twin; split out of the monolithic SparkEntry (round-5
  * verdict ask #8), zero behavior change.
  */
private[graft] object CurationQueries {
  // =====================================================================
  // round-3 widening: PII, decontamination, global ids, stratified
  // sampling, ORC
  // =====================================================================

  /** X3 PII redaction: emails / phone fragments / IPv4 literals replaced
    * by typed placeholders, with per-kind match counts. The synthetic
    * corpus carries no PII, so the PII is PLANTED deterministically from
    * key columns (both engines build the identical enriched text — the
    * construction is part of the query, not a fixture); the redaction
    * itself is three codegen'd regexp_replace passes over RE2-compatible
    * patterns — a map-only scan with zero shuffle at 100 TB.
    */
  private def qPiiRedact(s: SparkSession, dir: String): DataFrame = {
    val contact = concat(
      lit("user"), col("doc_id").cast("string"), lit("@"), col("source"),
      lit(".org tel 555-"),
      lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
      lit(" ip 10.0."), pmod(col("doc_id"), lit(256L)).cast("string"), lit(".7"))
    Tables.table(s, dir, "documents")
      .withColumn("enriched", concat(col("text"), lit(" "), contact))
      .select(col("doc_id"),
        TextOps.redactPii(col("enriched")).as("redacted"),
        regexp_count(col("enriched"), lit(TextOps.PiiEmailPattern)).cast("int").as("n_emails"),
        regexp_count(col("enriched"), lit(TextOps.PiiPhonePattern)).cast("int").as("n_phones"),
        regexp_count(col("enriched"), lit(TextOps.PiiIpPattern)).cast("int").as("n_ips"))
      .orderBy("doc_id")
  }

  /** X1 benchmark decontamination: flag every training doc sharing any
    * word 8-gram with the eval slice (doc_id % 10 == 8 stands in for a
    * benchmark suite — the rule intersects the corpus's planted
    * near-dups, so hits exist at every SF). Eval shingles broadcast;
    * corpus side is one scan (Dedup.contaminationHits).
    */
  private def qDecontaminate(s: SparkSession, dir: String): DataFrame =
    Dedup.contaminationHits(Tables.table(s, dir, "documents"),
        pmod(col("doc_id"), lit(10L)) === 8, n = 8)
      .orderBy("doc_id")

  /** X2+ semantic decontamination — the embedding-side companion of
    * q_decontaminate's n-gram overlap (the eval-set-similarity filter
    * production curation runs BESIDE exact-overlap checks: paraphrased
    * benchmark leakage shares no 8-gram but sits close in embedding
    * space). Benchmark vectors (vec_id ≡ 8 mod 10, the held-out
    * convention the n-gram variant uses) probe the corpus through the
    * banded sign-LSH machinery (Similarity.semanticMatches — candidates
    * are |benchmark|·occupancy·bands, linear in the corpus under the
    * adaptive band width, with the bucket-df stop-key cap dropping any
    * correlated hot bucket the widening cannot split); every corpus
    * vector any benchmark hits at
    * cosine ≥ 0.35 is flagged with its STRONGEST hit (argmax by sim
    * desc, bench asc — one per-corpus-vector rank window).
    */
  private def qSemDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hits = Similarity.semanticMatches(s, Tables.table(s, dir, "embeddings"),
        queryPred = pmod(col("vec_id"), lit(10L)) === 8L, threshold = 0.35)
      .filter(pmod(col("vec_id"), lit(10L)) =!= 8L)
    val w = Window.partitionBy("vec_id").orderBy(desc("sim"), col("query_id"))
    hits.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("query_id").as("bench_id"), col("sim"))
      .orderBy("vec_id")
  }

  /** Dense contiguous global row ids without a single-task global sort
    * (Ordered.globalRowIds): ids equal `row_number() OVER (ORDER BY
    * o_orderkey)` — the oracle — but every partition ranks in parallel.
    */
  private def qGlobalIds(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ordered.globalRowIds(
        Tables.table(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        Seq(col("o_orderkey")), "gid")
      .select("o_orderkey", "o_orderpriority", "gid")
      .orderBy("o_orderkey")

  /** Deterministic stratified sampling: per-language keep rates (en 50%,
    * others 10%) decided by the portable hash of the doc id — the
    * reproducible per-stratum downsampling a multilingual corpus mix
    * applies before training. Pure map-side filter: no shuffle, the same
    * sample every run, partitioning, and engine (rand()-based sampling is
    * none of those).
    */
  private def qStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val h = TextOps.mixedHash(col("doc_id").cast("string"))
    Tables.table(s, dir, "documents")
      .filter(pmod(h, lit(100L)) <
        when(col("lang") === "en", lit(50L)).otherwise(lit(10L)))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** S1 columnar-format roundtrip beyond parquet: events → ORC (written
    * once per sf-dir, mtime-stamped like the bucketed-join layout — re-runs
    * reuse it) → ORC scan → aggregate. The ORC reader does the same column
    * pruning + predicate pushdown as parquet, so the filter lands in the
    * scan, and the oracle reads the ORIGINAL parquet: the roundtrip must
    * be value-exact, not just shape-preserving.
    */
  private def qScanOrc(s: SparkSession, dir: String): DataFrame = {
    val stamp = graft.sources.Stamped.stampOf(dir, "events.parquet")
    val tmp = s"${tmpDir("scan_orc", dir)}_$stamp"
    graft.sources.Stamped.publish(s, tmp)(
      Tables.events(s, dir).select("event_id", "event_type", "value")
        .write.mode("overwrite").orc(_))
    s.read.orc(tmp)
      .filter(col("event_type") =!= "error")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), Scalar.stableSum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  // =====================================================================

  /** X5 custom stateful sessionization run THROUGH the streaming engine
    * (flatMapGroupsWithState, event-time timeout) against the batch
    * gaps-and-islands oracle — same 5-minute gap as `q_sessionize`, so
    * the custom state machine and the declarative window formulation are
    * cross-checked against each other via DuckDB. Only watermark-FINAL
    * (closed) sessions are compared: the engine can close a session only
    * once the watermark (max event time − 30 min delay) passes its end +
    * gap, and the oracle applies the identical cutoff — streaming
    * finality semantics, reproduced in SQL.
    */
  private def qStreamSessionize(s: SparkSession, dir: String): DataFrame = {
    val feed = stageFeed(dir, "stream_sess_feed", names = Seq("events.parquet"))
    val sess = graft.streaming.EventStreams.sessionize(s,
      graft.streaming.EventStreams.readEventStream(s, feed),
      watermarkDelay = "30 minutes", gapMs = 5L * 60 * 1000)
    graft.streaming.EventStreams.runToCompletion(s, sess.toDF(),
        "stream_sessionize_" + dirTag(dir), org.apache.spark.sql.streaming.OutputMode.Update)
      .filter(col("closed"))
      .select("user_id", "session_start_ms", "n_events", "duration_secs")
      .orderBy("user_id", "session_start_ms")
  }

  // =====================================================================
  // round-3 widening, part 2: normalization, line dedup, packing,
  // quantization, salted join
  // =====================================================================

  /** X3 Unicode NFC normalization over the corpus — the pass that makes
    * byte-keyed dedup/fingerprinting see visually-identical text as equal.
    * The ASCII testdata is NFC-trivial, so decomposed sequences are
    * PLANTED deterministically (every 'a' becomes 'a' + U+0301 COMBINING
    * ACUTE — the construction is part of the query, both engines build the
    * identical string); normalization composes them back to U+00E1 via the
    * codegen'd [[graft.functions.NfcNormalize]] expression (Spark has no
    * builtin; a UDF would break whole-stage codegen on a full-corpus
    * scan). Map-only, zero shuffle. The code-point lengths expose the
    * composition: len_nfc < len_raw exactly where pairs composed.
    */
  private def qTextNormalize(s: SparkSession, dir: String): DataFrame = {
    graft.functions.NfcNormalize.register(s)
    Tables.table(s, dir, "documents")
      // decomposed plant: 'a' + U+0301 (the oracle spells it chr(769) —
      // Spark's chr() is ASCII-only, so this side uses the escape literal)
      .withColumn("raw", replace(col("text"), lit("a"), lit("a\u0301")))
      .select(col("doc_id"),
        graft.functions.NfcNormalize.nfcNormalize(col("raw")).as("nfc_text"),
        length(col("raw")).cast("int").as("len_raw"),
        length(graft.functions.NfcNormalize.nfcNormalize(col("raw")))
          .cast("int").as("len_nfc"))
      .orderBy("doc_id")
  }

  /** X1 cross-document repeated-span removal (CCNet/RefinedWeb line
    * dedup; Dedup.lineDedup): consecutive 8-token spans deduped
    * corpus-wide (first occurrence by (doc_id, pos) wins), documents
    * rebuilt from surviving spans. The planted near-dup docs lose their
    * repeated spans; a later exact duplicate comes back empty.
    */
  private def qLineDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.lineDedup(Tables.table(s, dir, "documents"), chunkTokens = 8)
      .orderBy("doc_id")

  /** X1 exact duplicated-substring spans (Lee et al. 2022's ExactSubstr
    * dedup, relationally): maximal cross-document runs of shared 4-token
    * grams covering >= 8 tokens, via inverted-index candidates and a
    * diagonal gaps-and-islands merge — the duplicated REGIONS that
    * document-level dedup can't see and q_line_dedup's fixed chunking
    * only catches when aligned. Gram strings, integer positions, and the
    * window arithmetic are all engine-portable: fully oracle-checked.
    */
  private def qDupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.dupSpans(Tables.table(s, dir, "documents"), k = 4, minTokens = 8)
      .orderBy("doc_a", "doc_b", "a_start", "b_start")

  /** X1 ExactSubstr duplicated-region stats (Lee et al. 2022 — the
    * char-level dedup published to improve LM training): per document,
    * the merged [p, p+24) intervals over positions whose 24-char
    * substring repeats anywhere in the corpus, as covered-char count,
    * span count, and ratio. See Dedup.exactSubstrDupStats for why the
    * paper's suffix array reduces to one combinable k-gram count on
    * Spark (sorted-neighbor LCP ≥ k ⟺ k-gram count ≥ 2).
    */
  private def qExactSubstr(s: SparkSession, dir: String): DataFrame =
    Dedup.exactSubstrDupStats(Tables.table(s, dir, "documents"), k = 24)
      .orderBy("doc_id")

  /** X3 sequence packing: concatenate the corpus in doc_id order and cut
    * it into fixed 512-token training sequences — each doc's pack_id and
    * starting offset form the packing manifest a trainer consumes. The
    * token counting is a map-only corpus scan; the exclusive prefix sum
    * runs on the NARROW (id, n_tok) manifest via the distributed
    * range-partition + broadcast-offsets scaffold (Ordered.prefixSum) —
    * no single-task global window anywhere.
    */
  private def qSeqPack(s: SparkSession, dir: String): DataFrame = {
    val manifest = Tables.table(s, dir, "documents")
      .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    graft.ops.Ordered.prefixSum(manifest, Seq(col("doc_id")), col("n_tok"), "cum_before")
      .select(col("doc_id"), col("n_tok"), col("cum_before"),
        expr("cum_before DIV 512").as("pack_id"),
        pmod(col("cum_before"), lit(512L)).as("pack_off"))
      .orderBy("doc_id")
  }

  /** X3 deterministic weighted systematic sampling — the data-mixing
    * sampler: pick n=100 documents proportionally to byte weight with
    * ZERO floats. Thresholds t_i = (2i+1)·W/(2n) (the inverse-CDF
    * midpoints) land in each doc's cumulative-weight interval
    * [cum_before, cum_before+w); the count of thresholds inside an
    * interval is a closed-form integer expression f(hi)−f(lo) with
    * f(x) = min(n, (2n·x + W − 1) div (2W)) — all operands non-negative,
    * so truncating div (Spark) and flooring // (DuckDB) agree. The
    * cumulative distribution comes from the DISTRIBUTED two-level prefix
    * sum (Ordered.prefixSum — range-partition, per-partition offsets,
    * partition-local window), not a one-task global window, so the
    * sampler scans 100 TB at full parallelism. Oversized docs (w > W/n)
    * surface as picks > 1 — exactly the with-replacement multiplicity a
    * weighted sampler owes them.
    */
  private def qWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val n = 100L
    val manifest = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long").as("w"))
    val cum = graft.ops.Ordered.prefixSum(
      manifest, Seq(col("doc_id")), col("w"), "cum_before")
    val tot = manifest.agg(sum("w").as("tw"))
    cum.join(broadcast(tot))
      .withColumn("picks",
        least(lit(n), expr(s"(${2 * n} * (cum_before + w) + tw - 1) div (2 * tw)"))
          - least(lit(n), expr(s"(${2 * n} * cum_before + tw - 1) div (2 * tw)")))
      .filter(col("picks") >= 1)
      .select(col("doc_id"), col("w"), col("cum_before"), col("picks"))
      .orderBy("doc_id")
  }

  /** X2 symmetric int8 embedding quantization (Similarity.quantizeInt8):
    * 4× smaller vectors for every downstream ANN shuffle/scan, with the
    * per-vector reconstruction error bound surfaced so a pipeline can
    * gate on it. Map-only. Quantized values ride a plain int-string
    * serialization (same rationale as serializeFloats: the driver compare
    * can't sort ndarray cells).
    */
  private def qEmbedQuantize(s: SparkSession, dir: String): DataFrame =
    graft.sim.Similarity.quantizeInt8(Tables.table(s, dir, "embeddings"))
      .select(col("vec_id"), round(col("scale"), 9).as("scale"),
        array_join(transform(col("q"), _.cast("string")), ",").as("q_str"),
        round(col("max_err"), 9).as("max_err"))
      .orderBy("vec_id")

  /** Salted sort-merge join on a hot key (Skew.saltedEquiJoin): event_type
    * has 5 values over the whole fact table — the canonical funnel-one-
    * reducer shape when the dim side can't broadcast. The dim replicates
    * 8×, facts salt deterministically off event_id, the join key becomes
    * (event_type, salt) — row-identical to the unsalted join (the oracle
    * IS the unsalted join; SkewSpec asserts the merge-join plan).
    */
  private def qSkewJoinSalted(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select("event_id", "event_type", "value")
    val dim = ev.select("event_type").distinct()
      .withColumn("type_weight", length(col("event_type")).cast("int"))
    graft.ops.Skew.saltedEquiJoin(ev, dim, "event_type", Seq(col("event_id")), salts = 8)
      .select("event_id", "event_type", "type_weight", "value")
      .orderBy("event_id")
  }

  /** X3 unigram-LM surprisal scoring — the model-based quality filter of
    * web-corpus pipelines (docs whose tokens are uniformly high-frequency
    * read as boilerplate; rare-token-dense docs as noise): corpus term
    * frequencies (one map-side-combined aggregation), then every doc's
    * mean −ln p(token) under that unigram model. The per-token join is a
    * hash equi-join on the term — at 100 TB the vocabulary is shuffled,
    * not broadcast (web vocabularies run 10^8 terms), and both sides are
    * (term, count) slim. ln() is libm-dependent, so the mean is rounded
    * to 6 places on both engines (SURVEY §5.1 float-parity rule).
    */
  private def qUnigramLogprob(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(s, dir, "documents")
    val toks = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
    val tf = toks.groupBy("term").agg(count(lit(1)).as("tf"))
    val total = tf.agg(sum("tf").as("n_total"))
    toks.join(tf, "term").crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        round(avg(-log(col("tf").cast("double") / col("n_total"))), 6)
          .as("surprisal"))
      .orderBy("doc_id")
  }

  /** X3+ DSIR-style hashed-unigram importance weights (Data Selection
    * via Importance Resampling, Xie et al. 2023 — the public method
    * behind "select raw web data that looks like the target corpus"):
    * tokens hash into 64 buckets (the hashed n-gram feature space), the
    * TARGET distribution is the English slice, the RAW distribution the
    * whole corpus, and each doc scores Σ_tokens ln(p_tgt(b)/p_raw(b))
    * with add-one smoothing over the bucket spine — docs whose token
    * mass sits in target-heavy buckets get positive log-weights and
    * survive the resample. Scale shape: one token explode feeding BOTH
    * distribution counts and the per-(doc,bucket) table (map-side
    * combinable), then a 64-row broadcast log-ratio join — no shuffle
    * touches raw text twice. ln() is libm-dependent, so each bucket's
    * log-ratio is rounded to 9 and summed in exact decimals (the
    * q_adamic_adar transcendental convention); zero-count buckets get
    * their smoothing mass from a full 64-row spine.
    */
  private def qDsirWeights(s: SparkSession, dir: String): DataFrame = {
    val nb = 64L
    val docs = Tables.table(s, dir, "documents")
    val toks = docs.select(col("doc_id"), col("lang"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("lang"),
        pmod(TextOps.mixedHash(col("tok")), lit(nb)).as("b"))
    val perDoc = toks.groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
    val byB = toks.groupBy("b").agg(
      count(lit(1)).as("r"),
      sum((col("lang") === "en").cast("long")).as("t"))
    val totals = byB.agg(sum("r").as("rt"), sum("t").as("tt"))
    val spine = s.range(nb).select(col("id").as("b"))
    val lw = spine.join(byB, Seq("b"), "left").na.fill(0L, Seq("r", "t"))
      .crossJoin(broadcast(totals))
      .select(col("b"),
        round(log(
          ((col("t") + 1L).cast("double") / (col("tt") + nb).cast("double")) *
            ((col("rt") + nb).cast("double") / (col("r") + 1L).cast("double"))), 9)
          .cast(org.apache.spark.sql.types.DecimalType(28, 9)).as("lw"))
    // c stays DECIMAL(9,0) so the product is DECIMAL(38,9) — a wider c
    // would push precision past 38 and Spark's precision-loss rule
    // silently truncates the scale to 6; 9 digits bound any per-doc
    // per-bucket token count
    perDoc.join(broadcast(lw), "b")
      .groupBy("doc_id")
      .agg(sum("c").as("n_toks"),
        sum(col("c").cast(org.apache.spark.sql.types.DecimalType(9, 0)) * col("lw"))
          .cast("double").as("log_weight"))
      .orderBy("doc_id")
  }

  /** S6+ dynamic partition overwrite ("upsert" at partition granularity —
    * the standard warehouse backfill: rewrite ONE day in place without
    * touching the others). Full daily-partitioned write, then an overwrite
    * of only 2024-01-15 with corrected (doubled) values via
    * partitionOverwriteMode=dynamic; the read-back aggregate proves the
    * other ~30 day-partitions survived untouched while the backfilled day
    * carries the fix. (The key is a day STRING, not Quarter — the events
    * table spans one month, and a one-partition table would make the
    * leave-the-rest-alone semantics vacuous.)
    */
  private def qSinkUpsert(s: SparkSession, dir: String): DataFrame = {
    val tmp = tmpDir("sink_upsert", dir)
    val ev = Tables.events(s, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .select("event_id", "day", "event_type", "value")
    graft.pipeline.Sink.writePartitioned(ev, tmp, "day")
    LocalFs.scoped(s, tmp) {
      ev.filter(col("day") === "2024-01-15")
        .withColumn("value", col("value") * 2)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("day").parquet(tmp)
    }
    s.read.parquet(tmp)
      // partition-dir names type-infer back as DATE; the declared schema
      // (and the oracle) keep the day a plain string
      .groupBy(col("day").cast("string").as("day"))
      .agg(count(lit(1)).as("n"), Scalar.stableSum(col("value")).as("sum_value"))
      .orderBy("day")
  }


  /** This family's share of SparkEntry.queries. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pii_redact" -> (qPiiRedact _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_global_ids" -> (qGlobalIds _),
    "q_stratified_sample" -> (qStratifiedSample _),
    "q_scan_orc" -> (qScanOrc _),
    "q_stream_sessionize" -> (qStreamSessionize _),
    "q_text_normalize" -> (qTextNormalize _),
    "q_line_dedup" -> (qLineDedup _),
    "q_dup_spans" -> (qDupSpans _),
    "q_exact_substr" -> (qExactSubstr _),
    "q_sem_decontaminate" -> (qSemDecontaminate _),
    "q_seq_pack" -> (qSeqPack _),
    "q_weighted_sample" -> (qWeightedSample _),
    "q_embed_quantize" -> (qEmbedQuantize _),
    "q_skew_join_salted" -> (qSkewJoinSalted _),
    "q_unigram_logprob" -> (qUnigramLogprob _),
    "q_dsir_weights" -> (qDsirWeights _),
    "q_sink_upsert" -> (qSinkUpsert _),
  )

  /** This family's share of SparkEntry.oracleSql. */
  def oracleSql: Map[String, String] = Map(
    "q_pii_redact" ->
      s"""WITH e AS (
         |  SELECT doc_id,
         |    text || ' user' || CAST(doc_id AS VARCHAR) || '@' || source ||
         |      '.org tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         |      ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS enriched
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(enriched,
         |    '${TextOps.PiiEmailPattern}', '<EMAIL>', 'g'),
         |    '${TextOps.PiiPhonePattern}', '<PHONE>', 'g'),
         |    '${TextOps.PiiIpPattern}', '<IP>', 'g') AS redacted,
         |  CAST(len(regexp_extract_all(enriched, '${TextOps.PiiEmailPattern}')) AS INTEGER) AS n_emails,
         |  CAST(len(regexp_extract_all(enriched, '${TextOps.PiiPhonePattern}')) AS INTEGER) AS n_phones,
         |  CAST(len(regexp_extract_all(enriched, '${TextOps.PiiIpPattern}')) AS INTEGER) AS n_ips
         |FROM e ORDER BY doc_id""".stripMargin,
    "q_decontaminate" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - 6),
        |    i -> array_to_string(tk[i:i+7], ' ')))) AS s
        |  FROM tok
        |), ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 8)
        |SELECT sh.doc_id, COUNT(*) AS n_hits
        |FROM sh JOIN ev USING (s)
        |WHERE sh.doc_id % 10 <> 8
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_global_ids" ->
      """SELECT o_orderkey, o_orderpriority,
        |  row_number() OVER (ORDER BY o_orderkey) AS gid
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_stratified_sample" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE (${mixedSql("CAST(doc_id AS VARCHAR)")}) % 100
         |  < CASE WHEN lang = 'en' THEN 50 ELSE 10 END
         |ORDER BY doc_id""".stripMargin,
    "q_scan_orc" ->
      s"""SELECT event_type, COUNT(*) AS n, ${ss("value")} AS sum_value
         |FROM events WHERE event_type <> 'error'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_stream_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), numbered AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM flagged
        |), sess AS (
        |  SELECT user_id, epoch_ms(MIN(ts)) AS session_start_ms,
        |    epoch_ms(MAX(ts)) AS session_end_ms,
        |    CAST(COUNT(*) AS INTEGER) AS n_events
        |  FROM numbered GROUP BY user_id, sess_id
        |), cut AS (SELECT epoch_ms(MAX(ts)) AS max_ms FROM events)
        |SELECT user_id, session_start_ms, n_events,
        |  (session_end_ms - session_start_ms) // 1000 AS duration_secs
        |FROM sess, cut
        |WHERE session_end_ms + 5*60*1000 <= max_ms - 30*60*1000
        |ORDER BY user_id, session_start_ms""".stripMargin,
    "q_text_normalize" ->
      """WITH r AS (
        |  SELECT doc_id, replace(text, 'a', 'a' || chr(769)) AS raw
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(raw) AS nfc_text,
        |  CAST(length(raw) AS INTEGER) AS len_raw,
        |  CAST(length(nfc_normalize(raw)) AS INTEGER) AS len_nfc
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_line_dedup" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(w[i*8+1 : i*8+8], ' ') AS chunk
        |  FROM tk, LATERAL (SELECT unnest(range(0,
        |    CAST(ceil(len(w) / 8.0) AS BIGINT))) AS i)),
        |keep AS (
        |  SELECT doc_id, pos, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
        |  FROM ch)
        |SELECT doc_id,
        |  coalesce(array_to_string(list(chunk ORDER BY pos)
        |    FILTER (WHERE rn = 1), ' '), '') AS new_text,
        |  count(*) FILTER (WHERE rn = 1) AS n_kept,
        |  count(*) FILTER (WHERE rn <> 1) AS n_dropped
        |FROM keep GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // 4-token grams (slice tk[i:i+3] is INCLUSIVE in DuckDB), df-capped at
    // replays Similarity.semanticMatches over the shared banded-LSH
    // bucket CTEs: bucket-df cap (hot buckets carry no signal and go
    // quadratic in correlated mass — vacuous at oracle SFs, the 100-TB
    // backstop), benchmark x corpus band hits on the survivors, exact
    // cosine >= 0.35, per-corpus-vector argmax (sim desc, bench asc)
    "q_sem_decontaminate" ->
      s"""WITH $embedBucketCtes, bocc AS (
         |  SELECT band, bkt, COUNT(*) AS n FROM bd GROUP BY 1, 2),
         |bdc AS (
         |  SELECT bd.vec_id, bd.band, bd.bkt
         |  FROM bd JOIN bocc USING (band, bkt)
         |  WHERE bocc.n <= ${graft.sim.Similarity.DefaultMaxBucketDf}),
         |hits AS (
         |  SELECT q.vec_id AS bench_id, c.vec_id AS vec_id
         |  FROM bdc q JOIN bdc c
         |    ON q.band = c.band AND q.bkt = c.bkt AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id % 10 = 8 AND c.vec_id % 10 <> 8
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT h.vec_id, h.bench_id,
         |    ${cosSql("qe.embedding", "ce.embedding")} AS sim
         |  FROM hits h JOIN embeddings qe ON h.bench_id = qe.vec_id
         |              JOIN embeddings ce ON h.vec_id = ce.vec_id),
         |best AS (
         |  SELECT vec_id, bench_id, sim,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY sim DESC, bench_id) AS rn
         |  FROM scored WHERE sim >= 0.35)
         |SELECT vec_id, bench_id, sim FROM best WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,
    // replays Dedup.exactSubstrDupStats: char-24-gram positions, corpus
    // count >= 2, per-doc gaps-and-islands interval merge
    "q_exact_substr" ->
      """WITH g AS (
        |  SELECT doc_id, CAST(i AS INT) AS p,
        |    substr(text, CAST(i + 1 AS INT), 24) AS g
        |  FROM (SELECT doc_id, text,
        |          unnest(range(0, greatest(length(text) - 23, 0))) AS i
        |        FROM documents)),
        |c AS (SELECT g FROM g GROUP BY g HAVING COUNT(*) >= 2),
        |dp AS (SELECT doc_id, p FROM g JOIN c USING (g)),
        |isl AS (
        |  SELECT doc_id, p,
        |    CASE WHEN max(p + 24) OVER (PARTITION BY doc_id ORDER BY p
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |        OR p > max(p + 24) OVER (PARTITION BY doc_id ORDER BY p
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS ni
        |  FROM dp),
        |isl2 AS (
        |  SELECT doc_id, p,
        |    SUM(ni) OVER (PARTITION BY doc_id ORDER BY p) AS isle
        |  FROM isl),
        |spans AS (
        |  SELECT doc_id, isle, MIN(p) AS s, MAX(p) + 24 AS e
        |  FROM isl2 GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS dup_chars,
        |    COUNT(*) AS n_spans
        |  FROM spans GROUP BY 1)
        |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS total_chars,
        |  COALESCE(a.dup_chars, 0) AS dup_chars,
        |  COALESCE(a.n_spans, 0) AS n_spans,
        |  round(CAST(COALESCE(a.dup_chars, 0) AS DOUBLE)
        |    / greatest(CAST(length(d.text) AS DOUBLE), 1), 9) AS dup_ratio
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // Dedup.DefaultMaxShingleDf like the jaccard oracles; islands merge via
    // pos - row_number() per (doc_a, doc_b, diagonal) — mirrors
    // Dedup.dupSpans step for step.,
    "q_dup_spans" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk
         |  FROM documents),
         |gidx AS (
         |  SELECT doc_id, tk,
         |    CAST(unnest(range(1, greatest(len(tk) - 2, 1))) AS INTEGER) AS i
         |  FROM toks),
         |grams AS (
         |  SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+3], ' ') AS g
         |  FROM gidx),
         |keep AS (
         |  SELECT g FROM grams GROUP BY g
         |  HAVING COUNT(DISTINCT doc_id) <= ${Dedup.DefaultMaxShingleDf}),
         |gr AS (SELECT grams.doc_id, grams.pos, grams.g
         |       FROM grams JOIN keep USING (g)),
         |m AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diag
         |  FROM gr a JOIN gr b ON a.g = b.g AND a.doc_id < b.doc_id),
         |isl AS (
         |  SELECT *, pa - row_number()
         |    OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
         |  FROM m)
         |SELECT doc_a, doc_b,
         |  CAST(min(pa) AS INTEGER) AS a_start, CAST(min(pb) AS INTEGER) AS b_start,
         |  COUNT(*) + 3 AS span_tokens
         |FROM isl GROUP BY doc_a, doc_b, diag, grp
         |HAVING COUNT(*) + 3 >= 8
         |ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin,
    // Systematic weighted sampling: the oracle recomputes the cumulative
    // weights with ONE global window (DuckDB's privilege — Spark's side
    // uses the distributed prefix sum) and the same all-non-negative
    // integer threshold-count formula, so picks hash-match exactly.,
    "q_weighted_sample" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents),
        |c AS (
        |  SELECT doc_id, w,
        |    CAST(COALESCE(SUM(w) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM t),
        |tw AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM t)
        |SELECT doc_id, w, cum_before,
        |  LEAST(100, (200 * (cum_before + w) + tw - 1) // (2 * tw))
        |    - LEAST(100, (200 * cum_before + tw - 1) // (2 * tw)) AS picks
        |FROM c CROSS JOIN tw
        |WHERE LEAST(100, (200 * (cum_before + w) + tw - 1) // (2 * tw))
        |    - LEAST(100, (200 * cum_before + tw - 1) // (2 * tw)) >= 1
        |ORDER BY doc_id""".stripMargin,
    "q_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM t)
        |SELECT doc_id, n_tok, cum_before,
        |  cum_before // 512 AS pack_id, cum_before % 512 AS pack_off
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_embed_quantize" ->
      """WITH x AS (
        |  SELECT vec_id,
        |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
        |  FROM embeddings),
        |sc AS (
        |  SELECT vec_id, e,
        |    list_max(list_transform(e, v -> abs(v))) / 127.0 AS scale
        |  FROM x),
        |q AS (
        |  SELECT vec_id, e, scale,
        |    list_transform(e, v -> CAST(CASE WHEN scale = 0 THEN 0
        |      ELSE floor(v / scale + 0.5) END AS INTEGER)) AS qs
        |  FROM sc)
        |SELECT vec_id, round(scale, 9) AS scale,
        |  array_to_string(qs, ',') AS q_str,
        |  round(list_max(list_transform(list_zip(qs, e),
        |    p -> abs(CAST(p[1] AS DOUBLE) * scale - p[2]))), 9) AS max_err
        |FROM q ORDER BY vec_id""".stripMargin,
    "q_skew_join_salted" ->
      """WITH dim AS (
        |  SELECT DISTINCT event_type,
        |    CAST(length(event_type) AS INTEGER) AS type_weight
        |  FROM events)
        |SELECT event_id, event_type, type_weight, value
        |FROM events JOIN dim USING (event_type)
        |ORDER BY event_id""".stripMargin,
    "q_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT term, COUNT(*) AS tf FROM toks GROUP BY term),
        |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS n_total FROM tf)
        |SELECT doc_id, COUNT(*) AS n_tok,
        |  round(AVG(-ln(CAST(tf AS DOUBLE) / n_total)), 6) AS surprisal
        |FROM toks JOIN tf USING (term), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the log-ratio table is rebuilt bucket for bucket: same portable
    // two-round mix, same add-one smoothing over the full 64-bucket
    // spine, each ln() rounded to 9 then summed in exact decimals
    "q_dsir_weights" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang, (${mixedSql("tok")}) % 64 AS b
         |  FROM (SELECT doc_id, lang,
         |          unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
         |        FROM documents)
         |), byb AS (
         |  SELECT b, COUNT(*) AS r,
         |    COUNT(*) FILTER (WHERE lang = 'en') AS t
         |  FROM tok GROUP BY b
         |), tot AS (
         |  SELECT CAST(SUM(r) AS BIGINT) AS rt, CAST(SUM(t) AS BIGINT) AS tt
         |  FROM byb
         |), lw AS (
         |  SELECT s.b, CAST(round(ln(
         |      (CAST(COALESCE(byb.t, 0) + 1 AS DOUBLE)
         |         / CAST(tot.tt + 64 AS DOUBLE)) *
         |      (CAST(tot.rt + 64 AS DOUBLE)
         |         / CAST(COALESCE(byb.r, 0) + 1 AS DOUBLE))), 9)
         |    AS DECIMAL(28,9)) AS lw
         |  FROM (SELECT unnest(range(0, 64)) AS b) s
         |  LEFT JOIN byb ON s.b = byb.b CROSS JOIN tot
         |), perdoc AS (
         |  SELECT doc_id, b, COUNT(*) AS c FROM tok GROUP BY 1, 2
         |)
         |SELECT p.doc_id, CAST(SUM(p.c) AS BIGINT) AS n_toks,
         |  CAST(SUM(p.c * lw.lw) AS DOUBLE) AS log_weight
         |FROM perdoc p JOIN lw ON p.b = lw.b
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_sink_upsert" ->
      s"""SELECT strftime(ts, '%Y-%m-%d') AS day,
         |  COUNT(*) AS n,
         |  ${ss("CASE WHEN strftime(ts, '%Y-%m-%d') = '2024-01-15' THEN value * 2 ELSE value END")} AS sum_value
         |FROM events
         |GROUP BY 1 ORDER BY day""".stripMargin,
  )
}
