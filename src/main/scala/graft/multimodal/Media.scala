package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY.md §2.9 X4): image/audio/video travel
  * as opaque `binary` columns with typed metadata; decode/feature-extract
  * runs as a partition-wise batch transform (the Scala analog of
  * `mapInPandas` — one iterator per partition, vectorizable batch shape).
  *
  * The planted payloads are REAL binary PGM images (Netpbm "P5": an ASCII
  * header `P5\n<w> <h>\n255\n` followed by exactly w·h 8-bit pixels —
  * a public, self-describing format any image tool opens), built
  * deterministically from each document's text so the DuckDB oracle can
  * recompute every feature. [[decodePgm]] is a genuine structural parser:
  * it reads the dimensions FROM THE HEADER, validates magic / maxval /
  * pixel-count, and rejects malformed payloads — no field of the output
  * is derived from anything but the decoded bytes. (No JPEG/PNG codecs
  * ship in this container; PGM is the honest minimal real format.)
  */
object Media {

  /** Planted image width; height self-scales with the payload. */
  val PgmWidth = 32

  /** Pixel value used to pad the text bytes out to a full w·h raster
    * ('.' = gray 46 — printable, so the payload survives VARCHAR transit
    * in the oracle engine).
    */
  val PadPixel = '.'

  /** One extracted-feature row. Fixed-shape features (8 bins) — a stand-in
    * for a decoder+embedder output.
    */
  case class MediaFeature(doc_id: Long, modality: String, width: Int,
                          height: Int, features: Array[Float])

  /** Attach the media payload: a real binary PGM whose raster is the
    * document's ASCII text padded to a [[PgmWidth]]-wide grid. At ingest
    * this would be the raw file bytes; planting it from `text` keeps the
    * payload deterministic AND oracle-reconstructible. Declarative
    * (concat/rpad/cast), so it rides the scan's codegen.
    */
  def withMediaColumn(docs: DataFrame): DataFrame =
    docs
      .withColumn("_pgm_h",
        greatest(ceil(length(col("text")) / lit(PgmWidth.toDouble)), lit(1L))
          .cast("int"))
      .withColumn("media",
        concat(lit(s"P5\n$PgmWidth "), col("_pgm_h").cast("string"),
          lit("\n255\n"),
          expr(s"rpad(text, _pgm_h * $PgmWidth, '$PadPixel')")).cast("binary"))
      .drop("_pgm_h")

  /** Typed metadata over the binary payload — size + content hash, both
    * engine-portable (oracle-checkable).
    */
  def metadata(docs: DataFrame): DataFrame =
    withMediaColumn(docs).select(
      col("doc_id"),
      octet_length(col("media")).as("n_bytes"),
      sha2(col("media"), 256).as("sha"))

  /** Minimal REAL PGM (P5) decoder: parses the Netpbm header
    * (magic "P5", whitespace-separated width/height/maxval, one
    * whitespace byte terminating the header), then requires EXACTLY
    * width·height pixel bytes. Returns None — rejection, not a guess —
    * on wrong magic, malformed/oversized dimensions, maxval ≠ 255, or a
    * short/long raster. Features: 8-bin pixel-value histogram (bin =
    * pixel/32), L1-normalized in f32 (float4 division is correctly-
    * rounded IEEE in both engines, so the oracle reproduces it bit-for-
    * bit); width/height come FROM THE PARSED HEADER, not from the caller.
    */
  def decodePgm(id: Long, bytes: Array[Byte]): Option[MediaFeature] =
    parsePgm(bytes).map { case (w, h, off) =>
      val hist = new Array[Float](8)
      var p = off
      while (p < bytes.length) { hist((bytes(p) & 0xff) / 32) += 1f; p += 1 }
      val n = (w * h).toFloat
      var j = 0
      while (j < 8) { hist(j) /= n; j += 1 }
      MediaFeature(id, "image", w, h, hist)
    }

  /** The structural P5 parser both decoders share: validates magic /
    * dimensions / maxval / raster length and returns (width, height,
    * raster offset) — None is rejection, not a guess.
    */
  private[multimodal] def parsePgm(bytes: Array[Byte]): Option[(Int, Int, Int)] =
    parsePgmAt(bytes, 0).filter { case (w, h, off) =>
      // a standalone image must consume the WHOLE payload
      bytes.length - off == w * h
    }

  /** Prefix form of the P5 parse, for containers of CONCATENATED frames
    * ([[Video]]): parse one header starting at `start`, validate magic /
    * dimensions / maxval and that the raster FITS the remaining payload,
    * return (width, height, raster offset). The caller advances its
    * cursor to off + w·h and parses the next frame.
    */
  private[multimodal] def parsePgmAt(bytes: Array[Byte],
                                     start: Int): Option[(Int, Int, Int)] = {
    var i = start
    def isWs(b: Byte) = b == ' ' || b == '\n' || b == '\t' || b == '\r'
    if (bytes.length < i + 2 || bytes(i) != 'P' || bytes(i + 1) != '5') return None
    i += 2
    // -1 = parse failure (missing or non-numeric field, or > Int.MaxValue)
    def nextInt(): Long = {
      while (i < bytes.length && isWs(bytes(i))) i += 1
      if (i >= bytes.length || bytes(i) < '0' || bytes(i) > '9') return -1L
      var v = 0L
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
        v = v * 10 + (bytes(i) - '0')
        i += 1
        if (v > Int.MaxValue) return -1L
      }
      v
    }
    val w = nextInt(); val h = nextInt(); val maxv = nextInt()
    if (w <= 0 || h <= 0 || maxv != 255) return None
    if (i >= bytes.length || !isWs(bytes(i))) return None
    i += 1 // the single whitespace byte that ends the header
    if (bytes.length - i < w * h) return None
    Some((w.toInt, h.toInt, i))
  }

  /** One k×k nearest-neighbor thumbnail row. */
  case class MediaThumb(doc_id: Long, width: Int, height: Int, thumb: Array[Int])

  /** X4 resize: k×k nearest-neighbor downsample of the DECODED raster —
    * the thumbnail/preview step of an image-ingest pipeline. Pixel
    * addressing comes from the PARSED header dims (source pixel for
    * thumb cell (r, c) is raster[(r·h) div k][(c·w) div k]), so a payload
    * the parser rejects yields no row, exactly like [[extractFeatures]].
    * Partition-wise batch transform; integer-only sampling arithmetic so
    * the oracle replays it exactly.
    */
  def thumbnails(s: SparkSession, docs: DataFrame, k: Int = 8): Dataset[MediaThumb] = {
    import s.implicits._
    withMediaColumn(docs)
      .select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        parsePgm(bytes).map { case (w, h, off) =>
          val t = new Array[Int](k * k)
          var r = 0
          while (r < k) {
            var c = 0
            while (c < k) {
              t(r * k + c) = bytes(off + (r.toLong * h / k).toInt * w +
                (c.toLong * w / k).toInt) & 0xff
              c += 1
            }
            r += 1
          }
          MediaThumb(id, w, h, t)
        }
      })
  }

  /** X4 frame sampling: slice the payload stream at a fixed stride and
    * fingerprint each sampled frame — the video analog of "every Nth
    * frame". Declarative (explode over a generated frame index +
    * codegen'd portable hash), so Catalyst parallelizes it like any scan
    * transform; a real decoder would swap into the fingerprint step. The
    * payload here is the UTF-8 text stand-in, sliced char-wise so the
    * DuckDB oracle (char-based substring) agrees; byte-stride slicing of
    * a true binary blob is the same plan over `substring(media, ...)`.
    */
  def frameSample(s: SparkSession, docs: DataFrame,
                  stride: Int = 256, frameLen: Int = 64): DataFrame = {
    graft.functions.TextHash.register(s)
    graft.functions.CharShingles.register(s)
    // Frame slicing via the partial-window CharShingles kernel: the
    // substring(text, frame_idx*stride + 1, frameLen) form this replaces
    // re-scanned codepoints from the string START per frame — O(len²/stride)
    // per document, the same quadratic class killed in bovwFeatures /
    // charTrigrams (round 12, guide §4) — while the kernel makes one
    // linear walk and slices frames between recorded byte offsets.
    // Contract preserved bit-for-bit: one window per stride multiple
    // below the length, partial tail windows kept, an empty payload
    // yields exactly ONE empty frame (the sequence/greatest dance the old
    // form needed for DuckDB's range(0,0) agreement now lives in the
    // kernel), and frame_chars = length of the sliced frame. A NULL text
    // fails the action naming the doc, where the kernel's empty array
    // would drop the doc silently.
    val text = coalesce(col("text"),
      raise_error(concat(lit("frameSample: NULL text in doc "), col("doc_id").cast("string"))))
    docs.select(col("doc_id"),
        posexplode(graft.functions.CharShingles.charFrames(
          text, frameLen, stride)).as(Seq("frame_idx", "frame")))
      .select(col("doc_id"), col("frame_idx"),
        graft.text.TextOps.mixedOf(graft.functions.TextHash.portableHash(
          col("frame"))).as("frame_fp"),
        length(col("frame")).as("frame_chars"))
  }

  /** Partition-wise feature extraction — the mapInPandas-shaped hot path:
    * executors stream batches of (id, payload) through [[decodePgm]]
    * without driver involvement; structurally invalid payloads are
    * REJECTED (dropped by the flatMap), and the output schema is fixed so
    * downstream joins/aggs plan normally.
    */
  def extractFeatures(s: SparkSession, docs: DataFrame): Dataset[MediaFeature] = {
    import s.implicits._
    withMediaColumn(docs)
      .select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) => decodePgm(id, bytes) })
  }

  /** Perceptual image hash (average hash — the image-dedup primitive of
    * web-scale corpora, cf. pHash/LAION dedup): each decoded 8×8
    * thumbnail pixel compares against the integer thumbnail mean, the 64
    * bits serialize as a '0'/'1' string (sign-free, engine-portable) and
    * as two packed 32-bit halves (MSB-first fold, sign-free in a long) —
    * the [[graft.sim.Hamming]] verify is then two codegen'd xor+bit_count
    * ops instead of 64 interpreted substring compares. Rides
    * [[thumbnails]] (real parsed-raster pixels); map-only after the
    * decode. Output: (doc_id, phash, h1, h2). Single-sourced here for the
    * entry queries AND the scale probes.
    */
  /** Bag-of-visual-words media embedding (Sivic & Zisserman ICCV'03 —
    * the pre-neural image-retrieval descriptor): each raster ROW is a
    * local patch token, hashed (portable two-round mix) into `dim`
    * vocabulary buckets; the feature is the CENTERED bucket-count vector
    * (count − rows/dim, exact in double, stored float). Geometric
    * invariance comes from the BAG: a resize/recrop that keeps most
    * patches keeps most counts, while the point-sampled thumbnail (and
    * hence the phash) decorrelates under any row-grid shift — measured
    * on the sf0.01 corpus: 75 %-height NN-resize siblings read cosine
    * ≥ 0.72 (p50 0.88) against their source while random pairs sit at
    * p99.9 = 0.52, and the SAME siblings move a median of 8 phash bits
    * (83 % past the Hamming ≤ 3 MIH gate). All-integer counts and
    * power-of-two divisions, so the DuckDB replay is bit-exact.
    * Output: (vec_id, embedding `array<float>` of length `dim`) — the
    * shape [[graft.sim.Similarity]]'s banded sign-LSH machinery consumes.
    */
  def bovwFeatures(s: SparkSession, docs: DataFrame, dim: Int = 64): DataFrame = {
    graft.functions.TextHash.register(s)
    graft.functions.CharShingles.register(s)
    import graft.text.TextOps
    val h = greatest(ceil(length(col("text")) / lit(32.0)).cast("long"), lit(1L))
    // raster-row patches via the strided CharShingles kernel (stride = n
    // = 32 is exact non-overlapping chunking of the padded raster; px is
    // rpad'ed to a multiple of 32, so the patch COUNT is exactly hh and
    // the patch multiset equals the old per-r substring loop): Substring
    // re-scans codepoints from the string start per patch — O(len²/32)
    // per doc on this decode-shaped hot path, the kernel is one linear
    // walk (round 12, guide §4; same discipline as WordShingles).
    //
    // Boundary invariant: `text` is NON-NULL here (the media corpus has
    // no null payloads at any SF). A null would make rpad(null) = null
    // and charShingles(null) = [], so explode would DROP the doc from
    // the feature table — whereas the pre-kernel substring form emitted
    // a null-hash patch row. Callers that cannot guarantee non-null text
    // must coalesce to '' BEFORE calling (which changes the feature, so
    // it is not done silently here).
    val buckets = docs
      .select(col("doc_id"), h.as("hh"),
        rpad(col("text"), (h * lit(32L)).cast("int"), lit(".")).as("px"))
      .select(col("doc_id"), col("hh"),
        explode(graft.functions.CharShingles.charShingles(col("px"), 32, 32))
          .as("patch"))
      .select(col("doc_id"), col("hh"),
        pmod(TextOps.mixedOf(graft.functions.TextHash.portableHash(
          col("patch"))), lit(dim.toLong)).as("b"))
    buckets.groupBy("doc_id", "hh", "b").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id", "hh")
      .agg(map_from_entries(collect_list(struct(col("b"), col("cnt")))).as("m"))
      .select(col("doc_id").as("vec_id"),
        expr(s"transform(sequence(0L, ${dim - 1}L), bb -> " +
          s"CAST(CAST(coalesce(element_at(m, bb), 0L) AS DOUBLE) - " +
          s"CAST(hh AS DOUBLE) / $dim.0 AS FLOAT))").as("embedding"))
  }

  def imagePhash(s: SparkSession, docs: DataFrame): DataFrame =
    thumbnails(s, docs).toDF()
      .withColumn("m", expr("aggregate(thumb, 0L, (a, x) -> a + x) div 64"))
      .withColumn("bits", expr(
        "transform(thumb, x -> CASE WHEN x > m THEN 1L ELSE 0L END)"))
      .withColumn("phash", expr(
        "concat_ws('', transform(bits, x -> CAST(x AS STRING)))"))
      .withColumn("h1", expr("aggregate(slice(bits, 1, 32), 0L, (a, x) -> a * 2 + x)"))
      .withColumn("h2", expr("aggregate(slice(bits, 33, 32), 0L, (a, x) -> a * 2 + x)"))
      .select("doc_id", "phash", "h1", "h2")
}
