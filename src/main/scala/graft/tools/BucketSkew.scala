package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Band-bucket occupancy skew diagnostic for the banded sign-LSH
  * families (runMain graft.tools.BucketSkew <mode> <dir> [<dir>...]):
  *
  *   - `bovw <dir>`  — documents-only BoVW features (the r10 one-off
  *     that diagnosed the hot-bucket quadratic);
  *   - `media <dir>` — the EXACT q_media_dedup_semantic operating point
  *     (corpus ∪ planted resize siblings, 8 bands, 4-bit base width);
  *   - `emb <dir>`   — the q_sem_decontaminate operating point (the
  *     embeddings table, 8 bands, 2-bit base width).
  *
  * Prints, per dir: n, resolved width, expected (uniform) occupancy,
  * max/p99/p50 occupancy, occupied-bucket count, the all-pairs candidate
  * mass Σ n·(n−1)/2, and the hottest 5 buckets — the numbers behind the
  * bucket-df stop-key cap ([[graft.sim.Similarity.DefaultMaxBucketDf]])
  * and the standing skew gate rows (ScaleProbe).
  */
object BucketSkew {

  /** The banded (vec_id, band, bkt) view at a family's operating point. */
  private def banded(feat: DataFrame, bands: Int, baseBits: Int): (DataFrame, Long, Int) = {
    val n = feat.count()
    val rows = math.max(baseBits,
      graft.sim.Similarity.adaptiveRowsPerBand(n, base = baseBits))
    val pl = graft.sim.Similarity.portablePlanes(bands * rows, 64)
    val bd = graft.sim.Similarity.withLshBuckets(feat, pl, bands)
      .select(col("vec_id"), posexplode(col("buckets")).as(Seq("band", "bkt")))
    (bd, n, rows)
  }

  /** MIH half-key occupancy over the image phash table (the skew3 gate's
    * family): per-half identical-key class sizes, plus the cap→kept-mass
    * curve behind a maxKeyDf choice — run when the skew:mih_halfkey row
    * trends hot (round 11: np ×70 at the ×100 decade, max class 3639 —
    * the r8 pad-half saturation class growing with the corpus).
    */
  private def profileMih(spark: SparkSession, dir: String): Unit = {
    val ph = graft.multimodal.Media.imagePhash(spark,
        Tables.table(spark, dir, "documents"))
      .select(posexplode(array(col("h1"), col("h2"))).as(Seq("half", "k")))
    val occ = ph.groupBy("half", "k").agg(count(lit(1)).as("n")).cache()
    val stats = occ.agg(max("n").as("max"), expr("percentile(n, 0.99)").as("p99"),
      expr("percentile(n, 0.5)").as("p50"), count(lit(1)).as("buckets"),
      sum(expr("n * (n - 1) / 2")).as("pairs"), sum("n").as("rows")).collect()(0)
    println(s"[skew] mode=mih dir=$dir rows=${stats.get(5)} " +
      s"maxOcc=${stats.get(0)} p99=${stats.get(1)} p50=${stats.get(2)} " +
      s"buckets=${stats.get(3)} candidatePairs=${stats.get(4)}")
    occ.orderBy(desc("n")).limit(5).collect().foreach(r =>
      println(s"[skew]   hot half=${r.get(0)} k=${r.get(1)} occ=${r.get(2)}"))
    Seq(32L, 64L, 128L, 256L, 512L, 1024L, Long.MaxValue).foreach { c =>
      val r = occ.filter(col("n") <= c)
        .agg(sum(expr("n * (n - 1) / 2")).as("pairs")).collect()(0)
      println(s"[skew]   cap=$c keptPairs=${r.get(0)}")
    }
    occ.unpersist()
  }

  def profile(spark: SparkSession, mode: String, dir: String): Unit = {
    if (mode == "mih") { profileMih(spark, dir); return }
    val feat = mode match {
      case "bovw" =>
        graft.multimodal.Media.bovwFeatures(spark,
          Tables.table(spark, dir, "documents").select("doc_id", "text"))
      case "media" =>
        graft.multimodal.Media.bovwFeatures(spark,
          graft.entry.TextSimQueries.mediaSemCorpus(spark, dir))
      case "emb" =>
        Tables.table(spark, dir, "embeddings").select("vec_id", "embedding")
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    val baseBits = if (mode == "emb") 2 else 4
    val (bd, n, rows) = banded(feat.localCheckpoint(), bands = 8, baseBits)
    val occ = bd.groupBy("band", "bkt").agg(count(lit(1)).as("n")).cache()
    val stats = occ.agg(max("n").as("max"), expr("percentile(n, 0.99)").as("p99"),
      expr("percentile(n, 0.5)").as("p50"), count(lit(1)).as("buckets"),
      sum(expr("n * (n - 1) / 2")).as("pairs")).collect()(0)
    println(s"[skew] mode=$mode dir=$dir n=$n rowsPerBand=$rows " +
      s"expectedOcc=${math.max(1L, n >> rows)} maxOcc=${stats.get(0)} " +
      s"p99=${stats.get(1)} p50=${stats.get(2)} buckets=${stats.get(3)} " +
      s"candidatePairs=${stats.get(4)}")
    occ.orderBy(desc("n")).limit(5).collect().foreach(r =>
      println(s"[skew]   hot band=${r.get(0)} bkt=${r.get(1)} occ=${r.get(2)}"))
    // cap→kept-mass curve: what fraction of the pair mass (and, in media
    // mode, of the QUERY-side sibling×corpus candidate mass) survives a
    // bucket-df cap at each threshold — the data behind the cap choice
    if (mode == "media") {
      val sibOcc = graft.sim.Similarity.withLshBuckets(
          feat.localCheckpoint(), // reuse is fine; cheap vs the profile
          graft.sim.Similarity.portablePlanes(8 * rows0(feat), 64), 8)
        .select(col("vec_id"), posexplode(col("buckets")).as(Seq("band", "bkt")),
          (col("vec_id") >= 30000000L).cast("long").as("sib"))
        .groupBy("band", "bkt")
        .agg(sum(col("sib")).as("ns"), sum(lit(1L) - col("sib")).as("nc"))
      val joined = occ.join(sibOcc, Seq("band", "bkt")).cache()
      Seq(512L, 1024L, 1536L, 2048L, 3072L, 4096L, Long.MaxValue).foreach { c =>
        val r = joined.filter(col("n") <= c)
          .agg(sum(expr("n * (n - 1) / 2")).as("pairs"),
            sum(col("ns") * col("nc")).as("sibmass")).collect()(0)
        println(s"[skew]   cap=$c keptPairs=${r.get(0)} keptSibMass=${r.get(1)}")
      }
      joined.unpersist()
    }
    occ.unpersist()
  }

  private def rows0(feat: DataFrame): Int = {
    val n = feat.count()
    math.max(4, graft.sim.Similarity.adaptiveRowsPerBand(n, base = 4))
  }

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // `synth<F>:<dir>` profiles the ×F synthetic decade of <dir>
    // (built on demand — the same dirs the ScaleProbe decade rows use)
    args.drop(1).foreach { a =>
      val dir = a match {
        case s if s.startsWith("synth") =>
          val Array(f, src) = s.stripPrefix("synth").split(":", 2)
          ScaleProbe.ensureSyntheticDecade(spark, src, factor = f.toInt)
        case s => s
      }
      profile(spark, mode, dir)
    }
    spark.stop()
  }
}
