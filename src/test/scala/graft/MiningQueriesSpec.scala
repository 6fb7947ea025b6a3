package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Invariants of the round-6 mining family (graft.entry.MiningQueries)
  * that the cross-engine hash gate cannot express: algebraic identities,
  * bound checks, and agreement with an independent float recompute.
  */
class MiningQueriesSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  test("q_ols_trend matches an independent float OLS within 1e-6 relative") {
    val Array(row) = q("q_ols_trend").collect()
    val slope = row.getAs[Double]("slope_cents_per_day")
    val icept = row.getAs[Double]("intercept_cents")
    // independent recompute: plain double accumulation over collected days
    val pts = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy(date_trunc("day", col("o_orderdate")).cast("date").as("d"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("yq"))
      .select(col("d").cast("string"), col("yq")).as[(String, Long)].collect()
      .sortBy(_._1)
    val x0 = pts.map(_._1).min
    val days = pts.map { case (d, y) =>
      (java.time.LocalDate.parse(d).toEpochDay - java.time.LocalDate.parse(x0).toEpochDay).toDouble -> y.toDouble
    }
    val n = days.length.toDouble
    val sx = days.map(_._1).sum; val sy = days.map(_._2).sum
    val sxx = days.map(p => p._1 * p._1).sum
    val sxy = days.map(p => p._1 * p._2).sum
    val expSlope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val expIcept = (sy - expSlope * sx) / n
    assert(math.abs(slope - expSlope) <= 1e-6 * math.max(1.0, math.abs(expSlope)))
    assert(math.abs(icept - expIcept) <= 1e-6 * math.max(1.0, math.abs(expIcept)))
  }

  test("q_benford shares sum to 1 and digits cover 1-9") {
    val rows = q("q_benford").select("digit", "observed", "benford")
      .as[(Int, Double, Double)].collect()
    assert(rows.map(_._1).toSet == (1 to 9).toSet)
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-6)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-6) // Benford's law sums to 1 exactly
  }

  test("q_cusum trace closes at zero and moves in between") {
    val rows = q("q_cusum").select("cusum_scaled").as[Long].collect()
    assert(rows.last == 0L, "N*sum(c) - N*tot must be identically 0 at the last day")
    assert(rows.exists(_ != 0L), "a non-constant daily series must deflect the trace")
  }

  test("q_sql_ship_lag partitions every joined line into exactly one bucket") {
    val rows = q("q_sql_ship_lag")
      .select("high_line_count", "low_line_count").as[(Long, Long)].collect()
    val total = rows.map(r => r._1 + r._2).sum
    val joined = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(total == joined)
  }

  test("q_image_phash: 64 bits per doc, ones counted, mean rule holds") {
    val rows = q("q_image_phash").as[(Long, String, Int)].collect()
    assert(rows.length == spark.read.parquet(s"$dir/documents.parquet").count())
    rows.foreach { case (id, ph, ones) =>
      assert(ph.length == 64 && ph.forall(c => c == '0' || c == '1'), s"doc $id")
      assert(ones == ph.count(_ == '1'), s"doc $id ones")
    }
  }

  test("q_image_dedup: banded join is COMPLETE vs brute-force Hamming <= 3") {
    val got = q("q_image_dedup").as[(Long, Long, Int)].collect()
      .map { case (a, b, hm) => ((a, b), hm) }.toMap
    val hashes = q("q_image_phash").select("doc_id", "phash")
      .as[(Long, String)].collect().sortBy(_._1)
    val expected = (for {
      i <- hashes.indices.iterator
      j <- (i + 1) until hashes.length
      hm = hashes(i)._2.zip(hashes(j)._2).count { case (x, y) => x != y }
      if hm <= 3
    } yield ((hashes(i)._1, hashes(j)._1), hm)).toMap
    // 4 bands over 64 bits: <= 3 flips can't touch every band, so the
    // threshold-3 join must find EVERY qualifying pair, not a sample
    assert(got == expected, "banded candidates must be lossless at hamming <= 3")
    assert(got.nonEmpty, "testdata must exercise the near-dup path")
  }

  test("q_sink_xml: the XML roundtrip aggregate is value-exact vs parquet") {
    val got = q("q_sink_xml").as[(String, Long, Double)].collect().toSeq
    val expected = graft.sources.Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        graft.ops.Scalar.stableSum(col("value")).as("sum_value"))
      .orderBy("event_type").as[(String, Long, Double)].collect().toSeq
    assert(got == expected, "doubles must survive the XML text roundtrip bit-exactly")
  }

  test("q_sql_reachability: BFS min-hops over the nation trade edges") {
    val rows = q("q_sql_reachability").as[(Long, Long)].collect().toMap
    assert(rows(0L) == 0L, "the seed is at distance 0")
    assert(rows.size <= 25 && rows.values.forall(h => h >= 0 && h <= 3))
    // recompute expected min-hops with a plain Scala BFS
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val su = spark.read.parquet(s"$dir/supplier.parquet")
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .select(col("c_nationkey").cast("long"), col("s_nationkey").cast("long"))
      .distinct().as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val dist = scala.collection.mutable.Map(0L -> 0L)
    var frontier = Set(0L)
    (1 to 3).foreach { d =>
      frontier = frontier.flatMap(n => edges.getOrElse(n, Set.empty))
        .filterNot(dist.contains)
      frontier.foreach(n => dist(n) = d.toLong)
    }
    assert(rows == dist.toMap, "recursive CTE must equal the BFS closure")
  }

  test("q_sql_waiting_supplier: counts descend, and every row is a real supplier") {
    val rows = q("q_sql_waiting_supplier").select("s_name", "numwait")
      .as[(String, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    val names = spark.read.parquet(s"$dir/supplier.parquet")
      .select("s_name").as[String].collect().toSet
    assert(rows.forall(r => names(r._1)))
  }

  test("q_adamic_adar scores only NON-edges, positively, in descending order") {
    val rows = q("q_adamic_adar").select("part_x", "part_y", "aa_score")
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._3 > 0.0))
    assert(rows.map(_._3).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    val edges = graft.sources.GraphTables
      .basketPairsFrom(spark.read.parquet(s"$dir/lineitem.parquet"))
      .filter(col("support") >= 2)
      .select("pa", "pb").as[(Long, Long)].collect().toSet
    assert(rows.forall(r => !edges((r._1, r._2))), "predicted links must be non-edges")
  }

  test("q_node_jaccard values sit in (0, 1]") {
    val rows = q("q_node_jaccard").select("jaccard").as[Double].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(j => j > 0.0 && j <= 1.0))
  }

  test("q_assoc_rules: confidence in (0,1], lift positive, support <= antecedent count") {
    val rows = q("q_assoc_rules")
      .select("ante", "support", "confidence", "lift")
      .as[(Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._3 > 0.0 && r._3 <= 1.0 && r._4 > 0.0))
    val freq = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey").distinct()
      .groupBy("l_partkey").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(rows.forall(r => r._2 <= freq(r._1)))
  }

  test("q_sorted_blocking emits canonical verified pairs, and catches an exact dup pair") {
    val df = q("q_sorted_blocking")
    val rows = df.select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._1 < r._2 && r._3 >= 0.3 && r._3 <= 1.0))
    // exact duplicates share the full sort key AND are adjacent — sorted
    // blocking must surface at least one jaccard-1.0 pair on this testdata
    assert(rows.exists(_._3 == 1.0), "testdata plants exact dups; blocking must find one")
  }

  test("q_theil_sen pair count is exactly C(days,2)") {
    val Array(row) = q("q_theil_sen").collect()
    val nd = spark.read.parquet(s"$dir/orders.parquet")
      .select(date_trunc("day", col("o_orderdate")).cast("date")).distinct().count()
    assert(row.getAs[Long]("n_pairs") == nd * (nd - 1) / 2)
    assert(!row.getAs[Double]("theil_slope_cents_per_day").isNaN)
  }

  test("q_ab_test z matches a manual recompute from its own counts") {
    val Array(row) = q("q_ab_test").collect()
    val (n1, x1, n2, x2) = (row.getAs[Long]("n1").toDouble, row.getAs[Long]("x1").toDouble,
      row.getAs[Long]("n2").toDouble, row.getAs[Long]("x2").toDouble)
    val pp = (x1 + x2) / (n1 + n2)
    val z = (x1 / n1 - x2 / n2) / math.sqrt(pp * (1 - pp) * (1 / n1 + 1 / n2))
    assert(math.abs(row.getAs[Double]("z_stat") - z) < 1e-8)
  }

  test("q_freq_triples: ordered triples whose support respects pair monotonicity") {
    val trips = q("q_freq_triples").select("pa", "pb", "pc", "support")
      .as[(Long, Long, Long, Long)].collect()
    assert(trips.nonEmpty)
    assert(trips.forall(t => t._1 < t._2 && t._2 < t._3 && t._4 >= 2))
    val pairs = graft.sources.GraphTables
      .basketPairsFrom(spark.read.parquet(s"$dir/lineitem.parquet"))
      .as[(Long, Long, Long)].collect().map(p => (p._1, p._2) -> p._3).toMap
    trips.foreach { case (a, b, c, s3) =>
      assert(s3 <= pairs((a, b)) && s3 <= pairs((b, c)) && s3 <= pairs((a, c)),
        s"triple ($a,$b,$c) support $s3 exceeds a pair support")
    }
  }

  test("q_hits: top authority is exactly one unit, all scores in (0, unit]") {
    val rows = q("q_hits").select("auth").as[Long].collect()
    assert(rows.nonEmpty)
    assert(rows.head == 1000000L, "max-normalization must pin the top score to UNIT")
    assert(rows.forall(a => a > 0L && a <= 1000000L))
  }

  test("q_pareto_abc partitions all revenue across A/B/C") {
    val rows = q("q_pareto_abc").select("abc_class", "n_parts", "revenue_cents")
      .as[(String, Long, Long)].collect()
    assert(rows.map(_._1).toSet.subsetOf(Set("A", "B", "C")))
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val total = li.groupBy("l_partkey")
      .agg(sum(floor(col("l_extendedprice") * 100).cast("long")).as("r"))
      .agg(sum("r"), count(lit(1))).as[(Long, Long)].head()
    assert(rows.map(_._3).sum == total._1)
    assert(rows.map(_._2).sum == total._2)
  }

  test("q_dow_profile: day and event totals add up; indexes average to 1 weighted") {
    val rows = q("q_dow_profile").select("n_days", "n_events", "seasonal_index")
      .as[(Long, Long, Double)].collect()
    val daily = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(date_trunc("day", col("ts")).cast("date")).count()
    assert(rows.map(_._1).sum == daily.count())
    assert(rows.map(_._2).sum == daily.agg(sum("count")).head().getLong(0))
  }

  test("q_rfm: quintile scores in 1..5 with balanced buckets, segment is their concat") {
    val rows = q("q_rfm").select("r_score", "f_score", "m_score", "segment")
      .as[(Long, Long, Long, String)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => Seq(r._1, r._2, r._3).forall(s => s >= 1 && s <= 5)))
    assert(rows.forall(r => r._4 == s"${r._1}${r._2}${r._3}"))
    val n = rows.length
    Seq(rows.map(_._1), rows.map(_._2), rows.map(_._3)).foreach { scores =>
      val sizes = scores.groupBy(identity).view.mapValues(_.length)
      sizes.values.foreach(sz => assert(math.abs(sz - n / 5.0) <= 1.0,
        s"quintile bucket size $sz far from ${n / 5.0}"))
    }
  }

  test("q_langid_confusion row shares sum to 1 per label and cells cover all docs") {
    val rows = q("q_langid_confusion").select("lang", "n", "row_share")
      .as[(String, Long, Double)].collect()
    assert(rows.map(_._2).sum ==
      spark.read.parquet(s"$dir/documents.parquet").count())
    rows.groupBy(_._1).values.foreach { cells =>
      assert(math.abs(cells.map(_._3).sum - 1.0) < 1e-6)
    }
  }

  test("q_curriculum_buckets: deciles balanced, mean scores non-increasing") {
    val rows = q("q_curriculum_buckets").select("bucket", "n_docs", "mean_score")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val n = rows.map(_._2).sum
    assert(n == spark.read.parquet(s"$dir/documents.parquet").count())
    rows.foreach(r => assert(math.abs(r._2 - n / 10.0) <= 1.0))
    assert(rows.map(_._3).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)),
      "bucket 0 holds the highest-quality docs by construction")
  }

  test("q_knn_classify: correct flag is consistent and predictions are real labels") {
    val rows = q("q_knn_classify").select("actual", "predicted", "correct")
      .as[(String, String, Boolean)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._3 == (r._1 == r._2)))
    val langs = spark.read.parquet(s"$dir/documents.parquet")
      .select("lang").distinct().as[String].collect().toSet
    assert(rows.forall(r => langs(r._2)))
  }

  test("q_near_dup_eval: confusion counts are consistent and recall is high") {
    val Array(row) = q("q_near_dup_eval").collect()
    val (nt, nl, tp, fn) = (row.getAs[Long]("n_truth"), row.getAs[Long]("n_lsh"),
      row.getAs[Long]("tp"), row.getAs[Long]("fn"))
    assert(tp <= nt && tp <= nl && fn == nt - tp)
    val recall = row.getAs[Double]("recall")
    assert(recall >= 0.0 && recall <= 1.0)
    assert(recall >= 0.5, s"LSH recall $recall collapsed on planted near-dups")
  }

  test("q_assortativity sits in [-1, 1]") {
    val Array(row) = q("q_assortativity").collect()
    val r = row.getAs[Double]("assortativity")
    assert(r >= -1.0 && r <= 1.0)
    assert(row.getAs[Long]("n_directed_edges") > 0)
  }

  test("q_hist2d covers every lineitem exactly once in a 10x10 grid") {
    val rows = q("q_hist2d").select("price_bucket", "qty_bucket", "n")
      .as[(Int, Int, Long)].collect()
    assert(rows.forall(r => r._1 >= 0 && r._1 <= 9 && r._2 >= 0 && r._2 <= 9))
    assert(rows.map(_._3).sum ==
      spark.read.parquet(s"$dir/lineitem.parquet").count())
  }

  test("q_running_distinct ends at the exact distinct-user count") {
    val rows = q("q_running_distinct").select("new_users", "cum_users")
      .as[(Long, Long)].collect()
    assert(rows.map(_._1).sum == rows.last._2)
    assert(rows.last._2 == spark.read.parquet(s"$dir/events.parquet")
      .select("user_id").distinct().count())
  }

  test("q_ppr: the seed holds the top rank and ranks descend") {
    val rows = q("q_ppr").select("id", "r").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    val seed = graft.sources.GraphTables
      .basketPairsFrom(spark.read.parquet(s"$dir/lineitem.parquet"))
      .filter(col("support") >= 2)
      .agg(min(least(col("pa"), col("pb")))).as[Long].head()
    assert(rows.head._1 == seed,
      "teleport mass must keep the seed at the top after 3 iterations")
  }

  test("q_centroid_drift reports all 64 dimensions with consistent gaps") {
    val rows = q("q_centroid_drift").select("pos", "mean_even", "mean_odd", "drift")
      .as[(Int, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSet == (0 until 64).toSet)
    assert(rows.forall(r => r._4 == r._2 - r._3))
  }

  test("q_dup_rate_by_source: rates in [0,1] and doc counts cover the corpus") {
    val rows = q("q_dup_rate_by_source").select("n_docs", "n_dup_docs", "dup_rate")
      .as[(Long, Long, Double)].collect()
    assert(rows.map(_._1).sum == spark.read.parquet(s"$dir/documents.parquet").count())
    assert(rows.forall(r => r._2 <= r._1 && r._3 >= 0.0 && r._3 <= 1.0))
  }

  test("q_emd_1d is a non-negative finite distance") {
    val Array(row) = q("q_emd_1d").collect()
    val emd = row.getAs[Double]("emd")
    assert(emd >= 0.0 && !emd.isNaN && !emd.isInfinite)
    assert(row.getAs[Long]("n1") > 0 && row.getAs[Long]("n2") > 0)
  }

  test("q_js_divergence sits in [0, ln 2]") {
    val Array(row) = q("q_js_divergence").collect()
    val js = row.getAs[Double]("js_nats")
    assert(js >= 0.0 && js <= math.log(2.0) + 1e-9)
  }

  test("q_ttest_means: groups partition the day spine, means positive") {
    val Array(row) = q("q_ttest_means").collect()
    val nd = spark.read.parquet(s"$dir/events.parquet")
      .select(date_trunc("day", col("ts")).cast("date")).distinct().count()
    assert(row.getAs[Long]("n_weekday") + row.getAs[Long]("n_weekend") == nd)
    assert(row.getAs[Double]("mean_weekday") > 0 && row.getAs[Double]("mean_weekend") > 0)
    assert(!row.getAs[Double]("t_stat").isNaN)
  }

  test("q_rolling_active: WAU >= DAU, stickiness in (0, 1]") {
    val rows = q("q_rolling_active").select("dau", "wau", "stickiness")
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._2 >= r._1))
    assert(rows.forall(r => r._3 >= 0.0 && r._3 <= 1.0))
  }

  test("q_top_movers: delta consistent and sorted by magnitude") {
    val rows = q("q_top_movers").select("prev_revc", "revc", "delta")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._3 == r._2 - r._1))
    assert(rows.map(r => math.abs(r._3)).sliding(2)
      .forall(w => w.length < 2 || w(0) >= w(1)))
  }

  test("q_changepoint splits the spine and conserves total volume") {
    val Array(row) = q("q_changepoint").collect()
    val daily = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(date_trunc("day", col("ts")).cast("date")).count()
    assert(row.getAs[Long]("n_before") + row.getAs[Long]("n_after") == daily.count())
    val total = daily.agg(sum("count")).head().getLong(0).toDouble
    val rebuilt = row.getAs[Double]("mean_before") * row.getAs[Long]("n_before") +
      row.getAs[Double]("mean_after") * row.getAs[Long]("n_after")
    assert(math.abs(rebuilt - total) < 1e-3)
  }

  test("q_char_trigrams: ten descending trigrams per language") {
    val rows = q("q_char_trigrams").select("lang", "n", "rk")
      .as[(String, Long, Int)].collect()
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.length <= 10)
      assert(g.sortBy(_._3).map(_._2).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    }
  }

  test("q_dim_variance: 64 non-negative variances in unit scale") {
    val rows = q("q_dim_variance").select("pos", "variance").as[(Int, Double)].collect()
    assert(rows.map(_._1).toSet == (0 until 64).toSet)
    assert(rows.forall(r => r._2 >= 0.0 && r._2 <= 1.0))
  }

  test("q_mmr: five distinct picks, the first being the top cosine hit") {
    val rows = q("q_mmr").select("vec_id", "rk").as[(Long, Int)].collect()
    assert(rows.map(_._2).toSeq == (1 to 5))
    assert(rows.map(_._1).distinct.length == 5)
    val top = graft.sim.Similarity.topkCosine(spark,
      spark.read.parquet(s"$dir/embeddings.parquet"), 0L, 1)
      .select("vec_id").as[Long].head()
    assert(rows.head._1 == top)
  }

  test("q_recall_at_k: counts consistent, recall in [0,1], mean recall sane") {
    val rows = q("q_recall_at_k").select("n_exact", "n_ann", "n_hit", "recall")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.length == 10)
    rows.foreach { case (ne, na, nh, r) =>
      assert(ne == 10 && nh <= math.min(ne, na))
      assert(r >= 0.0 && r <= 1.0)
    }
    assert(rows.map(_._4).sum / 10.0 > 0.0, "the banded index must recall something")
  }

  test("q_stream_topk equals the batch top-5 on the same feed") {
    val got = q("q_stream_topk").select("event_type", "n").as[(String, Long)].collect()
    val want = spark.read.parquet(s"$dir/events.parquet")
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("event_type")).limit(5)
      .as[(String, Long)].collect()
    assert(got.toSeq == want.toSeq)
  }

  test("q_time_to_event: latency percentiles are ordered") {
    val Array(row) = q("q_time_to_event").collect()
    assert(row.getAs[Long]("n_users") > 0)
    val (mn, md, p90, mx) = (row.getAs[Long]("min_ms").toDouble,
      row.getAs[Double]("median_ms"), row.getAs[Double]("p90_ms"),
      row.getAs[Long]("max_ms").toDouble)
    assert(mn <= md && md <= p90 && p90 <= mx)
    assert(mn >= 0, "first purchase at or after first view by construction")
  }

  test("q_dedup_band_sweep: recall and candidate volume grow with band count") {
    val rows = q("q_dedup_band_sweep")
      .select("bands", "n_pairs", "tp", "n_truth", "recall")
      .as[(Int, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(2, 4, 8))
    assert(rows.forall(r => r._3 <= r._2 && r._3 <= r._4))
    assert(rows.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)),
      "more bands can only add candidate pairs")
    assert(rows.map(_._5).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)),
      "recall is monotone in band count on the same signatures")
  }

  test("q_ngram_novelty: fractions in [0,1], novel counts cover every distinct shingle once") {
    val rows = q("q_ngram_novelty").select("doc_id", "n_novel", "novelty")
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._3 >= 0.0 && r._3 <= 1.0))
    assert(rows.minBy(_._1)._3 == 1.0, "the first doc can only hold first occurrences")
    val distinctShingles = graft.text.Dedup
      .shingleSet(spark.read.parquet(s"$dir/documents.parquet"), 3)
      .select("s").distinct().count()
    assert(rows.map(_._2).sum == distinctShingles,
      "every distinct shingle is novel in exactly one document")
  }

  test("q_record_linkage: scores consistent with fields and exact dups score 4.0") {
    val rows = q("q_record_linkage")
      .select("lang_match", "len_ratio", "jaccard", "score")
      .as[(Int, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (lm, lr, j, sc) =>
      assert(math.abs(sc - BigDecimal(lm + lr + j * 2.0)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
      assert(sc >= 2.0)
    }
    // sf0.001 plants NEAR-dups in the blocks (max 3.98); exact-dup pairs
    // reach 4.0 at larger SFs — assert the near-dup ceiling, not equality
    assert(rows.map(_._4).max >= 3.9, "planted near-dups must approach the max score")
  }

  test("q_seasonal_decompose: components rebuild the observed series") {
    val rows = q("q_seasonal_decompose").select("c", "ma7", "seasonal", "residual")
      .as[(Long, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (c, ma, se, re) =>
      assert(math.abs(c.toDouble - (ma + se + re)) < 1e-6)
    }
  }

  test("q_anomaly_iqr: every flagged day actually violates a fence") {
    val rows = q("q_anomaly_iqr").select("v", "lo_bound", "hi_bound")
      .as[(Double, Double, Double)].collect()
    rows.foreach { case (v, lo, hi) =>
      // bounds in the output are rounded to 9 — allow that much slop
      assert(v < lo + 1e-6 || v > hi - 1e-6)
    }
  }

  test("q_stream_hourly equals the batch hourly rollup on the same feed") {
    val got = q("q_stream_hourly").select("hour_start", "event_type", "n")
      .as[(java.time.LocalDateTime, String, Long)].collect()
    val want = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n")).orderBy("h", "event_type")
      .as[(java.time.LocalDateTime, String, Long)].collect()
    assert(got.toSeq == want.toSeq)
  }

  test("q_shard_assign: 8 shards, doc counts within 1, token mass near-balanced") {
    val rows = q("q_shard_assign").select("shard", "n_docs", "tokens")
      .as[(Long, Long, Long)].collect()
    assert(rows.map(_._1).toSet == (0L until 8L).toSet)
    val docs = rows.map(_._2)
    assert(docs.max - docs.min <= 1, "round-robin deals docs within one")
    val toks = rows.map(_._3)
    assert(toks.max.toDouble / toks.min <= 1.5,
      s"LPT round-robin token mass spread too wide: ${toks.mkString(",")}")
  }

  test("q_budget_trim keeps at most half the token mass, and a real prefix") {
    val rows = q("q_budget_trim").select("n_tok", "kept").as[(Long, Boolean)].collect()
    val total = rows.map(_._1).sum
    val kept = rows.filter(_._2).map(_._1).sum
    assert(kept <= total / 2)
    assert(kept > 0 && kept * 10 >= total * 3,
      s"kept $kept of $total — the greedy prefix should land near the budget")
  }

  test("q_ood_detect: 20 rows, z descending with distance, top z is the corpus max") {
    val rows = q("q_ood_detect").select("dist", "z").as[(Long, Double)].collect()
    assert(rows.length == 20)
    assert(rows.map(_._1).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    assert(rows.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    assert(rows.head._2 > 0.0, "the farthest vector must sit above the mean")
  }

  test("q_cluster_balance shares sum to 1 and cover all vectors") {
    val rows = q("q_cluster_balance").select("n_vecs", "share")
      .as[(Long, Double)].collect()
    assert(rows.map(_._1).sum ==
      spark.read.parquet(s"$dir/embeddings.parquet").count())
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-6)
  }

  test("q_churn_rate: rates in [0,1], retained never exceeds the prior week") {
    val rows = q("q_churn_rate").select("n_prev", "retained", "churn_rate")
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (np, rt, cr) =>
      assert(rt <= np)
      assert(cr >= 0.0 && cr <= 1.0)
      assert(math.abs(cr - (1.0 - rt.toDouble / np)) < 1e-8)
    }
  }

  test("q_gap_percentiles: ordered percentiles that bracket the sessionize gap") {
    val Array(row) = q("q_gap_percentiles").collect()
    val (p50, p90, p99) = (row.getAs[Double]("p50_ms"),
      row.getAs[Double]("p90_ms"), row.getAs[Double]("p99_ms"))
    assert(p50 <= p90 && p90 <= p99)
    assert(row.getAs[Long]("n_gaps") > 0)
  }

  test("q_log2_hist: bucket_lo = 2^bucket, counts cover all positive-length docs") {
    val rows = q("q_log2_hist").select("log2_bucket", "bucket_lo", "n_docs")
      .as[(Int, Long, Long)].collect()
    assert(rows.forall(r => r._2 == (1L << r._1)))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("n_chars") > 0).count()
    assert(rows.map(_._3).sum == docs)
  }

  test("q_len_quartiles_by_lang: quartiles ordered per language") {
    val rows = q("q_len_quartiles_by_lang").select("q1", "median", "q3")
      .as[(Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._1 <= r._2 && r._2 <= r._3))
  }

  test("q_sql_avg_basket: parts never exceed lines, max bounds the mean") {
    val Array(row) = q("q_sql_avg_basket").collect()
    val (al, ap, ml) = (row.getAs[Double]("avg_lines"),
      row.getAs[Double]("avg_parts"), row.getAs[Long]("max_lines"))
    assert(ap <= al && al <= ml.toDouble)
    assert(row.getAs[Long]("n_orders") > 0)
  }

  test("q_minhash_est: estimates in [0,1] on a 1/16 grid, mean error modest") {
    val rows = q("q_minhash_est").select("j_est", "j_exact", "abs_err")
      .as[(Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (est, ex, err) =>
      assert(est >= 0.0 && est <= 1.0)
      assert(math.abs(est * 16.0 - math.rint(est * 16.0)) < 1e-9, "est must sit on k/16")
      assert(math.abs(err - math.abs(est - ex)) < 1e-8)
    }
    val mean = rows.map(_._3).sum / rows.length
    // Var of the 16-sample estimator at J≈0.5 is ~0.016 → E|err| ≈ 0.1;
    // a mean error past 0.25 would mean the estimator is broken
    assert(mean <= 0.25, s"mean |err| $mean — MinHash estimator miscalibrated")
  }

  test("q_class_rebalance: every language exactly at the minority size") {
    val rows = q("q_class_rebalance").select("lang").as[String].collect()
    val sizes = rows.groupBy(identity).view.mapValues(_.length).toMap
    val orig = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val m = orig.values.min
    assert(sizes.keySet == orig.keySet)
    assert(sizes.values.forall(_ == m), s"sizes $sizes should all equal $m")
  }

  test("q_hard_negatives: labels genuinely differ, ranks dense per query") {
    val rows = q("q_hard_negatives")
      .select("query_id", "qlang", "nlang", "neg_rank")
      .as[(Long, String, String, Int)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._2 != r._3))
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._4).sorted.toSeq == (1 to g.length))
    }
  }

  test("q_data_card: shares in [0,1], token mass consistent with the docs") {
    val Array(row) = q("q_data_card").collect()
    assert(row.getAs[Long]("n_docs") ==
      spark.read.parquet(s"$dir/documents.parquet").count())
    assert(row.getAs[Double]("en_share") >= 0.0 && row.getAs[Double]("en_share") <= 1.0)
    assert(row.getAs[Double]("exact_dup_rate") >= 0.0 &&
      row.getAs[Double]("exact_dup_rate") < 1.0)
    assert(row.getAs[Long]("total_tokens") > 0 &&
      row.getAs[Double]("avg_tokens") > 0.0)
  }

  test("q_cross_source_overlap totals match the near-dup pair count") {
    val rows = q("q_cross_source_overlap").select("n_pairs").as[Long].collect()
    val pairs = graft.text.Dedup
      .ngramJaccardPairs(spark.read.parquet(s"$dir/documents.parquet"), 3, 0.5).count()
    assert(rows.sum == pairs, "every near-dup pair lands in exactly one source cell")
  }

  test("q_template_detect: groups of >= 2 sharing the literal prefix") {
    val rows = q("q_template_detect").select("prefix", "n_docs", "first_doc", "last_doc")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty, "testdata plants dups, which share full prefixes")
    assert(rows.forall(r => r._2 >= 2 && r._3 <= r._4))
    assert(rows.forall(_._1.length <= 32))
  }

  test("q_burstiness: Fano non-negative, mean consistent with daily totals") {
    val rows = q("q_burstiness").select("event_type", "n_days", "mean_daily", "fano")
      .as[(String, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._4 >= 0.0 && r._3 > 0.0))
  }

  test("q_dow_hour_heatmap covers every event exactly once in a 7x24 grid") {
    val rows = q("q_dow_hour_heatmap").select("dow", "hr", "n")
      .as[(Int, Int, Long)].collect()
    assert(rows.forall(r => r._1 >= 0 && r._1 <= 6 && r._2 >= 0 && r._2 <= 23))
    assert(rows.map(_._3).sum == spark.read.parquet(s"$dir/events.parquet").count())
  }

  test("q_audience_overlap: jaccard in (0,1], common bounded by set sizes") {
    val rows = q("q_audience_overlap").select("ta", "tb", "n_common", "jaccard")
      .as[(String, String, Long, Double)].collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val sizes = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id", "event_type").distinct()
      .groupBy("event_type").count().as[(String, Long)].collect().toMap
    rows.foreach { case (a, b, c, j) =>
      assert(c <= math.min(sizes(a), sizes(b)))
      assert(j > 0.0 && j <= 1.0)
    }
  }

  test("q_dedup_explain: exactly one distinctive shared shingle per pair") {
    val rows = q("q_dedup_explain").select("doc_a", "doc_b", "df")
      .as[(Long, Long, Long)].collect()
    val pairs = graft.text.Dedup
      .ngramJaccardPairs(spark.read.parquet(s"$dir/documents.parquet"), 3, 0.5).count()
    assert(rows.length == pairs, "every verified pair must get its evidence line")
    assert(rows.forall(_._3 <= graft.text.Dedup.DefaultMaxShingleDf))
  }

  test("q_stl_outliers: every flagged residual clears the MAD fence") {
    val rows = q("q_stl_outliers").select("residual", "res_median", "res_mad")
      .as[(Double, Double, Double)].collect()
    rows.foreach { case (res, mr, mad) =>
      assert(math.abs(res - mr) > mad * 2.0 - 1e-6)
    }
  }

  test("q_trade_matrix: revenue partitions the whole joined fact set") {
    val rows = q("q_trade_matrix").select("revenue_cents").as[Long].collect()
    val total = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .agg(sum(floor(col("l_extendedprice") * 100).cast("long"))).as[Long].head()
    assert(rows.sum == total)
  }

  test("q_lorenz_deciles: shares sum to 1, cumulative curve is convex-ish and ends at 1") {
    val rows = q("q_lorenz_deciles").select("decile", "share", "cum_share")
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-6)
    assert(math.abs(rows.last._3 - 1.0) < 1e-9)
    // ascending-spend deciles: shares must be non-decreasing (Lorenz convexity)
    assert(rows.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) <= w(1) + 1e-9))
  }

  test("q_entropy_rate: conditional entropy cuts below unigram entropy") {
    val Array(row) = q("q_entropy_rate").collect()
    val (h1, h2, hc) = (row.getAs[Double]("h_unigram_bits"),
      row.getAs[Double]("h_bigram_bits"), row.getAs[Double]("h_cond_bits"))
    assert(h1 > 0.0 && h2 > 0.0)
    assert(math.abs(hc - (h2 - h1)) < 1e-8)
    // H(w2|w1) <= H(w2): conditioning cannot add information
    assert(hc <= h1 + 1e-6, s"conditional $hc above unigram $h1")
    assert(hc >= 0.0 - 1e-6)
  }

  test("q_langid_roc: confusion cells partition the corpus, TPR/FPR monotone in threshold") {
    val rows = q("q_langid_roc").select("threshold", "tp", "fp", "fn", "tn", "tpr", "fpr")
      .as[(Double, Long, Long, Long, Long, Double, Double)].collect().sortBy(_._1)
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    rows.foreach(r => assert(r._2 + r._3 + r._4 + r._5 == docs))
    // raising the threshold can only REMOVE positives: tpr and fpr both fall
    assert(rows.map(_._6).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    assert(rows.map(_._7).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
  }

  test("q_markov_stationary: mass stays within truncation of one unit") {
    val rows = q("q_markov_stationary").select("pi_micro").as[Long].collect()
    assert(rows.nonEmpty)
    val total = rows.sum
    // each of 8 iterations truncates <= n_states + n_edges units of mass
    assert(total <= 1000000L && total >= 1000000L - 8 * 50,
      s"stationary mass $total drifted past integer-truncation bounds")
    assert(rows.forall(_ >= 0L))
  }

  test("q_supplier_hhi: 1/n <= HHI <= 1 per nation") {
    val rows = q("q_supplier_hhi").select("n_suppliers", "hhi")
      .as[(Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, h) =>
      assert(h <= 1.0 + 1e-9)
      assert(h >= 1.0 / n - 1e-6, s"HHI $h below the uniform floor 1/$n")
    }
  }

  test("q_tokenizer_fertility: BPE-ish tokens at least the whitespace tokens") {
    val rows = q("q_tokenizer_fertility")
      .select("ws_tokens", "bpe_tokens", "bpe_per_ws")
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (ws, bpe, ratio) =>
      assert(bpe >= ws, "splitting on character classes can only add tokens")
      assert(ratio >= 1.0 - 1e-9)
    }
  }

  test("q_ann_candidates: the band index examines a strict subset of the corpus") {
    val rows = q("q_ann_candidates").select("n_cands", "corpus_n", "cand_frac")
      .as[(Long, Long, Double)].collect()
    assert(rows.length == 10)
    rows.foreach { case (c, n, f) =>
      assert(c < n, "a candidate set equal to the corpus means the index does nothing")
      assert(f > 0.0 && f < 1.0)
    }
  }

  test("q_dedup_reduction: counts and token masses are mutually consistent") {
    val Array(row) = q("q_dedup_reduction").collect()
    val (nd, ng, nr) = (row.getAs[Long]("n_docs"), row.getAs[Long]("n_groups"),
      row.getAs[Long]("n_removed"))
    assert(nr == nd - ng && nr > 0, "testdata plants near-dups, so something collapses")
    assert(row.getAs[Long]("kept_tokens") <= row.getAs[Long]("total_tokens"))
    val tr = row.getAs[Double]("token_reduction")
    assert(tr > 0.0 && tr < 1.0)
  }

  test("q_qoq_growth: growth reconstructs the revenue series") {
    val rows = q("q_qoq_growth").select("revc", "prev", "growth")
      .collect().map(r => (r.getAs[Long]("revc"),
        Option(r.getAs[java.lang.Long]("prev")), Option(r.getAs[java.lang.Double]("growth"))))
    assert(rows.head._2.isEmpty && rows.head._3.isEmpty, "the first quarter has no prior")
    rows.tail.foreach { case (revc, prev, growth) =>
      assert(prev.nonEmpty && growth.nonEmpty)
      assert(math.abs(growth.get - (revc - prev.get).toDouble / prev.get) < 1e-8)
    }
  }

  test("q_sql_above_avg: every row beats its own customer's average") {
    val rows = q("q_sql_above_avg").select("price_cents", "cust_avg_cents", "ratio")
      .as[(Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (p, a, r) =>
      assert(p > a)
      assert(r > 1.0)
    }
    assert(rows.map(_._3).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
  }

  test("q_first_touch shares sum to 1 over purchasing users") {
    val rows = q("q_first_touch").select("n_buyers", "share")
      .as[(Long, Double)].collect()
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-6)
    val buyers = spark.read.parquet(s"$dir/events.parquet")
      .filter(col("event_type") === "purchase").select("user_id").distinct().count()
    assert(rows.map(_._1).sum == buyers)
  }

  test("q_kmeans_elbow: SSE decreases monotonically in k") {
    val rows = q("q_kmeans_elbow").select("k", "sse").as[(Int, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(2, 4, 8))
    assert(rows.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)),
      s"more clusters cannot raise total SSE after refinement: ${rows.mkString(",")}")
  }

  test("q_weighted_jaccard: one row per verified pair, values in (0,1]") {
    val rows = q("q_weighted_jaccard").select("weighted_jaccard").as[Double].collect()
    val pairs = graft.text.Dedup.minhashLshPairsPortable(
      spark.read.parquet(s"$dir/documents.parquet"), 3, 16, 4, 0.5).count()
    assert(rows.length == pairs)
    assert(rows.forall(j => j > 0.0 && j <= 1.0))
  }

  test("q_metric_agreement: overlaps within [0,10] for all ten queries") {
    val rows = q("q_metric_agreement").select("n_l2", "n_both", "agreement")
      .as[(Long, Long, Double)].collect()
    assert(rows.length == 10)
    rows.foreach { case (nl, nb, a) =>
      assert(nl == 10 && nb <= 10)
      assert(math.abs(a - nb / 10.0) < 1e-9)
    }
  }

  test("q_transitivity_gap: closure implies at least the direct pairs") {
    val Array(row) = q("q_transitivity_gap").collect()
    val (d, i, g) = (row.getAs[Long]("direct_pairs"),
      row.getAs[Long]("implied_pairs"), row.getAs[Long]("gap"))
    assert(i >= d && g == i - d,
      "every found pair lies inside its component, so C(sz,2) sums dominate")
  }

  test("q_quality_by_source: medians and means in (0,1]") {
    val rows = q("q_quality_by_source").select("median_score", "mean_score")
      .as[(Double, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._1 > 0.0 && r._1 <= 1.0 && r._2 > 0.0 && r._2 <= 1.0))
  }

  test("q_value_quantiles_by_type: percentiles ordered within every type") {
    val rows = q("q_value_quantiles_by_type").select("p25", "p50", "p75", "p95")
      .as[(Double, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._1 <= r._2 && r._2 <= r._3 && r._3 <= r._4))
  }

  test("q_dormancy_topk: gaps positive and sorted descending") {
    val rows = q("q_dormancy_topk").select("max_gap_ms").as[Long].collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.forall(_ > 0L))
    assert(rows.sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
  }

  test("q_holdout_split: splits cover the corpus, shares sum to 1 per split") {
    val rows = q("q_holdout_split").select("split", "n", "lang_share")
      .as[(String, Long, Double)].collect()
    assert(rows.map(_._1).toSet == Set("train", "val", "test"))
    assert(rows.map(_._2).sum == spark.read.parquet(s"$dir/documents.parquet").count())
    rows.groupBy(_._1).values.foreach { g =>
      assert(math.abs(g.map(_._3).sum - 1.0) < 1e-6)
    }
    val bySplit = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"),
      "the 8/10 hash band must dominate")
  }

  test("q_dup_cluster_sizes: sizes count every document exactly once") {
    val rows = q("q_dup_cluster_sizes").select("sz", "n_groups")
      .as[(Long, Long)].collect()
    assert(rows.map(r => r._1 * r._2).sum ==
      spark.read.parquet(s"$dir/documents.parquet").count())
    assert(rows.exists(_._1 >= 2), "planted near-dups must form a real cluster")
  }

  test("q_length_quality_corr is a valid correlation") {
    val Array(row) = q("q_length_quality_corr").collect()
    val c = row.getAs[Double]("corr_len_quality")
    assert(c >= -1.0 && c <= 1.0)
    assert(row.getAs[Long]("n_docs") > 0)
  }

  test("q_mrr: ranks consistent with reciprocals, MRR in (0,1]") {
    val rows = q("q_mrr").select("ann_rank", "reciprocal_rank")
      .as[(Int, Double)].collect()
    assert(rows.length == 10)
    rows.foreach { case (rk, rr) =>
      if (rk == 0) assert(rr == 0.0)
      else assert(math.abs(rr - BigDecimal(1.0 / rk)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    }
    val mrr = rows.map(_._2).sum / 10.0
    assert(mrr > 0.0 && mrr <= 1.0)
  }

  test("q_ndcg: 10 queries, ndcg in [0,1], dcg bounded by idcg, recall link") {
    val rows = q("q_ndcg").select("query_id", "dcg", "idcg", "ndcg")
      .as[(Long, Double, Double, Double)].collect()
    assert(rows.length == 10)
    // the ideal DCG of ten graded items (gains 10..1) is the same
    // constant for every query: sum of round((11-j)/log2(j+1), 9)
    val idealConst = (1 to 10).map { j =>
      BigDecimal((11.0 - j) / (math.log(j + 1.0) / math.log(2.0)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    rows.foreach { case (_, dcg, idcg, ndcg) =>
      assert(math.abs(idcg - idealConst) < 1e-9, "IDCG is the graded-gain constant")
      assert(dcg >= 0.0 && dcg <= idcg + 1e-9)
      assert(ndcg >= 0.0 && ndcg <= 1.0 + 1e-9)
      assert(math.abs(ndcg - BigDecimal(dcg / idcg)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    }
    // consistency with recall@10: a query with a full hit set cannot have
    // ndcg 0, a query with zero hits cannot have ndcg > 0
    val recall = q("q_recall_at_k").select("query_id", "n_hit")
      .as[(Long, Long)].collect().toMap
    rows.foreach { case (qid, _, _, ndcg) =>
      if (recall(qid) == 0L) assert(ndcg == 0.0)
      if (recall(qid) == 10L) assert(ndcg > 0.0)
    }
  }

  test("q_source_concentration: HHI within [1/n, 1]") {
    val Array(row) = q("q_source_concentration").collect()
    val (n, h) = (row.getAs[Long]("n_sources"), row.getAs[Double]("hhi"))
    assert(h >= 1.0 / n - 1e-6 && h <= 1.0 + 1e-9)
  }

  test("q_perplexity: ppl >= 1 and bounded by vocabulary size") {
    val rows = q("q_perplexity").select("n_tokens", "avg_nll", "ppl")
      .as[(Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    val vocab = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .select("w").distinct().count()
    rows.foreach { case (n, nll, ppl) =>
      assert(n > 0 && nll >= 0.0 && ppl >= 1.0)
      // unigram cross-entropy <= ln(total tokens); ppl can't exceed corpus
      // token count, and in practice sits <= vocab (uniform worst case)
      assert(ppl <= vocab.toDouble * 2, s"ppl=$ppl vocab=$vocab")
    }
  }
}
