package graft

import org.scalatest.funsuite.AnyFunSuite

/** Assertions about declared SparkEntry queries that the cross-engine gate
  * cannot express — engine-specific estimates checked against their own
  * exact companions.
  */
class EntryQueriesSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("q_media_dedup_hotcap: the cap is LOAD-BEARING — hot set non-empty, cluster probe dropped") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_media_dedup_hotcap")(spark, dir).collect()
    assert(rows.nonEmpty, "hotcap query returned no sibling rows")
    // the planted cluster's 8 (band, bucket) keys are the hot set, and
    // n_hot rides the hashed output — non-emptiness is IN the artifact
    val nHot = rows.map(_.getAs[Long]("n_hot")).distinct.toSeq
    assert(nHot == Seq(8L),
      s"hot set should be exactly the cluster's 8 keys: $nHot")
    // the cluster-copy probe (id 50000001) lost every band to the cap
    assert(!rows.exists(_.getAs[Long]("sib_id") == 50000001L),
      "capped probe should have no cool band left")
    // ...and WOULD have surfaced uncapped, with sim-1.0 cluster hits —
    // the cap is what removes it, in both engines
    val feat = graft.multimodal.Media.bovwFeatures(
      spark, graft.entry.TextSimQueries.hotCapCorpus(spark, dir))
    val uncapped = graft.sim.Similarity.semanticMatches(spark, feat,
        queryPred = col("vec_id") === 50000001L, threshold = 0.6,
        numPlanes = 48, bands = 8)
      .filter(col("vec_id") < 30000000L)
    assert(uncapped.count() > 0,
      "probe has no uncapped hits — the cap assertion would be vacuous")
  }

  test("q_sink_upsert writes and backfills its day partitions without forking chmod") {
    var rows = 0L
    val cmds = Forks.during {
      rows = SparkEntry.queries("q_sink_upsert")(spark, dir).count()
    }
    assert(rows > 0)
    Forks.assertNoFsForks(cmds)
  }

  test("q_approx_distinct: every group's HLL verdict is within_10pct=1") {
    // rsd is 0.02 in the query; 10% is ~5 sigma. The query now emits the
    // verdict column (the raw estimate is engine-specific, the verdict is
    // portable — both engines sketch, both compare to their own exact
    // count), and the oracle gate hash-checks it; this spec pins that the
    // verdict is not vacuously green on the Spark side.
    val rows = SparkEntry.queries("q_approx_distinct")(spark, dir)
      .select("Quarter", "exact_suppliers", "within_10pct")
      .as[(String, Long, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (q, exact, ok) =>
      assert(exact > 0, s"$q: empty group")
      assert(ok == 1, s"$q: HLL estimate strayed beyond 10% of $exact")
    }
  }

  test("q_weighted_sample emits exactly n picks, proportional to weight") {
    // systematic sampling invariant: the n inverse-CDF midpoints each land
    // in exactly one interval, so total multiplicity is exactly n — and a
    // doc's multiplicity can exceed floor(w·n/W) by at most 1
    val rows = SparkEntry.queries("q_weighted_sample")(spark, dir)
      .select("w", "picks").as[(Long, Long)].collect()
    assert(rows.map(_._2).sum == 100L)
    val totalW = spark.read.parquet(s"$dir/documents.parquet")
      .agg(org.apache.spark.sql.functions.sum("n_chars")).head().getLong(0)
    rows.foreach { case (w, p) =>
      assert(p <= (w * 100L) / totalW + 1, s"w=$w picked $p times")
    }
  }

  test("q_dedup_multibatch equals the one-shot incremental probe (grown index path)") {
    // identical question, different artifact history: the multibatch
    // variant grew its index batch-by-batch; the one-shot variant signed
    // the whole standing corpus at once. Per-doc signatures make them
    // provably equal — and both non-empty on this testdata.
    val a = SparkEntry.queries("q_dedup_multibatch")(spark, dir)
      .as[(Long, Long, Double)].collect().toSeq
    val b = SparkEntry.queries("q_dedup_incremental")(spark, dir)
      .as[(Long, Long, Double)].collect().toSeq
    assert(a == b)
    assert(a.nonEmpty, "testdata should hold a cross-batch near-dup")
  }

  test("q_budget_alloc: allocations sum to exactly the budget, each within 1 of quota") {
    val budget = 1000000L
    val rows = SparkEntry.queries("q_budget_alloc")(spark, dir)
      .select("w", "alloc").as[(Long, Long)].collect()
    assert(rows.length > 1, "need several groups for apportionment to matter")
    assert(rows.map(_._2).sum == budget, "Hamilton apportionment must be exact")
    val tw = rows.map(_._1).sum.toDouble
    rows.foreach { case (w, alloc) =>
      val quota = budget * w / tw
      assert(math.abs(alloc - quota) < 1.0 + 1e-9,
        s"alloc=$alloc quota=$quota drifts more than one unit")
    }
  }

  test("q_token_entropy closed forms: uniform terms hit log2(k), repeated term hits 0") {
    import org.apache.spark.sql.functions._
    // Build a scratch documents table with known distributions and run the
    // same expression pipeline the declared query uses.
    val docs = Seq(
      (0L, "a b c d"),        // 4 distinct terms, uniform => H = log2(4) = 2
      (1L, "x x x x"),        // single term => H = 0
      (2L, "a a b b")         // 2 terms uniform => H = 1
    ).toDF("doc_id", "text")
    val tf = docs
      .select(col("doc_id"), explode(graft.text.TextOps.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val n = sum(col("c")).cast("double")
    val got = tf.groupBy("doc_id")
      .agg(round((log(n) - sum(col("c").cast("double") * log(col("c").cast("double"))) / n)
        / log(lit(2.0)), 6).as("entropy"))
      .orderBy("doc_id").select("entropy").as[Double].collect().toSeq
    assert(got == Seq(2.0, 0.0, 1.0))
  }

  test("q_ewma_daily matches the sequential recursion per event_type") {
    val rows = SparkEntry.queries("q_ewma_daily")(spark, dir)
      .select("event_type", "n", "ewma")
      .as[(String, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, seq) =>
      // query output is ordered (event_type, day); groupBy preserves the
      // per-type slice order, so fold the counts sequentially
      var acc = Double.NaN
      seq.foreach { case (_, nDaily, ewma) =>
        acc = if (acc.isNaN) nDaily.toDouble else acc * 0.75 + nDaily * 0.25
        assert(math.abs(ewma - acc) < 1e-9, s"ewma=$ewma expected=$acc")
      }
    }
  }

  test("q_scan_xlsx round-trips region through the workbook format") {
    val got = SparkEntry.queries("q_scan_xlsx")(spark, dir)
      .as[(Int, String)].collect().toSeq
    val expected = spark.read.parquet(s"$dir/region.parquet")
      .orderBy("r_regionkey")
      .selectExpr("cast(r_regionkey as int)", "r_name")
      .as[(Int, String)].collect().toSeq
    assert(got == expected && got.size == 5)
  }

  test("count_min_sketch bounds the exact heavy-hitter counts within eps*N") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.util.sketch.CountMinSketch
    // The declared q_heavy_hitters query is exact; this asserts the
    // constant-memory sketch path (for a term universe too large to
    // aggregate exactly) honors its contract on the same data:
    // exact <= estimate <= exact + eps*N with confidence 1-delta.
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(graft.text.TextOps.tokens(col("text"))).as("term"))
    val eps = 0.001
    val bytes = toks
      .agg(expr(s"count_min_sketch(term, ${eps}d, 0.999d, 42)"))
      .head().getAs[Array[Byte]](0)
    val cms = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
    val exact = SparkEntry.queries("q_heavy_hitters")(spark, dir)
      .select("term", "c").as[(String, Long)].collect()
    assert(exact.nonEmpty)
    val n = toks.count()
    exact.foreach { case (term, c) =>
      val est = cms.estimateCount(term)
      assert(est >= c, s"'$term': sketch underestimated $est < $c")
      assert(est <= c + (eps * n).toLong + 1,
        s"'$term': est=$est exact=$c exceeds eps*N slack")
    }
  }

  test("approx_percentile lands within the rank-accuracy bound of the exact median") {
    import org.apache.spark.sql.functions._
    val prices = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_extendedprice").as("x"))
    val accuracy = 1000
    val approx = prices
      .agg(expr(s"approx_percentile(x, 0.5, $accuracy)")).as[Double].head()
    val n = prices.count()
    // contract: the returned value's RANK is within N/accuracy of the
    // target rank (value distance is not bounded; rank distance is)
    val rank = prices.filter(col("x") <= approx).count()
    val slack = n / accuracy + 1
    assert(math.abs(rank - n / 2) <= slack,
      s"approx median rank $rank vs ${n / 2} (slack $slack)")
  }

  test("q_gini equals the O(n²) mean-absolute-difference definition") {
    val (n, gini) = SparkEntry.queries("q_gini")(spark, dir)
      .as[(Long, Double)].head()
    val xs = spark.read.parquet(s"$dir/customer.parquet")
      .filter("c_acctbal > 0.0")
      .select(org.apache.spark.sql.functions
        .floor(org.apache.spark.sql.functions.col("c_acctbal") * 1e6).cast("long"))
      .as[Long].collect()
    assert(n == xs.length)
    // G = Σ_i Σ_j |x_i − x_j| / (2 n² μ), brute force on the small SF
    val mu = xs.map(BigInt(_)).sum.toDouble / xs.length
    val mad = (for (a <- xs; b <- xs) yield math.abs(a - b).toDouble).sum
    val brute = mad / (2.0 * xs.length * xs.length * mu)
    assert(math.abs(gini - brute) < 1e-9, s"gini=$gini brute=$brute")
    assert(gini > 0.0 && gini < 1.0)
  }

  test("q_ks_test equals the brute-force max CDF gap and sits in [0,1]") {
    val (n1, n2, ks) = SparkEntry.queries("q_ks_test")(spark, dir)
      .as[(Long, Long, Double)].head()
    val c = spark.read.parquet(s"$dir/customer.parquet")
      .select("c_mktsegment", "c_acctbal")
      .as[(String, Double)].collect()
    val s1 = c.filter(_._1 == "BUILDING").map(t => math.floor(t._2 * 1e6).toLong).sorted
    val s2 = c.filter(_._1 == "MACHINERY").map(t => math.floor(t._2 * 1e6).toLong).sorted
    assert(n1 == s1.length && n2 == s2.length)
    val support = (s1 ++ s2).distinct.sorted
    val brute = support.map { x =>
      val f1 = s1.count(_ <= x).toDouble / s1.length
      val f2 = s2.count(_ <= x).toDouble / s2.length
      math.abs(f1 - f2)
    }.max
    assert(math.abs(ks - brute) < 1e-12, s"ks=$ks brute=$brute")
    assert(ks >= 0.0 && ks <= 1.0)
  }

  test("q_skyline is exactly the non-dominated set") {
    val sky = SparkEntry.queries("q_skyline")(spark, dir)
      .select("p_partkey").as[Long].collect().toSet
    val parts = spark.read.parquet(s"$dir/part.parquet")
      .select("p_partkey", "p_size", "p_retailprice")
      .as[(Long, Int, Double)].collect()
    val brute = parts.filter { case (_, s, p) =>
      !parts.exists { case (_, s2, p2) => s2 < s && p2 > p }
    }.map(_._1).toSet
    assert(sky == brute)
    assert(sky.nonEmpty && sky.size < parts.length)
  }

  test("q_interval_merge matches a driver-side merge for every user") {
    val got = SparkEntry.queries("q_interval_merge")(spark, dir)
      .as[(Long, Long, Long)].collect()
      .map { case (u, k, ms) => u -> ((k, ms)) }.toMap
    val gap = 300000L
    val byUser = graft.sources.Tables.events(spark, dir)
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.unix_millis(
          org.apache.spark.sql.functions.col("ts")).as("t"))
      .as[(Long, Long)].collect().groupBy(_._1)
    assert(got.keySet == byUser.keySet)
    byUser.foreach { case (u, rows) =>
      val ts = rows.map(_._2).sorted
      var (k, covered, start, end) = (0L, 0L, ts.head, ts.head + gap)
      ts.tail.foreach { t =>
        if (t > end) { k += 1; covered += end - start; start = t }
        end = math.max(end, t + gap)
      }
      k += 1; covered += end - start
      assert(got(u) == ((k, covered)), s"user $u: got ${got(u)} expected ($k, $covered)")
    }
  }

  test("q_kmv_distinct: exact fallback under k, bounded relative error over k") {
    val rows = SparkEntry.queries("q_kmv_distinct")(spark, dir)
      .as[(String, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (q, exact, est) =>
      if (exact < 64)
        // under k distinct keys the sketch holds them all (hash collisions
        // could shrink nh below exact, but 2^31 hash space over <64 keys
        // makes that measure-zero on this data) — the estimate IS exact
        assert(est == exact.toDouble, s"$q: est=$est exact=$exact under k")
      else
        // KMV relative sd is ~1/sqrt(k-2) ≈ 12.7% at k=64; allow 4 sigma
        assert(math.abs(est - exact) / exact <= 0.51,
          s"$q: est=$est exact=$exact")
    }
  }

  test("q_kcore reaches its fixed point and matches a driver-side peel") {
    val got = SparkEntry.queries("q_kcore")(spark, dir)
      .as[(Long, Long)].collect().toMap
    // brute-force peel to convergence on the same support>=2 edge set
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey").as[(Long, Long)].collect()
      .distinct.groupBy(_._1).values
    val pairCounts = li.toSeq.flatMap { basket =>
      val ps = basket.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size).toMap
    var edges = pairCounts.filter(_._2 >= 2).keys.toSet
    var changed = true
    while (changed) {
      val deg = (edges.toSeq.map(_._1) ++ edges.toSeq.map(_._2))
        .groupBy(identity).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= 2).keySet
      val next = edges.filter(e => keep(e._1) && keep(e._2))
      changed = next != edges
      edges = next
    }
    val brute = (edges.toSeq.map(_._1) ++ edges.toSeq.map(_._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == brute, "3 peel rounds must reach the fixed point on this data")
    assert(got.values.forall(_ >= 2), "2-core property: every induced degree >= 2")
  }

  test("q_degree_dist total degree equals twice the edge count") {
    val rows = SparkEntry.queries("q_degree_dist")(spark, dir)
      .as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    val totalDeg = rows.map { case (d, n) => d * n }.sum
    assert(totalDeg % 2 == 0, "handshake lemma")
  }

  test("q_pca_power converges: the output direction is nearly G-invariant") {
    val v = SparkEntry.queries("q_pca_power")(spark, dir)
      .as[(Long, Long)].collect().sortBy(_._1).map(_._2.toDouble)
    assert(v.length == 64)
    val g = SparkEntry.queries("q_embed_gram")(spark, dir)
      .select("i", "j", "g").as[(Int, Int, Double)].collect()
    val G = Array.ofDim[Double](64, 64)
    g.foreach { case (i, j, x) => G(i)(j) = x; G(j)(i) = x }
    def mul(m: Array[Array[Double]], x: Array[Double]) =
      m.map(row => row.zip(x).map(p => p._1 * p._2).sum)
    def norm(x: Array[Double]) = math.sqrt(x.map(a => a * a).sum)
    val gv = mul(G, v)
    val cos = v.zip(gv).map(p => p._1 * p._2).sum / (norm(v) * norm(gv))
    // repeated squaring applies G^96: despite the mild eigengap
    // (λ2/λ1 ≈ 0.93 on this testdata) the direction is pinned
    assert(math.abs(cos) > 0.9999, s"cos(v, Gv) = $cos")
    val rayleigh = v.zip(gv).map(p => p._1 * p._2).sum / v.map(a => a * a).sum
    var u = v.map(_.toDouble) // refine to λ1 with float rounds
    for (_ <- 1 to 300) { val w = mul(G, u); val n = norm(w); u = w.map(_ / n) }
    val lambda1 = u.zip(mul(G, u)).map(p => p._1 * p._2).sum
    assert(math.abs(rayleigh - lambda1) / lambda1 < 0.001,
      s"rayleigh=$rayleigh lambda1=$lambda1")
  }

  test("association/forecast/CF invariants hold") {
    // total MI = Σ p_xy·pmi is non-negative (information inequality)
    val mi = SparkEntry.queries("q_mutual_info")(spark, dir)
      .select("n_xy", "pmi").as[(Long, Double)].collect()
    val n = mi.map(_._1).sum.toDouble
    assert(mi.map { case (c, p) => c / n * p }.sum >= -1e-9)
    val chi = SparkEntry.queries("q_chisq")(spark, dir)
      .select("expected", "contrib").as[(Double, Double)].collect()
    assert(chi.forall { case (e, c) => e > 0 && c >= 0 })
    val (nd, mae, rmse) = SparkEntry.queries("q_forecast_eval")(spark, dir)
      .as[(Long, Double, Double)].head()
    assert(nd > 0 && mae <= rmse + 1e-12, "Jensen: MAE <= RMSE")
    val cf = SparkEntry.queries("q_item_cf")(spark, dir)
      .select("cosine").as[Double].collect()
    assert(cf.nonEmpty && cf.forall(c => c > 0 && c <= 1.0))
  }

  test("q_autocorr coefficients are valid correlations") {
    val rows = SparkEntry.queries("q_autocorr")(spark, dir)
      .as[(Int, Long, Double)].collect()
    assert(rows.map(_._1).toSeq == Seq(1, 7))
    rows.foreach { case (lag, n, r) =>
      assert(n > 2, s"lag $lag needs pairs")
      assert(math.abs(r) <= 1.0, s"lag $lag: |r|=$r")
    }
  }

  test("q_cms_freq: CMS never underestimates, and the undersized sketch measures real collisions") {
    val rows = SparkEntry.queries("q_cms_freq")(spark, dir)
      .as[(String, Long, Long, Long)].collect()
    assert(rows.length == 20)
    rows.foreach { case (tok, exact, est, over) =>
      assert(est >= exact, s"$tok: CMS underestimated ($est < $exact)")
      assert(over == est - exact, s"$tok: overcount column inconsistent")
    }
    // d=2 x w=8 against a ~31-token vocabulary: collision mass must be real
    assert(rows.exists(_._4 > 0), "undersized sketch produced no collisions")
  }

  test("q_stream_cms matches batch CMS semantics: est >= exact per event type") {
    val rows = SparkEntry.queries("q_stream_cms")(spark, dir)
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (t, exact, est, over) =>
      assert(exact > 0 && est >= exact && over == est - exact, s"$t: $exact/$est")
    }
  }

  test("q_random_walks: walks are connected, deterministic, and hash-replayable") {
    val walks = SparkEntry.queries("q_random_walks")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(walks.count(_._2 == 0L) == 10, "10 walk starts")
    // every step follows an edge of the symmetrized purchase graph
    val q = SparkEntry.queries("q_random_walks")
    val again = q(spark, dir).as[(Long, Long, Long)].collect().toSeq
    assert(walks == again, "walks must replay identically")
    val byWalk = walks.groupBy(_._1)
    byWalk.values.foreach { steps =>
      val ordered = steps.sortBy(_._2)
      assert(ordered.map(_._2) == (0L until ordered.length).toSeq,
        "steps are consecutive from 0")
    }
  }

  test("q_dsir_weights: total coverage, exact token counts, target lang scores highest") {
    val w = SparkEntry.queries("q_dsir_weights")(spark, dir)
      .as[(Long, Long, Double)].collect().toSeq
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(w.length == docs.count(), "every doc gets a weight")
    // n_toks is the whitespace token count (split of '' still yields one
    // token — the suite's tokenizer convention)
    val nt = docs.select(org.apache.spark.sql.functions.col("doc_id"),
        graft.text.TextOps.tokenCount(org.apache.spark.sql.functions.col("text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    w.foreach { case (id, n, _) => assert(n == nt(id), s"doc $id token count") }
    // the DSIR promise: docs from the target distribution (en) average a
    // higher importance weight than every other language slice
    val lang = docs.select("doc_id", "lang").as[(Long, String)].collect().toMap
    val byLang = w.groupBy(x => lang(x._1))
      .map { case (l, xs) => l -> xs.map(_._3).sum / xs.length }
    val en = byLang("en")
    byLang.filter(_._1 != "en").foreach { case (l, m) =>
      assert(en > m, s"en mean $en must beat $l mean $m")
    }
  }

  test("q_rrf_fusion: 20 fused rows, rrf equals the reciprocal-rank sum, order is total") {
    val rows = SparkEntry.queries("q_rrf_fusion")(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(rows.length == 20)
    rows.foreach { case (id, ra, rb, rrf) =>
      assert(ra >= 0 && ra <= 50 && rb >= 0 && rb <= 50, s"doc $id ranks")
      assert(ra > 0 || rb > 0, s"doc $id must appear in at least one list")
      def c(r: Long): BigDecimal =
        if (r == 0) BigDecimal(0)
        else BigDecimal(1.0 / (60.0 + r)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      assert(math.abs((c(ra) + c(rb)).toDouble - rrf) < 1e-12, s"doc $id rrf")
    }
    val sorted = rows.sortBy { case (id, _, _, rrf) => (-rrf, id) }
    assert(rows == sorted, "output is ordered by fused score desc, doc_id")
  }

  test("q_partition_skew: bucket counts cover the table; balance averages 1") {
    val rows = SparkEntry.queries("q_partition_skew")(spark, dir)
      .as[(Long, Long, Double, Int)].collect()
    val total = spark.read.parquet(s"$dir/lineitem.parquet").count()
    assert(rows.map(_._2).sum == total, "bucket counts must partition the table")
    val meanBalance = rows.map(_._3).sum / rows.length
    assert(math.abs(meanBalance - 1.0) < 0.01, s"mean balance $meanBalance")
    rows.foreach { case (b, n, bal, hot) =>
      assert((hot == 1) == (n * rows.length > total * 2), s"bucket $b hot flag")
    }
  }
}
