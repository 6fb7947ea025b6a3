package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

class DedupSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  // two near-duplicates (one word changed), one unrelated doc
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again", "en", "a"),
    (2L, "the quick brown fox jumps over the lazy cat again and again", "en", "a"),
    (3L, "completely different text with no overlap whatsoever here now", "en", "b")
  ).toDF("doc_id", "text", "lang", "source")

  test("exact dedup keeps lowest id per key") {
    val got = Dedup.exact(docs, Seq("lang", "source"), "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 3L))
  }

  test("incremental LSH equals full-corpus pairs restricted to batch-vs-corpus") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val isNew = pmod(col("doc_id"), lit(5L)) === 4L
    val idx = java.nio.file.Files.createTempDirectory("band_idx").toString + "/idx"
    Dedup.ensureBandIndex(corpus.filter(!isNew), idx, n = 3, numHashes = 16, bands = 4)
    val stamp = new java.io.File(idx, "_SUCCESS").lastModified()
    val inc = Dedup.incrementalLshPairs(corpus, isNew, idx, n = 3,
        numHashes = 16, bands = 4, verifyThreshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val fullAll = Dedup.minhashLshPairsPortable(corpus, n = 3, numHashes = 16,
        bands = 4, verifyThreshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val full = fullAll
      .filter { case (a, b, _) => (a % 5 == 4) != (b % 5 == 4) }.toSet
    assert(inc == full, s"incremental=$inc full-restricted=$full")
    assert(inc.nonEmpty, "testdata should hold a cross-batch near-dup")
    // the one-pass ingest variant additionally carries the batch's
    // internal pairs: full set restricted to >=1 batch side
    val ingest = Dedup.ingestPairs(corpus, isNew, idx, n = 3,
        numHashes = 16, bands = 4, verifyThreshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val fullTouching = fullAll
      .filter { case (a, b, _) => (a % 5 == 4) || (b % 5 == 4) }.toSet
    assert(ingest == fullTouching, s"ingest=$ingest expected=$fullTouching")
    // a second ensure must REUSE the index, not re-sign the corpus
    Dedup.ensureBandIndex(corpus.filter(!isNew), idx, n = 3, numHashes = 16, bands = 4)
    assert(new java.io.File(idx, "_SUCCESS").lastModified() == stamp,
      "complete index was rebuilt")
    // ... but a PARTIAL index (crashed write: files present, no _SUCCESS)
    // must be rebuilt, not trusted
    assert(new java.io.File(idx, "_SUCCESS").delete())
    Dedup.ensureBandIndex(corpus.filter(!isNew), idx, n = 3, numHashes = 16, bands = 4)
    assert(new java.io.File(idx, "_SUCCESS").exists(), "partial index not rebuilt")
    val inc2 = Dedup.incrementalLshPairs(corpus, isNew, idx, n = 3,
        numHashes = 16, bands = 4, verifyThreshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(inc2 == full, "rebuilt index changed the pair list")
  }

  test("grown index: batch 2 finds batch 1's near-dup through the index alone") {
    // base corpus holds no near-dup of doc 10; batch 1 introduces doc 10;
    // batch 2's doc 20 is a one-word edit of it — the (10, 20) pair is
    // findable ONLY if batch 1's signatures were appended to the index
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "one two three four five six seven eight nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val b1 = Seq(
      (10L, "red orange yellow green blue indigo violet pink brown black white grey")
    ).toDF("doc_id", "text")
    val b2 = Seq(
      (20L, "red orange yellow green blue indigo violet pink brown black white silver")
    ).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("band_grow").toString + "/idx"
    Dedup.ensureBandIndex(base, idx, n = 3, numHashes = 32, bands = 16)
    val p1 = Dedup.ingestPairs(base.union(b1), col("doc_id") === 10L, idx, n = 3,
        numHashes = 32, bands = 16, verifyThreshold = 0.5, appendBatch = Some("b1"))
      .as[(Long, Long, Double)].collect().toSet
    assert(p1.isEmpty, "batch 1 matches nothing in the base corpus")
    val all = base.union(b1).union(b2)
    val p2 = Dedup.incrementalLshPairs(all, col("doc_id") === 20L, idx, n = 3,
        numHashes = 32, bands = 16, verifyThreshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(p2.map(p => (p._1, p._2)) == Set((10L, 20L)),
      s"batch 2 must find batch 1's near-dup through the grown index, got $p2")
    // ... and the grown-index probe equals full-corpus LSH restricted to
    // batch-2 pairs (signatures are per-doc functions)
    val full = Dedup.minhashLshPairsPortable(all, n = 3, numHashes = 32,
        bands = 16, verifyThreshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => a == 20L || b == 20L }.toSet
    assert(p2 == full)
    // replaying batch 1's ingest is a no-op on the index (partition
    // _SUCCESS guard) and the probe prunes its own partition, so the
    // replay reports the same (empty) mixed pair set — no self-pairs
    val replay = Dedup.ingestPairs(base.union(b1), col("doc_id") === 10L, idx,
        n = 3, numHashes = 32, bands = 16, verifyThreshold = 0.5,
        appendBatch = Some("b1"))
      .as[(Long, Long, Double)].collect().toSet
    assert(replay == p1, s"replayed batch must see itself pruned, got $replay")
    // the parameter sidecar rejects a mismatched probe LOUDLY instead of
    // silently returning short pair lists
    val err = intercept[IllegalArgumentException] {
      Dedup.incrementalLshPairs(all, col("doc_id") === 20L, idx, n = 3,
        numHashes = 16, bands = 4, verifyThreshold = 0.5)
    }
    assert(err.getMessage.contains("built with"))
  }

  test("dupSpans reports the planted shared run once with exact offsets") {
    val planted = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa one1 two2"),
      (2L, "pad0 pad1 alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpans(planted, k = 4, minTokens = 8)
      .as[(Long, Long, Int, Int, Long)].collect()
    // one maximal 10-token run, alignment diag = -2, NOT 7 separate 4-gram hits
    assert(got.toSeq == Seq((1L, 2L, 0, 2, 10L)))
  }

  test("dupSpans cap is document frequency: in-doc repetition keeps the span") {
    val header = "common header block tokens repeat here right now"
    val docs = Seq(
      (1L, Seq.fill(11)(header).mkString(" ")), // 11 in-doc repeats
      (2L, header + " unique tail after")
    ).toDF("doc_id", "text")
    // every header gram OCCURS 12 times but in only 2 DOCS: an
    // occurrence-count cap would erase the true cross-doc span
    assert(Dedup.dupSpans(docs, k = 4, minTokens = 8).count() >= 1)
  }

  test("dupSpans below minTokens and same-doc repeats report nothing") {
    val short = Seq(
      (1L, "shared run of five tokens x y z"),
      (2L, "shared run of five tokens p q r"),
      // internal repetition only — no cross-doc pair may appear
      (3L, "loop loop loop loop loop loop loop loop loop loop")
    ).toDF("doc_id", "text")
    // docs 1/2 share a 5-token run: visible at minTokens=5, gone at 8
    assert(Dedup.dupSpans(short, k = 4, minTokens = 5).count() == 1)
    assert(Dedup.dupSpans(short, k = 4, minTokens = 8).count() == 0)
  }

  test("dupSpans spans are verbatim token runs, maximal, on the testdata corpus") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val spans = Dedup.dupSpans(corpus, k = 4, minTokens = 8)
      .as[(Long, Long, Int, Int, Long)].collect()
    assert(spans.nonEmpty, "testdata near-dups should share >=8-token runs")
    val toks = corpus
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .as[(Long, Seq[String])].collect().toMap
    // hot grams are capped out of the index; maximality is only promised
    // across non-hot boundaries, so recompute the DOCUMENT-frequency
    // table (distinct docs per gram — the cap's key) for the check
    val df = toks.toSeq
      .flatMap { case (id, t) => t.sliding(4).map(g => (g.mkString(" "), id)).toSeq.distinct }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
    def hot(ws: Seq[String]) = df.getOrElse(ws.mkString(" "), 0) > Dedup.DefaultMaxShingleDf
    spans.foreach { case (a, b, as, bs, lenL) =>
      val len = lenL.toInt
      val (ta, tb) = (toks(a), toks(b))
      assert(ta.slice(as, as + len) == tb.slice(bs, bs + len),
        s"span ($a,$b,$as,$bs,$len) is not a verbatim shared run")
      val extendsLeft = as > 0 && bs > 0 && ta(as - 1) == tb(bs - 1) &&
        !hot(ta.slice(as - 1, as + 3))
      val extendsRight = as + len < ta.length && bs + len < tb.length &&
        ta(as + len) == tb(bs + len) && !hot(ta.slice(as + len - 3, as + len + 1))
      assert(!extendsLeft && !extendsRight, s"span ($a,$b,$as,$bs,$len) not maximal")
    }
  }

  test("ngram Jaccard finds the near-dup pair with the exact value") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.1)
      .as[(Long, Long, Double)].collect()
    assert(pairs.length == 1)
    val (a, b, j) = pairs.head
    assert((a, b) == (1L, 2L))
    // 12 tokens -> 10 shingles each; 'fox jumps over...dog' vs 'cat' differ in
    // 3 shingles -> common 7, union 13
    assert(math.abs(j - 7.0 / 13.0) < 1e-12)
  }

  // 12 docs sliding over a 14-word vocabulary: adjacent docs overlap in
  // 8 of 10 tokens (J = 0.6), distance-2 docs in 6 (J = 1/3), and the
  // modular wrap adds far-apart pairs — a graded-similarity fixture for
  // brute-force comparisons
  private lazy val slidingTexts: Seq[String] = {
    val words = ("alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi").split(" ")
    (0 until 12).map { i =>
      (0 until 10).map(j => words((i * 2 + j) % words.length)).mkString(" ")
    }
  }
  private lazy val slidingDocs =
    slidingTexts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "x") }
      .toDF("doc_id", "text", "lang", "source")
  private lazy val slidingSets: Map[Long, Set[String]] =
    slidingTexts.zipWithIndex.map { case (t, i) =>
      i.toLong -> t.trim.toLowerCase.split("\\s+").toSeq
        .sliding(3).map(_.mkString(" ")).toSet
    }.toMap

  test("prefix-filter jaccard equals brute-force all-pairs exactly") {
    val sets = slidingSets
    val expect = (for {
      a <- sets.keys; b <- sets.keys if a < b
      c = (sets(a) & sets(b)).size
      j = c.toDouble / (sets(a).size + sets(b).size - c)
      if j >= 0.4
    } yield (a, b, j)).toSet
    assert(expect.nonEmpty, "fixture must produce pairs above threshold")
    assert(expect.size < sets.size * (sets.size - 1) / 2,
      "fixture must also have pairs below threshold")
    val got = Dedup.jaccardPrefixPairs(slidingDocs, n = 3, thresholdNum = 2, thresholdDen = 5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expect)
  }

  test("containment pairs equal the brute-force overlap coefficient") {
    // high maxDf: every shingle survives on this small fixture, so the
    // library result must equal the uncapped brute force
    val sets = slidingSets
    val expect = (for {
      a <- sets.keys; b <- sets.keys if a < b
      c = (sets(a) & sets(b)).size
      s = c.toDouble / math.min(sets(a).size, sets(b).size)
      if s >= 0.5
    } yield (a, b, s)).toSet
    assert(expect.nonEmpty, "fixture must produce containment pairs")
    val got = Dedup.containmentPairs(slidingDocs, n = 3, threshold = 0.5, maxDf = 1000)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expect)
  }

  test("cdc chunks reconstruct the doc and re-sync after a front insertion") {
    val baseText = (1 to 60).map(i => s"tok$i").mkString(" ")
    val two = Seq((1L, baseText), (2L, "zzz " + baseText)).toDF("doc_id", "text")
    val got = Dedup.cdcChunks(two, avgTokens = 8)
      .orderBy("doc_id", "chunk_id")
      .select("doc_id", "chunk_text").as[(Long, String)].collect()
    val a = got.filter(_._1 == 1L).map(_._2).toSeq
    val b = got.filter(_._1 == 2L).map(_._2).toSeq
    assert(a.mkString(" ") == baseText, "chunks must reconstruct the doc")
    assert(b.mkString(" ") == "zzz " + baseText)
    assert(a.length > 3, s"fixture should split into several chunks, got ${a.length}")
    // boundary flags depend only on the token itself, so every boundary of
    // doc 1 survives the insertion: all its chunks after the first must
    // reappear verbatim as a suffix of doc 2's chunk list — the
    // edit-robustness fixed windows lack
    assert(b.takeRight(a.length - 1) == a.tail)
  }

  test("shingles guard: fewer than n tokens yields empty array, not a reversed sequence") {
    val got = Seq("one two").toDF("text")
      .select(TextOps.shingles(TextOps.tokens($"text"), 3)).as[Seq[String]].head()
    assert(got.isEmpty)
  }

  test("bpe tokens split punctuation and digit runs apart from words") {
    val got = Seq("hello, world42! x9").toDF("text")
      .select(TextOps.bpeTokens($"text")).as[Seq[String]].head()
    assert(got == Seq("hello", ",", "world", "42", "!", "x", "9"))
  }

  test("rolling hash is order-sensitive where set fingerprints are not") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha")).toDF("doc_id", "text")
    val fps = df.select(TextOps.rollingHash(TextOps.tokens($"text"))).as[Long].collect()
    assert(fps(0) != fps(1)) // permutation changes the rolling fingerprint
    val again = df.select(TextOps.rollingHash(TextOps.tokens($"text"))).as[Long].collect()
    assert(fps.toSeq == again.toSeq) // but it is deterministic
  }

  test("portable variants find the same near-dup pair as the xxhash64 paths") {
    val mh = Dedup.minhashLshPairsPortable(docs, n = 3, numHashes = 32,
      bands = 16, verifyThreshold = 0.5).as[(Long, Long, Double)].collect()
    assert(mh.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
    assert(math.abs(mh.head._3 - 7.0 / 13.0) < 1e-12)
    // A one-word edit on an 11-token doc can flip >3 of 56 portable-hash
    // bits (unlike 3/64 for xxhash64 — recall on tiny docs is luck), so the
    // guaranteed property is: an EXACT duplicate collides at Hamming 0 and
    // unrelated docs don't pair.
    val withDup = docs.union(Seq(
      (4L, "the quick brown fox jumps over the lazy dog again and again", "en", "c"))
      .toDF("doc_id", "text", "lang", "source"))
    val sh = Dedup.simhashPairsPortable(withDup, maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect()
    // an exact duplicate shares every band, yet is emitted once: from its
    // first shared band only
    assert(sh.filter(p => p._1 == 1L && p._2 == 4L).toSeq == Seq((1L, 4L, 0)))
    assert(!sh.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("portable rolling hash is order-sensitive and matches the hand-rolled fold") {
    val df = Seq((1L, "ab c"), (2L, "c ab")).toDF("doc_id", "text")
    val fps = df.orderBy("doc_id")
      .select(TextOps.portableRollingHash(TextOps.tokens($"text"))).as[Long].collect()
    val m = 2147483647L
    def h(s: String): Long = s.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % m)
    def roll(ts: Seq[String]): Long = ts.foldLeft(0L)((a, t) => (a * 1000003L + h(t)) % m)
    assert(fps.toSeq == Seq(roll(Seq("ab", "c")), roll(Seq("c", "ab"))))
    assert(fps(0) != fps(1))
  }

  test("dedupGroups labels chains, cliques and singletons with the min reachable id") {
    // chain 1-2-3-4 (diameter 3 forces multiple propagation rounds),
    // clique 10-11, singleton 20
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.dedupGroups(nodes, pairs, "doc_id")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("star contraction resolves a 10k-node chain within the O(log n) round bound") {
    // worst case for min-label propagation (diameter 9999); the star
    // algorithm must finish inside 20 rounds (log2(10k) ~ 13.3 + slack) —
    // dedupGroupsStar THROWS if maxIter is hit, so success asserts the bound
    val n = 10000L
    val nodes = spark.range(n).toDF("doc_id")
    val pairs = spark.range(n - 1).select($"id".as("doc_a"), ($"id" + 1).as("doc_b"))
    val got = Dedup.dedupGroupsStar(nodes, pairs, "doc_id", maxIter = 20)
      .agg(countDistinct("group_id").as("ng"), max("group_id").as("mx"),
        count(lit(1)).as("n")).as[(Long, Long, Long)].head()
    assert(got == ((1L, 0L, n))) // one component, rooted at doc 0, all docs
  }

  test("dedupGroups converges across multiple batched barriers (r13 loop shape)") {
    // diameter 9 needs ~5 two-round barriers of the self-loop aggregation
    // round — exercises the observe()-based r2-vs-r1 change detection
    // over several barriers, plus a clique and singletons around it
    val nodes = (0L to 9L).toDF("doc_id").union(Seq(50L, 51L, 99L).toDF("doc_id"))
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      .union(Seq((51L, 50L)).toDF("doc_a", "doc_b"))
    val got = Dedup.dedupGroups(nodes, pairs, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert((0L to 9L).forall(got(_) == 0L))
    assert(got(50L) == 50L && got(51L) == 50L && got(99L) == 99L)
  }

  test("dedupGroups escalates to star contraction instead of failing on deep chains") {
    val n = 64L
    val nodes = spark.range(n).toDF("doc_id")
    val pairs = spark.range(n - 1).select($"id".as("doc_a"), ($"id" + 1).as("doc_b"))
    // diameter 63 >> maxIter 3: propagation cannot converge; the fallback must
    val got = Dedup.dedupGroups(nodes, pairs, "doc_id", maxIter = 3)
      .as[(Long, Long)].collect()
    assert(got.length == n && got.forall(_._2 == 0L))
  }

  test("fingerprint is stable and lang-sensitive") {
    val fps = docs.select(TextOps.fingerprint($"lang", $"text")).as[String].collect()
    assert(fps.distinct.length == 3)
    val again = docs.select(TextOps.fingerprint($"lang", $"text")).as[String].collect()
    assert(fps.toSeq == again.toSeq)
  }

  test("contaminationHits flags only docs overlapping the eval slice") {
    // doc 1 is "eval"; doc 2 shares 3-grams with it, doc 3 shares none
    val got = Dedup.contaminationHits(docs, $"doc_id" === 1L, n = 3)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(2L))
    // tokens 1..12, change at position 10 kills shingles starting 8,9,10
    // -> 10 shingles - 3 = 7 shared
    assert(got(2L) == 7L)
  }

  test("lineDedup keeps first occurrences, empties exact dups, preserves unique docs") {
    // 2-token chunks for a readable fixture. doc 1: [a b][c d][e f];
    // doc 2 repeats doc 1's middle chunk; doc 3 is an exact dup of doc 1;
    // doc 4 shares nothing.
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x y c d z w"),
      (3L, "a b c d e f"),
      (4L, "p q r s")
    ).toDF("doc_id", "text")
    val got = Dedup.lineDedup(docs, chunkTokens = 2)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    assert(got(0) == ((1L, "a b c d e f", 3L, 0L)))
    assert(got(1) == ((2L, "x y z w", 2L, 1L)))   // lost the shared "c d"
    assert(got(2) == ((3L, "", 0L, 3L)))          // exact dup fully drained
    assert(got(3) == ((4L, "p q r s", 2L, 0L)))
  }

  test("lineDedup invariant: kept spans are globally duplicate-free and account for all spans") {
    val c = 3
    val (kept, dropped) = Dedup.lineDedup(docs, chunkTokens = c)
      .agg(sum($"n_kept"), sum($"n_dropped")).as[(Long, Long)].head()
    val tkn = graft.text.TextOps.tokens($"text")
    val allChunks = docs.select(explode(transform(
        sequence(lit(0), (ceil(size(tkn).cast("double") / c) - 1).cast("int")),
        i => array_join(slice(tkn, i * c + 1, lit(c)), " "))).as("chunk"))
    // first-wins keeps exactly one copy of every distinct span; the rest drop
    assert(kept == allChunks.distinct().count())
    assert(kept + dropped == allChunks.count())
  }

  test("winnowing guarantee: any shared run >= w+n-1 tokens shares a fingerprint") {
    // doc 1 and 2 share the 6-token run "jumps over the lazy dog again"
    // is NOT shared (dog vs cat) — but "the quick brown fox jumps over
    // the lazy" (8 tokens >= w+n-1 = 6) is. Winnowing promises at least
    // one common selected fingerprint for any such run; doc 3 (disjoint
    // text) must share none.
    val fps = Dedup.winnowedFingerprints(docs, n = 3, w = 4)
      .select("doc_id", "fp").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty, "shared long run lost by winnowing")
    assert((fps(1L) & fps(3L)).isEmpty, "disjoint docs share a fingerprint")
    assert((fps(2L) & fps(3L)).isEmpty)
  }

  test("winnowing density: selected fingerprints are a strict, covering subset") {
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val grams = Dedup.shingleSet(docsDf, 3).groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    val sel = Dedup.winnowedFingerprints(docsDf, n = 3, w = 4)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(sel.nonEmpty)
    sel.foreach { case (id, c) =>
      // every doc keeps at least one fingerprint and far fewer than its
      // gram count (expected density ~2/(w+1) of positions)
      assert(c >= 1, s"doc $id lost all fingerprints")
      grams.get(id).foreach(g => assert(c <= g, s"doc $id selected > grams"))
    }
    val (g, k) = (grams.values.sum.toDouble, sel.values.sum.toDouble)
    assert(k / g < 0.75, s"winnowing kept $k of $g distinct-gram mass")
  }

  test("redactPii replaces every email/phone/IP and nothing else") {
    val df = Seq(
      ("mail bob.smith@corp.example.com end", "mail <EMAIL> end"),
      ("call 555-0199 or 555-0200 now", "call <PHONE> or <PHONE> now"),
      ("host 192.168.0.1 up", "host <IP> up"),
      ("clean text stays clean", "clean text stays clean"),
      // email wins over the embedded digit runs (ordering contract)
      ("x user42@h.io 10.0.0.7 555-1234", "x <EMAIL> <IP> <PHONE>")
    ).toDF("raw", "expected")
    val got = df.select(TextOps.redactPii($"raw").as("r"), $"expected")
      .as[(String, String)].collect()
    got.foreach { case (r, e) => assert(r == e) }
  }

  test("exactSubstrDupStats equals brute-force on a planted corpus") {
    import spark.implicits._
    val k = 8
    val boiler = "SHAREDRUNOFTEXT!" // 16 chars — appears in docs 1 and 2
    val docs = Seq(
      (1L, s"alpha $boiler omega unique one"),
      (2L, s"completely other ${boiler} tail"),
      (3L, "no duplicated material here at all zzz"),
      (4L, "selfrepeat selfrepeat selfrepeat"), // within-doc repeats count
      (5L, "tiny")) // shorter than k: no grams, zero row survives
      .toDF("doc_id", "text")
    val got = Dedup.exactSubstrDupStats(docs, k)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // independent brute force: position p of doc d is duplicated iff its
    // k-substring occurs elsewhere (any doc, any position)
    val texts = Seq(1L -> s"alpha $boiler omega unique one",
      2L -> s"completely other ${boiler} tail",
      3L -> "no duplicated material here at all zzz",
      4L -> "selfrepeat selfrepeat selfrepeat",
      5L -> "tiny")
    val all = texts.flatMap { case (id, t) =>
      (0 to t.length - k).map(p => (id, p, t.substring(p, p + k))) }
    val counts = all.groupBy(_._3).view.mapValues(_.size).toMap
    val expected = texts.map { case (id, t) =>
      val dups = all.filter(x => x._1 == id && counts(x._3) >= 2).map(_._2)
      // merge [p, p+k) intervals
      var spans = List.empty[(Int, Int)]
      dups.sorted.foreach { p =>
        spans match {
          case (s0, e0) :: rest if p <= e0 => spans = (s0, math.max(e0, p + k)) :: rest
          case _ => spans = (p, p + k) :: spans
        }
      }
      id -> ((t.length.toLong,
        spans.map { case (s0, e0) => (e0 - s0).toLong }.sum,
        spans.size.toLong))
    }.toMap
    assert(got == expected)
    assert(got(1L)._2 > 0 && got(3L)._2 == 0 && got(4L)._2 > 0 && got(5L)._2 == 0)
  }

  test("stored shingle-df variants equal the inline pipelines") {
    // round-9 verdict ask #7: the set-similarity family reads ONE stamped
    // shingle-df table; stored-vs-inline equality is the safety of that
    // sharing. The table roundtrips parquet here — exactly what the
    // stamped layer serves — so this also pins the (doc_id, s, df) schema.
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("shdf").toString + "/shdf"
    Dedup.shingleDf(corpus, n = 3).write.parquet(tmp)
    val shdf = spark.read.parquet(tmp)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.as[(Long, Long, Double)].collect().toSet
    val nj = pairs(Dedup.ngramJaccardPairsFromShingleDf(shdf, threshold = 0.1))
    assert(nj == pairs(Dedup.ngramJaccardPairs(corpus, n = 3, threshold = 0.1)))
    assert(nj.nonEmpty, "testdata should hold a near-dup pair at t=0.1")
    assert(pairs(Dedup.containmentPairsFromShingleDf(shdf, threshold = 0.9)) ==
      pairs(Dedup.containmentPairs(corpus, n = 3, threshold = 0.9)))
    assert(pairs(Dedup.jaccardPrefixPairsFromShingleDf(shdf,
        thresholdNum = 2, thresholdDen = 5)) ==
      pairs(Dedup.jaccardPrefixPairs(corpus, n = 3,
        thresholdNum = 2, thresholdDen = 5)))
  }
}
