package graft.props

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.ops.{Ordered, Reshape, Scalar}

/** Property-based checks (SURVEY.md §5.3). Spark jobs per case are costly —
  * capped at 10 cases per property; generators stay small and data-shaped.
  */
object EngineProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  // MUST mirror SparkSuite's builder exactly — suites share one JVM and the
  // FIRST getOrCreate wins the race to create the context; if this one wins
  // without the extensions, GraftExtensionsSpec's newSession() has no
  // injected functions and fails (observed: order-dependent red suite)
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .withExtensions(new graft.plans.GraftExtensions)
    .getOrCreate()

  private val keyGen = Gen.nonEmptyListOf(Gen.alphaNumStr.suchThat(_.nonEmpty)
    .map(_.take(8))).map(_.distinct.take(20)).suchThat(_.nonEmpty)
  private val rowGen = keyGen.flatMap { keys =>
    Gen.sequence[List[(String, Double, Double)], (String, Double, Double)](
      keys.map(k => Gen.zip(Gen.const(k),
        Gen.chooseNum(-1e6, 1e6), Gen.chooseNum(-1e6, 1e6))))
  }

  property("pivot ∘ unpivot is identity on complete wide tables") =
    forAll(rowGen) { rows =>
      import spark.implicits._
      val wide = rows.toDF("k", "x", "y")
      val long = Reshape.unpivotWide(wide, Seq("k"), Seq("x", "y"))
      val back = Reshape.pivotLong(long, Seq("k"), "metric", Seq("x", "y"),
        first(col("value")))
      back.orderBy("k").collect().toSeq ==
        wide.orderBy("k").select("k", "x", "y").collect().toSeq
    }

  property("full-outer join key set is the union of input key sets") =
    forAll(keyGen, keyGen) { (ka, kb) =>
      import spark.implicits._
      val a = ka.map((_, 1)).toDF("k", "va")
      val b = kb.map((_, 2)).toDF("k", "vb")
      val joined = a.join(b, Seq("k"), "full_outer")
      joined.select("k").as[String].collect().toSet == (ka.toSet ++ kb.toSet)
    }

  // reference fill-down semantics (src/ETL-NPL-Pipeline.py:388-404) vs the
  // window implementation, on random year/quarter interleavings
  private val labelGen = Gen.nonEmptyListOf(Gen.oneOf(
    Gen.chooseNum(1990, 2030).map(_.toString),
    Gen.chooseNum(1, 4).map(q => s"Q$q"))).map(_.take(30))

  property("carryYear equals the imperative fill-down loop") =
    forAll(labelGen) { labels =>
      import spark.implicits._
      var cur: String = null
      val expected = labels.map { l =>
        if (l.length == 4) { cur = l; cur } else cur
      }
      val df = labels.zipWithIndex.map { case (l, i) => (i, l) }.toDF("ord", "label")
      val got = df.withColumn("y", Ordered.carryYear(col("label"), Seq(col("ord"))))
        .orderBy("ord").select("y").as[String].collect().toSeq
      got == expected
    }

  property("deComma inverts comma-grouping for non-negative longs") =
    forAll(Gen.chooseNum(0L, 999999999999L)) { n =>
      import spark.implicits._
      val grouped = f"$n%,d" // java comma grouping
      val parsed = Seq(grouped).toDF("v").select(Scalar.deComma(col("v")))
        .as[Long].head()
      parsed == n
    }

  property("stableSum is invariant under repartitioning") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(-1e9, 1e9)).map(_.take(500))) { vals =>
      import spark.implicits._
      val df = vals.toDF("v")
      val a = df.repartition(1).agg(Scalar.stableSum(col("v"))).as[Double].head()
      val b = df.repartition(7).agg(Scalar.stableSum(col("v"))).as[Double].head()
      java.lang.Double.compare(a, b) == 0
    }

  // BMP-only strings: the declarative reference splits surrogate pairs
  // while the codegen expression (like DuckDB) iterates code points, so
  // they agree exactly on the basic plane (all real testdata).
  private val bmpGen = Gen.listOf(Gen.frequency(
    8 -> Gen.alphaNumChar, 1 -> Gen.const(' '), 1 -> Gen.oneOf('é', 'ß', '中')
  )).map(_.mkString.take(40))

  property("codegen portable_hash ≡ declarative reference, in [0, 2^31)") =
    forAll(Gen.nonEmptyListOf(bmpGen).map(_.take(50))) { strs =>
      import spark.implicits._
      graft.functions.TextHash.register(spark)
      val rows = strs.toDF("w").select(
          graft.text.TextOps.portableHash(col("w")).as("ref"),
          graft.functions.TextHash.portableHash(col("w")).as("fast"))
        .as[(Long, Long)].collect()
      rows.forall { case (ref, fast) =>
        ref == fast && fast >= 0L && fast < 2147483647L
      }
    }

  property("codegen word_shingles ≡ declarative shingles for n in 1..4") =
    // null texts included: tokens(NULL) is NULL and BOTH paths must yield
    // [] (the declarative when() falls through; the expression is
    // declared never-null)
    forAll(
      Gen.nonEmptyListOf(Gen.frequency(9 -> bmpGen, 1 -> Gen.const(null: String)))
        .map(_.take(30)),
      Gen.chooseNum(1, 4)) { (strs, n) =>
      import spark.implicits._
      graft.functions.WordShingles.register(spark)
      val tk = graft.text.TextOps.tokens(col("w"))
      val rows = strs.toDF("w").select(
          graft.text.TextOps.shingles(tk, n).as("ref"),
          graft.functions.WordShingles.wordShingles(tk, n).as("fast"))
        .as[(Seq[String], Seq[String])].collect()
      rows.forall { case (ref, fast) => ref != null && ref == fast }
    }

  // random small graphs: node ids 0..n-1, arbitrary canonicalized edges
  private val graphGen = for {
    n <- Gen.chooseNum(1, 24)
    edges <- Gen.listOf(Gen.zip(Gen.chooseNum(0, n - 1), Gen.chooseNum(0, n - 1)))
  } yield (n, edges.collect { case (a, b) if a != b => (math.min(a, b).toLong, math.max(a, b).toLong) }.distinct)

  // plain union-find with path compression as the CC oracle: (id, min id
  // reachable) for every node 0..n-1
  private def unionFind(n: Int, edges: List[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(i => i.toLong -> find(i).toLong)
  }

  property("dedupGroups equals a union-find reference on random graphs") =
    forAll(graphGen) { case (n, edges) =>
      import spark.implicits._
      val nodes = (0L until n.toLong).toDF("doc_id")
      val pairs = edges.toDF("doc_a", "doc_b")
      // maxIter = n: a generated component's min-label eccentricity is
      // bounded by the node count, so the loop bound always covers the
      // worst-case diameter and the property cannot flake on long chains
      val got = graft.text.Dedup.dedupGroups(nodes, pairs, "doc_id", maxIter = n)
        .orderBy("doc_id").as[(Long, Long)].collect().toSeq
      got == unionFind(n, edges)
    }

  property("dedupGroupsStar equals a union-find reference on random graphs") =
    forAll(graphGen) { case (n, edges) =>
      import spark.implicits._
      val nodes = (0L until n.toLong).toDF("doc_id")
      val pairs = edges.toDF("doc_a", "doc_b")
      val got = graft.text.Dedup.dedupGroupsStar(nodes, pairs, "doc_id")
        .orderBy("doc_id").as[(Long, Long)].collect().toSeq
      got == unionFind(n, edges)
    }

  property("incrementalGroups folds an edge split into full-recompute labels") =
    forAll(graphGen, Gen.chooseNum(0, 100)) { case ((n, edges), pct) =>
      import spark.implicits._
      // arbitrary prior/new split — including all-prior (empty batch) and
      // all-new (empty prior graph, every node self-labeled)
      val (oldE, newE) = edges.zipWithIndex.partition { case (_, i) => i % 100 < pct }
      val nodes = (0L until n.toLong).toDF("doc_id")
      val prior = graft.text.Dedup.dedupGroups(nodes,
          oldE.map(_._1).toDF("doc_a", "doc_b"), "doc_id", maxIter = n)
        .withColumnRenamed("doc_id", "id")
      val got = graft.text.Dedup.incrementalGroups(prior,
          newE.map(_._1).toDF("doc_a", "doc_b"))
        .orderBy("id").as[(Long, Long)].collect().toSeq
      got == unionFind(n, edges)
    }

  // sequential fixed-point PageRank with the identical integer update
  private def pagerankRef(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    import graft.graph.PageRank.{Unit => MicroUnit, DampingMicro}
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r: Map[Long, Long] = outdeg.map { case (k, _) => k -> MicroUnit }
    for (_ <- 1 to iters) {
      val contrib = edges.groupBy(_._2).view
        .mapValues(_.map { case (s, _) => r(s) / outdeg(s) }.sum).toMap
      r = outdeg.map { case (k, _) =>
        k -> ((MicroUnit - DampingMicro) +
          DampingMicro * contrib.getOrElse(k, 0L) / MicroUnit)
      }
    }
    r
  }

  private val cdcTokensGen = Gen.nonEmptyListOf(
    Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh",
      "red", "blue", "green", "x1", "y2", "z3")).map(_.take(80))

  property("cdcChunks reconstructs the doc and re-syncs after a front edit") =
    forAll(cdcTokensGen, Gen.oneOf("zzz", "qqq")) { (toks, ins) =>
      import spark.implicits._
      val base = toks.mkString(" ")
      val two = Seq((1L, base), (2L, ins + " " + base)).toDF("doc_id", "text")
      val got = graft.text.Dedup.cdcChunks(two, avgTokens = 4)
        .orderBy("doc_id", "chunk_id").select("doc_id", "chunk_text")
        .as[(Long, String)].collect()
      val a = got.filter(_._1 == 1L).map(_._2).toSeq
      val b = got.filter(_._1 == 2L).map(_._2).toSeq
      // boundaries are per-token properties: every boundary of doc 1
      // survives the insertion, so doc 1's chunks after its first must
      // reappear verbatim as the suffix of doc 2's chunk list
      a.mkString(" ") == base &&
        b.mkString(" ") == s"$ins $base" &&
        (a.length <= 1 || b.takeRight(a.length - 1) == a.tail)
    }

  property("pagerank equals a sequential fixed-point interpreter") =
    forAll(graphGen.suchThat(_._2.nonEmpty), Gen.oneOf(false, true), Gen.oneOf(1, 4, 32)) {
      case ((_, und), directed, parts) =>
      import spark.implicits._
      // symmetric: every node ranked, every edge lands on a ranked node;
      // directed (each edge low -> high id): the highest ids are sink-only
      // (unranked destinations) and the lowest have no in-edges (ranked
      // nodes that receive no mass)
      val edges = if (directed) und else und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, parts.toString)
      val out = try graft.graph.PageRank.ranks(edges.toDF("src", "dst"), iters = 3)
        .select("id", "r", "unit").as[(Long, Long, Long)].collect()
      finally spark.conf.set(key, prev)
      // graphs this small derive the classic 1e6 unit, which is what the
      // sequential interpreter bakes in
      val got = out.map { case (id, r, _) => id -> r }.toMap
      out.length == got.size &&
        out.forall(_._3 == graft.graph.PageRank.Unit) &&
        got == pagerankRef(edges, 3)
    }

  property("prefixSum equals the sequential exclusive cumsum for any weights") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(0L, 1000L)),
           Gen.chooseNum(1, 8)) { (ws, parts) =>
      import spark.implicits._
      // unique keys 1..n in shuffled input order, arbitrary partitioning
      val rows = scala.util.Random.shuffle(ws.zipWithIndex.map {
        case (w, i) => (i + 1, w)
      })
      val got = Ordered.prefixSum(rows.toDF("k", "w"), Seq(col("k")), col("w"),
          "cum", numPartitions = parts)
        .select("k", "cum").as[(Int, Long)].collect().sortBy(_._1).map(_._2)
      val expect = ws.scanLeft(0L)(_ + _).init
      got.toSeq == expect
    }

  property("salted aggregation equals the plain aggregation bit-for-bit") =
    forAll(rowGen) { rows =>
      import spark.implicits._
      val df = rows.toDF("k", "x", "y")
      val salted = graft.ops.Skew
        .saltedSumCount(df, col("k"), col("x"), Seq(col("y")), salts = 4)
        .orderBy("_key").select("sum_value").as[Double].collect().toSeq
      val plain = df.groupBy("k").agg(Scalar.stableSum(col("x")).as("s"))
        .orderBy("k").select("s").as[Double].collect().toSeq
      salted.zip(plain).forall { case (a, b) => java.lang.Double.compare(a, b) == 0 }
    }

  property("native gram_agg equals the declarative Gram formulation for any dim") =
    forAll(Gen.chooseNum(1, 8).flatMap(d =>
      Gen.nonEmptyListOf(Gen.listOfN(d, Gen.chooseNum(-10.0f, 10.0f))).map(_.take(20)))) { vecs =>
      import spark.implicits._
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("vec_id", "embedding")
      val native = graft.sim.Similarity.gramUpper(df, "embedding")
        .orderBy("i", "j").select("i", "j", "g12").as[(Int, Int, Long)].collect().toSeq
      val decl = graft.References.gramUpper(df, "embedding")
        .orderBy("i", "j").select("i", "j", "g12").as[(Int, Int, Long)].collect().toSeq
      native == decl
    }

  // random base tables + changelogs (multiple ops per key, any op mix) vs
  // the obvious sequential interpreter: replay each key's changes in seq
  // order over a driver-side map, treating I/U both as upsert and D as
  // delete — the declared latest-op-wins join must agree exactly
  private val cdcGen = for {
    baseKeys <- Gen.listOf(Gen.chooseNum(0L, 15L)).map(_.distinct)
    nChg <- Gen.chooseNum(0, 25)
    chg <- Gen.listOfN(nChg, for {
      k <- Gen.chooseNum(0L, 20L) // may or may not exist in base
      op <- Gen.oneOf("I", "U", "D")
      v <- Gen.chooseNum(-1000.0, 1000.0)
    } yield (k, op, v))
  } yield (baseKeys, chg)

  property("cdcMerge equals the sequential changelog interpreter") =
    forAll(cdcGen) { case (baseKeys, chg) =>
      import spark.implicits._
      val base = baseKeys.map(k => (k, k * 10.0)).toDF("k", "v")
      val changes = chg.zipWithIndex.map { case ((k, op, v), i) =>
        (k, i.toLong, op, v)
      }.toDF("k", "seq", "op", "v")
      val got = graft.ops.Changes.cdcMerge(base, changes, "k", "seq", "op", Seq("v"))
        .as[(Long, Double)].collect().sortBy(_._1).toSeq
      // sequential reference: latest op per key decides
      val state = scala.collection.mutable.Map(baseKeys.map(k => k -> (k * 10.0)): _*)
      chg.groupBy(_._1).foreach { case (k, ops) =>
        ops.last match { // zipWithIndex seq is list order; last = highest seq
          case (_, "D", _) => state.remove(k)
          case (_, _, v)   => state(k) = v
        }
      }
      got == state.toSeq.sortBy(_._1)
    }
}
