package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** The build-or-read contract of the stamped-artifact layer: the round-7
  * derived-table shares (purchase graph, co-purchase pairs, near-dup
  * pairs/groups, kNN/truth tables) are only correctness-neutral if a
  * crashed write re-runs, a reused path never rebuilds, and a data
  * refresh gets a NEW path instead of a stale read.
  */
class StampedSpec extends AnyFunSuite with SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  private def artifactPath(name: String, stampFile: String): java.io.File = {
    val stamp = Stamped.stampOf(dir, stampFile)
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    new java.io.File(s"/tmp/graft_${name}_${tag}_$stamp")
  }

  /** Specs exercising the BUILD path must start from a clean slate — the
    * whole point of the layer is that artifacts persist across JVMs, so a
    * previous test run's artifact would otherwise satisfy the first read.
    */
  private def clearArtifact(name: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(s"graft_$name"))
      .foreach(rm)
  }

  test("a missing _SUCCESS marker (crashed write) forces a rebuild") {
    import org.apache.spark.sql.functions._
    clearArtifact("spec_crash")
    var builds = 0
    def call() = Stamped.ensure(spark, dir, "region.parquet", "spec_crash") {
      builds += 1
      spark.range(5).select(col("id"))
    }.count()
    assert(call() == 5 && builds == 1)
    assert(call() == 5 && builds == 1, "intact artifact must not rebuild")
    val success = new java.io.File(artifactPath("spec_crash", "region.parquet"), "_SUCCESS")
    assert(success.exists())
    success.delete() // simulate a write that died before commit
    assert(call() == 5 && builds == 2, "missing _SUCCESS must re-run the build")
    assert(success.exists(), "the re-run must recommit the marker")
  }

  test("a refreshed stamp file maps to a DIFFERENT artifact path") {
    // the path is keyed by the stamp file's mtime AND byte length:
    // touching the source (the driver rewriting a snapshot) must route
    // to a fresh build, not a stale artifact, and an in-place rewrite
    // that preserves mtime (cp -p restore) still misses via the length.
    // Exercised on the key function itself — the testdata is read-only.
    val f = new java.io.File(s"$dir/region.parquet")
    val a = artifactPath("spec_stamp", "region.parquet").getPath
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    assert(a == s"/tmp/graft_spec_stamp_${tag}_${f.lastModified()}_${f.length()}")
    val b = s"/tmp/graft_spec_stamp_${tag}_${f.lastModified() + 1000}_${f.length()}"
    assert(a != b, "a newer snapshot must not collide with the old artifact")
  }

  test("a MISSING stamp file fails loudly instead of stamping 0") {
    // File.lastModified() is 0 for a missing file — every snapshot would
    // collide onto one artifact path and silently serve stale data
    val e = intercept[IllegalArgumentException] {
      Stamped.stampOf(dir, "no_such_table.parquet")
    }
    assert(e.getMessage.contains("no_such_table.parquet"))
  }

  test("multi-source keys fold EVERY stamp file (regenerate one → miss)") {
    // the purchase graph reads lineitem AND orders: the key must change
    // when either does. Synthesize two stamp files in a temp dir.
    val d = java.nio.file.Files.createTempDirectory("graft_stamp_spec").toFile
    try {
      val x = new java.io.File(d, "x.parquet"); val y = new java.io.File(d, "y.parquet")
      java.nio.file.Files.write(x.toPath, "aaaa".getBytes)
      java.nio.file.Files.write(y.toPath, "bb".getBytes)
      val k1 = Seq("x.parquet", "y.parquet").map(Stamped.stampOf(d.getPath, _)).mkString("_")
      java.nio.file.Files.write(y.toPath, "bbb".getBytes) // regenerate y only
      val k2 = Seq("x.parquet", "y.parquet").map(Stamped.stampOf(d.getPath, _)).mkString("_")
      assert(k1 != k2, "an orders-only regeneration must miss the cached graph")
    } finally {
      Option(d.listFiles()).getOrElse(Array.empty).foreach(_.delete()); d.delete()
    }
  }

  test("a lost publish race never nests staging inside the winner's root") {
    // local-FS rename onto an existing dir COPIES the source INSIDE it
    // (returns true) — the loser must detect the race via _SUCCESS and
    // discard its staging copy, leaving the winner's artifact readable.
    import org.apache.spark.sql.functions._
    clearArtifact("spec_race")
    def call() = Stamped.ensure(spark, dir, "region.parquet", "spec_race") {
      spark.range(9).select(col("id"))
    }
    assert(call().count() == 9) // the "winner" publishes
    // simulate the loser: root already complete, its build just finished
    assert(call().count() == 9, "a post-race read must see exactly the winner's rows")
    val root = artifactPath("spec_race", "region.parquet")
    val nested = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !f.getName.startsWith("."))
    assert(nested.isEmpty, s"no non-hidden child dirs may appear: ${nested.toSeq}")
  }

  test("publish is atomic: no staging residue, marker lands with the data") {
    import org.apache.spark.sql.functions._
    clearArtifact("spec_atomic")
    Stamped.ensure(spark, dir, "region.parquet", "spec_atomic") {
      spark.range(7).select(col("id"))
    }.count()
    val tmp = new java.io.File("/tmp")
    val leftovers = Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft_spec_atomic"))
    assert(leftovers.length == 1, s"staging dirs must not survive: ${leftovers.toSeq}")
    assert(new java.io.File(leftovers.head, "_SUCCESS").exists())
  }

  /** The entries of `parent` named `name` or staged for it. */
  private def rootAndStaging(parent: java.io.File, name: String): Seq[String] =
    Option(parent.listFiles()).getOrElse(Array.empty).map(_.getName)
      .filter(n => n == name || n.startsWith(s"$name.staging_")).toSeq.sorted

  test("a build that writes part of its output and then throws leaves no root and no staging") {
    val parent = java.nio.file.Files.createTempDirectory("graft_publish_crash").toFile
    val path = s"$parent/root"
    var builds = 0
    def build(fail: Boolean)(dir: String): Unit = {
      builds += 1
      spark.range(3).write.parquet(s"$dir/part")
      if (fail) throw new IllegalStateException("build died mid-write")
      spark.range(4).write.mode("overwrite").parquet(dir)
    }
    val e = intercept[IllegalStateException](Stamped.publish(spark, path)(build(fail = true)))
    assert(e.getMessage == "build died mid-write")
    assert(rootAndStaging(parent, "root").isEmpty,
      s"a failed build must leave neither root nor staging: ${rootAndStaging(parent, "root")}")
    // the next call builds and publishes
    Stamped.publish(spark, path)(build(fail = false))
    assert(builds == 2)
    assert(rootAndStaging(parent, "root") == Seq("root"))
    assert(new java.io.File(path, "_SUCCESS").exists())
    assert(spark.read.parquet(path).count() == 4)
    // and a published root is never rebuilt
    Stamped.publish(spark, path)(build(fail = false))
    assert(builds == 2)
  }

  test("ensureBandIndex publishes its marker and sidecar in the root, with no staging sibling") {
    import spark.implicits._
    val parent = java.nio.file.Files.createTempDirectory("graft_publish_band").toFile
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta")).toDF("doc_id", "text")
    graft.text.Dedup.ensureBandIndex(docs, s"$parent/idx", n = 3, numHashes = 16, bands = 4)
    val root = new java.io.File(parent, "idx")
    assert(new java.io.File(root, "_SUCCESS").exists())
    assert(new java.io.File(root, "_graft_lsh_spec").exists())
    assert(new java.io.File(root, "batch=base").isDirectory)
    assert(rootAndStaging(parent, "idx") == Seq("idx"))
  }

  test("a Stamped build and a spec'd publish fork no chmod or readlink") {
    clearArtifact("spec_forks")
    val indexRoot = java.nio.file.Files.createTempDirectory("graft_spec_forks").toString + "/idx"
    var rows = 0L
    val cmds = graft.Forks.during {
      rows = Stamped.ensure(spark, dir, "region.parquet", "spec_forks") {
        spark.range(5).toDF("id")
      }.count()
      Stamped.publish(spark, indexRoot, Stamped.Spec("index", "_graft_forks_spec", "p=1")()) {
        d => spark.range(3).write.parquet(d); "p=1"
      }
    }
    assert(rows == 5)
    assert(Stamped.requireSpec(spark, indexRoot,
      Stamped.Spec("index", "_graft_forks_spec", "p=1")()) == "p=1")
    graft.Forks.assertNoFsForks(cmds)
  }

  test("only Stamped names the commit marker or opens a spec sidecar") {
    // every other main source goes through Stamped's four pieces; Bench and
    // Verify, the benchmark and correctness harness, keep their own
    val allowed = Set("sources/Stamped.scala", "Bench.scala", "Verify.scala")
    val base = new java.io.File("src/main/scala/graft")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val sources = files(base)
    assert(sources.size > 50, s"source tree not found under ${base.getAbsolutePath}")
    val sidecar = "_graft_[a-z]+_spec".r
    val io = """\.(open|create)\(""".r
    val offenders = sources.flatMap { f =>
      val rel = base.toPath.relativize(f.toPath).toString
      val text = java.nio.file.Files.readString(f.toPath)
      val marker = text.contains("_SUCCESS")
      val opensSidecar = sidecar.findFirstIn(text).isDefined && io.findFirstIn(text).isDefined
      if (allowed(rel) || !(marker || opensSidecar)) None
      else Some(rel + (if (marker) " names _SUCCESS" else " opens a spec sidecar"))
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("knnTop5's rk<=3 prefix IS the k=3 result (prefix-stability claim)") {
    // q_knn_join reads the stamped k=5 table filtered to rk<=3; that is
    // only sound if the deterministic ranking makes every smaller k a
    // strict prefix — assert it against a direct k=3 run on the testdata
    val viaPrefix = graft.entry.EntryHelpers.knnTop5(spark, dir)
      .filter(org.apache.spark.sql.functions.col("rk") <= 3)
      .select("query_id", "vec_id", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val direct = graft.sim.Similarity.annTopkBatch(spark,
        spark.read.parquet(s"$dir/embeddings.parquet"),
        queryPred = org.apache.spark.sql.functions.lit(true), k = 3)
      .select("query_id", "vec_id", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(viaPrefix.nonEmpty)
    assert(viaPrefix == direct)
  }

  test("the artifact roundtrips the build's rows exactly") {
    import org.apache.spark.sql.functions._
    val got = Stamped.ensure(spark, dir, "region.parquet", "spec_roundtrip") {
      spark.range(100).select(col("id"),
        (col("id") * 3 + 1).as("v"),
        (col("id").cast("double") / 7.0).as("d"))
    }.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val expected = (0L until 100L).map(i => (i, i * 3 + 1, i.toDouble / 7.0)).sorted
    assert(got === expected, "BIGINTs and doubles must survive the parquet roundtrip")
  }
}
