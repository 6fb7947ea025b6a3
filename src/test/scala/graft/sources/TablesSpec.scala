package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobLog, SparkEntry, SparkSuite}

/** Testdata-drift CANARY (round-4 verdict ask #2). The driver regenerates
  * /root/testdata between rounds and has already shipped events.ts as BOTH
  * parquet TIMESTAMP(NANOS) and TIMESTAMP(MICROS); round 4 lost 22 queries
  * to exactly that drift. This suite pins the contract in one named place:
  * whatever the current encoding is, `Tables.events` must analyze, produce
  * a TimestampType ts, and yield sane 2024-range data — so the NEXT
  * regeneration fails here first, not across the query surface.
  *
  * It also pins the reader itself: `Tables.parquet` takes the schema Spark
  * would infer from one parquet footer, read in-process, so opening a table
  * runs no Spark job.
  */
class TablesSpec extends AnyFunSuite with SparkSuite {

  test("canary: live testdata events reads adaptively and lands in 2024") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType,
      s"adaptEventTs must normalize to TimestampType, got ${ev.schema("ts").dataType}")
    val years = ev.select(year(col("ts")).as("y"))
      .agg(min("y"), max("y")).head()
    assert(years.getInt(0) >= 2020 && years.getInt(1) <= 2030,
      s"events ts out of sane range [${years.getInt(0)}, ${years.getInt(1)}] — " +
        "testdata ts encoding drifted again (1970 means a raw-int64 misread)")
  }

  test("canary: embeddings honor the contracts the oracles bake in") {
    // The kmeans/IVF/gram oracles hardcode dim 64 (range(0,64) /
    // embedding[i+1]) and the fixed-point shift needs |x| <= 1; a
    // regenerated embeddings table violating either must fail HERE, not
    // across a dozen hash mismatches (the round-4 events lesson).
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val bad = emb.select(col("vec_id"), size(col("embedding")).as("d"),
        array_max(transform(col("embedding"), x => abs(x.cast("double")))).as("mx"))
      .filter(col("d") =!= 64 || col("mx") > 1.0 || col("vec_id").isNull)
      .count()
    assert(bad == 0,
      s"$bad embeddings break the dim-64 / |x|<=1 / non-null-id contract — " +
        "testdata drifted; update the oracle CTEs (range(0,64)) and " +
        "Similarity's shift-domain proof together")
  }

  test("canary: documents carry the (doc_id, text, source, lang) surface") {
    // text ops, dedup, and mixture oracles assume these columns non-null
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val names = docs.schema.fieldNames.toSet
    assert(Set("doc_id", "text", "source", "lang").subsetOf(names),
      s"documents schema drifted: ${names.toSeq.sorted.mkString(", ")}")
    assert(docs.filter(col("doc_id").isNull || col("text").isNull).count() == 0)
  }

  test("canary: orders dtypes and ranges hold the contracts the oracles bake in") {
    // The pricing/rollup/window oracles aggregate o_totalprice as DOUBLE,
    // derive quarters from o_orderdate, and filter o_orderpriority by its
    // 'N-NAME' literals — a regenerated orders table drifting any of these
    // must fail HERE by name, not as N hash mismatches (round-4 lesson).
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/orders.parquet").exists())
    val o = Tables.table(spark, dir, "orders")
    assert(o.schema("o_orderkey").dataType == LongType)
    assert(o.schema("o_totalprice").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val dt = o.schema("o_orderdate").dataType
    assert(dt == TimestampType || dt == org.apache.spark.sql.types.TimestampNTZType
        || dt == org.apache.spark.sql.types.DateType,
      s"o_orderdate arrived as $dt — date encoding drifted (a LONG here is " +
        "the events-nanos failure mode again); extend the reader + this canary")
    val r = o.agg(min(year(col("o_orderdate"))), max(year(col("o_orderdate"))),
      min("o_totalprice"),
      sum(when(col("o_orderkey").isNull || col("o_orderdate").isNull, 1L)
        .otherwise(0L)),
      sum(when(regexp_extract(col("o_orderpriority"), "^[0-9]-[A-Z ]+$", 0) === "",
        1L).otherwise(0L))).head()
    assert(r.getInt(0) >= 1990 && r.getInt(1) <= 2010,
      s"o_orderdate years [${r.getInt(0)}, ${r.getInt(1)}] out of sane range")
    assert(r.getDouble(2) > 0.0, "o_totalprice must be positive")
    assert(r.getLong(3) == 0, "null o_orderkey/o_orderdate")
    assert(r.getLong(4) == 0,
      "o_orderpriority format drifted from 'N-NAME' — oracle literals break")
  }

  test("canary: lineitem dtypes and ranges hold the contracts the oracles bake in") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/lineitem.parquet").exists())
    val l = Tables.table(spark, dir, "lineitem")
    assert(l.schema("l_orderkey").dataType == LongType)
    assert(l.schema("l_quantity").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(l.schema("l_extendedprice").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val dt = l.schema("l_shipdate").dataType
    assert(dt == TimestampType || dt == org.apache.spark.sql.types.TimestampNTZType
        || dt == org.apache.spark.sql.types.DateType,
      s"l_shipdate arrived as $dt — date encoding drifted")
    val r = l.agg(min(year(col("l_shipdate"))), max(year(col("l_shipdate"))),
      min("l_quantity"), max("l_quantity"),
      sum(when(col("l_orderkey").isNull || col("l_quantity").isNull
        || col("l_returnflag").isNull, 1L).otherwise(0L))).head()
    assert(r.getInt(0) >= 1990 && r.getInt(1) <= 2010,
      s"l_shipdate years [${r.getInt(0)}, ${r.getInt(1)}] out of sane range")
    assert(r.getDouble(2) >= 0.0 && r.getDouble(3) <= 1000.0,
      s"l_quantity range [${r.getDouble(2)}, ${r.getDouble(3)}] drifted")
    assert(r.getLong(4) == 0, "nulls in l_orderkey/l_quantity/l_returnflag")
  }

  test("canary: documents text is pure ASCII (the media-features oracle's char==byte premise)") {
    // Media.fakeDecode histograms BYTES; its DuckDB oracle bins CHAR
    // codepoints — equal only while the planted payloads are ASCII. A
    // regeneration shipping multi-byte text must fail here by name.
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nonAscii = docs
      .filter(octet_length(col("text")) =!= length(col("text"))).count()
    assert(nonAscii == 0,
      s"$nonAscii documents carry non-ASCII text — the q_media_features " +
        "oracle's char==byte binning no longer holds; re-derive it over bytes")
  }

  test("micros fixture and nanos-long fixture normalize identically") {
    import spark.implicits._
    // one known instant: 2024-03-15T12:00:00.123456Z
    val micros = 1710504000123456L

    // micros path: a real TimestampType column written to parquet round-trips
    // as TIMESTAMP(MICROS) and must pass through unchanged
    val microsDir = Files.createTempDirectory("graft_ts_micros").toString + "/events.parquet"
    Seq((1L, micros)).toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
      .write.parquet(microsDir)
    val viaMicros = Tables.adaptEventTs(spark.read.parquet(microsDir))

    // nanos-long path: the legacy nanosAsLong shape — a LONG ts column
    val nanosDir = Files.createTempDirectory("graft_ts_nanos").toString + "/events.parquet"
    Seq((1L, micros * 1000L)).toDF("event_id", "ts").write.parquet(nanosDir)
    val viaNanos = Tables.adaptEventTs(spark.read.parquet(nanosDir))

    assert(viaMicros.schema("ts").dataType == TimestampType)
    assert(viaNanos.schema("ts").dataType == TimestampType)
    val a = viaMicros.select(unix_micros(col("ts"))).head().getLong(0)
    val b = viaNanos.select(unix_micros(col("ts"))).head().getLong(0)
    assert(a == micros && b == micros,
      s"paths disagree or lose precision: micros-file=$a nanos-file=$b want=$micros")
  }

  test("unexpected ts type is a loud failure, not a silent misread") {
    import spark.implicits._
    val weird = Seq((1L, "2024-01-01")).toDF("event_id", "ts")
    val e = intercept[IllegalArgumentException](Tables.adaptEventTs(weird))
    assert(e.getMessage.contains("drifted"))
    // and a frame with LongType must still take the nanos branch (guards
    // against someone "simplifying" the match to TimestampType-only)
    val asLong = Seq((1L, 1710504000123456L * 1000L)).toDF("event_id", "ts")
    assert(asLong.schema("ts").dataType == LongType)
    assert(Tables.adaptEventTs(asLong).schema("ts").dataType == TimestampType)
  }

  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"
  private val testdataTables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  test("the footer schema equals Spark's inferred schema for every testdata table") {
    testdataTables.map(t => s"$sf/$t.parquet").foreach { path =>
      assume(new java.io.File(path).exists())
      assert(Tables.parquet(spark, path).schema == spark.read.parquet(path).schema, path)
    }
  }

  test("the footer schema equals Spark's inferred schema for a multi-part directory") {
    val out = Files.createTempDirectory("graft_parts").toString + "/t.parquet"
    spark.range(0, 1000, 1, 4)
      .select(col("id"), (col("id") / 3).as("x"), col("id").cast("string").as("s"),
        timestamp_micros(col("id")).as("ts"),
        timestamp_micros(col("id")).cast("timestamp_ntz").as("ntz"),
        array(col("id"), col("id") + 1).as("a"),
        struct(col("id").as("k"), lit("v").as("v")).as("m"))
      .write.parquet(out)
    assert(new java.io.File(out).list().count(_.startsWith("part-")) == 4)
    val df = Tables.parquet(spark, out)
    assert(df.schema == spark.read.parquet(out).schema)
    assert(df.count() == 1000)
  }

  test("a missing table fails at construction and names its path") {
    val dir = Files.createTempDirectory("graft_missing").toString
    val e = intercept[java.io.FileNotFoundException](Tables.table(spark, dir, "orders"))
    assert(e.getMessage.contains(s"$dir/orders.parquet"), e.getMessage)
    val empty = Files.createDirectories(java.nio.file.Paths.get(dir, "events.parquet"))
    val e2 = intercept[java.io.FileNotFoundException](Tables.events(spark, dir))
    assert(e2.getMessage.contains(empty.toString), e2.getMessage)
  }

  /** Builds a DataFrame the way a query function does: no Spark job may
    * start before the caller's action.
    */
  private def assertNoConstructionJobs(build: => DataFrame): Unit = {
    assume(new java.io.File(s"$sf/orders.parquet").exists())
    val (df, jobs) = JobLog.counting(spark.sparkContext)(build)
    assert(jobs == 0, s"$jobs jobs at construction")
    assert(df.count() > 0)
  }

  test("constructing Tables.table runs no Spark job") {
    assertNoConstructionJobs(Tables.table(spark, sf, "orders"))
  }

  test("constructing Tables.events runs no Spark job") {
    assertNoConstructionJobs(Tables.events(spark, sf))
  }

  test("constructing a second Stamped.ensure of one artifact runs no Spark job") {
    var builds = 0
    def ensure() = Stamped.ensure(spark, sf, "region.parquet", "spec_reread") {
      builds += 1
      Tables.table(spark, sf, "region")
    }
    ensure()
    assertNoConstructionJobs(ensure())
    assert(builds <= 1)
  }

  test("constructing q_mart_assembly runs no Spark job") {
    assertNoConstructionJobs(SparkEntry.queries("q_mart_assembly")(spark, sf))
  }

  test("q_cusum gives the same rows on nanos-long events as on the same instants in micros") {
    import spark.implicits._
    // 2024-03-15T12:00:00.123456Z, then later instants over five days
    val base = 1710504000123456L
    val micros = Seq(0L, 3600L, 86400L, 90000L, 3 * 86400L, 3 * 86400L + 40000L, 5 * 86400L)
      .map(sec => base + sec * 1000000L)

    // micros: TIMESTAMP(MICROS, isAdjustedToUTC=false), today's testdata encoding
    val microsDir = Files.createTempDirectory("graft_cusum_micros").toString
    micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }.toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
      .write.parquet(s"$microsDir/events.parquet")

    // nanos-long: the legacy nanosAsLong shape — a LONG ts column
    val nanosDir = Files.createTempDirectory("graft_cusum_nanos").toString
    micros.zipWithIndex.map { case (us, i) => (i.toLong, us * 1000L) }.toDF("event_id", "ts")
      .write.parquet(s"$nanosDir/events.parquet")

    val q = SparkEntry.queries("q_cusum")
    val viaMicros = q(spark, microsDir).collect().toSeq
    assert(viaMicros.size == 4)
    assert(q(spark, nanosDir).collect().toSeq == viaMicros)
  }
}
