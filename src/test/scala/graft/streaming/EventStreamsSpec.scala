package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.sources.Tables

class EventStreamsSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** Streaming file sources consume directories; stage the single-file
    * events table as a one-file feed dir.
    */
  private lazy val feedDir: String = {
    import java.nio.file.{Files, Paths}
    val d = Files.createTempDirectory("graft_feed")
    Files.createSymbolicLink(d.resolve("batch0.parquet"),
      Paths.get(s"$dir/events.parquet"))
    d.toString
  }

  test("windowed watermark aggregation produces hourly per-type counts") {
    val stream = EventStreams.hourlyTypeCounts(EventStreams.readEventStream(spark, feedDir))
    val got = EventStreams.runToCompletion(spark, stream, "hourly_stream")
    assert(got.count() > 0)
    // total events across windows == table size
    val total = got.agg(sum("n")).as[Long].head()
    assert(total == Tables.events(spark, dir).count())
  }

  test("stream-stream interval join matches the batch interval join") {
    val stream = EventStreams.purchaseAttribution(EventStreams.readEventStream(spark, feedDir))
    val got = EventStreams.runToCompletion(spark, stream, "attrib_stream",
      OutputMode.Append)
      .select("purchase_id", "view_id").as[(Long, Long)].collect().sorted.toSeq
    val expected = EventStreams.purchaseAttribution(Tables.events(spark, dir))
      .select("purchase_id", "view_id").as[(Long, Long)].collect().sorted.toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("streaming dedup collapses a doubled feed back to the table size") {
    import java.nio.file.{Files, Paths}
    val d = Files.createTempDirectory("graft_feed_dup")
    Files.createSymbolicLink(d.resolve("batch0.parquet"), Paths.get(s"$dir/events.parquet"))
    Files.createSymbolicLink(d.resolve("batch1.parquet"), Paths.get(s"$dir/events.parquet"))
    val deduped = EventStreams.dedupStream(EventStreams.readEventStream(spark, d.toString))
    val got = EventStreams.runToCompletion(spark, deduped, "dedup_stream",
      OutputMode.Append)
    assert(got.count() == Tables.events(spark, dir).count())
    assert(got.select(countDistinct("event_id")).as[Long].head() == got.count())
  }

  test("session windows under a watermark agree with the batch sessionization") {
    val streamed = EventStreams.sessionWindowAgg(
      EventStreams.readEventStream(spark, feedDir).withWatermark("ts", "1 hour"),
      "5 minutes")
    val got = EventStreams.runToCompletion(spark, streamed, "session_stream",
        OutputMode.Append)
      .orderBy("user_id", "session_start")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)].collect()
    val batch = EventStreams.sessionWindowAgg(
        Tables.events(spark, dir).select("user_id", "ts", "value"), "5 minutes")
      .orderBy("user_id", "session_start")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)].collect()
    // append mode only emits sessions finalized by the LAST watermark
    // (max event time - 1h); sessions ending inside that lag stay in state
    val maxTs = Tables.events(spark, dir).agg(max("ts"))
      .collect().head.getTimestamp(0).getTime
    val cutoff = maxTs - 3600L * 1000
    val emittable = batch.filter(_._3.getTime <= cutoff)
    assert(got.toSeq == emittable.toSeq)
    assert(batch.length - emittable.length <= 5) // only the tail is held back
  }

  test("stateful sessionization emits a summary for every user with sane bounds") {
    val sess = EventStreams.sessionize(spark,
      EventStreams.readEventStream(spark, feedDir))
    val got = EventStreams.runToCompletion(spark, sess.toDF(), "sessions",
      OutputMode.Update)
      .select("user_id", "n_events", "duration_secs", "closed")
      .as[(Long, Int, Long, Boolean)].collect()
    val users = Tables.events(spark, dir).select(countDistinct("user_id")).as[Long].head()
    // every user appears (possibly twice: running summary + timed-out close)
    assert(got.map(_._1).distinct.length == users)
    assert(got.count(!_._4) == users) // exactly one OPEN summary per user
    assert(got.forall(_._2 > 0))
    assert(got.forall(_._3 >= 0))
  }

  /** Stage crafted event batches as a feed dir: each call writes one new
    * file, i.e. one micro-batch for the file source.
    */
  private def stageBatch(feed: java.nio.file.Path, name: String,
                         rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft_stage")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, feed.resolve(name))
  }

  test("sessionize splits on a gap INSIDE one batch, not just across batches") {
    import java.nio.file.Files
    val feed = Files.createTempDirectory("graft_feed_split")
    val m = 60L * 1000_000_000L // one minute in parquet nanos
    // one batch: events at 60', 61', then a 3h gap, then 240', 241.5'
    // (offset from epoch 0 — a ts equal to the INITIAL watermark would be
    // dropped as late before the stateful operator; 90s spacing because a
    // gap of EXACTLY gapMs starts a new session, end-exclusive)
    stageBatch(feed, "b0.parquet", Seq(
      (1L, 60 * m, 1L, "view", 1.0, "{}"), (2L, 61 * m, 1L, "view", 1.0, "{}"),
      (3L, 240 * m, 1L, "view", 1.0, "{}"), (4L, 241 * m + m / 2, 1L, "view", 1.0, "{}")))
    val sess = EventStreams.sessionize(spark,
      EventStreams.readEventStream(spark, feed.toString),
      watermarkDelay = "1 minute", gapMs = 2L * 60 * 1000)
    val got = EventStreams.runToCompletion(spark, sess.toDF(), "sessions_split",
      OutputMode.Update)
      .select("user_id", "n_events", "duration_secs", "closed")
      .as[(Long, Int, Long, Boolean)].collect().toSeq
    // the 60'-61' session must close WITH ITS OWN stats (2 events, 60s) —
    // not merge into one 3-hour pseudo-session
    assert(got.contains((1L, 2, 60L, true)), s"got: $got")
    // the 240'-241.5' session is the running one (2 events, 90s)
    assert(got.contains((1L, 2, 90L, false)), s"got: $got")
    assert(!got.exists(_._3 > 150L), s"no merged mega-session: $got")
  }

  test("a late out-of-order event bridges two pending sessions before any close") {
    import java.nio.file.Files
    val feed = Files.createTempDirectory("graft_feed_bridge")
    val m = 60L * 1000_000_000L
    // 12:00 and 12:03 with a 2-minute gap: two pending sessions...
    stageBatch(feed, "b0.parquet", Seq(
      (1L, 720 * m, 1L, "view", 1.0, "{}"), (2L, 723 * m, 1L, "view", 1.0, "{}")))
    val sess = EventStreams.sessionize(spark,
      EventStreams.readEventStream(spark, feed.toString),
      watermarkDelay = "1 hour", gapMs = 2L * 60 * 1000)
    spark.catalog.dropTempView("sessions_bridge")
    val q = sess.toDF().writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("sessions_bridge").start()
    try {
      q.processAllAvailable()
      // ...then 12:01:30 arrives late (admissible: watermark is far back)
      // and bridges them into ONE session
      stageBatch(feed, "b1.parquet",
        Seq((3L, 721 * m + 30L * 1000_000_000L, 1L, "view", 1.0, "{}")))
      q.processAllAvailable()
      // watermark pusher: 14:00 event moves the watermark past 12:05
      stageBatch(feed, "b2.parquet", Seq((4L, 840 * m, 2L, "view", 1.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sessions_bridge")
      .select("user_id", "n_events", "duration_secs", "closed")
      .as[(Long, Int, Long, Boolean)].collect().filter(_._1 == 1L).toSeq
    // the bridge produced one 3-event 180s session, closed exactly once —
    // no partial session was finalized early
    assert(got.count(_._4) == 1, s"got: $got")
    assert(got.find(_._4).get == ((1L, 3, 180L, true)), s"got: $got")
    assert(!got.exists(r => r._4 && r._2 < 3), s"no early partial close: $got")
  }

  test("event-time timeout closes an idle session exactly once and clears its state") {
    import java.nio.file.Files
    val feed = Files.createTempDirectory("graft_feed_timeout")
    val h = 3600L * 1000_000_000L // one hour in parquet nanos
    // user 1: two events in hour 1
    stageBatch(feed, "b0.parquet", Seq(
      (1L, 1 * h, 1L, "view", 1.0, "{}"), (2L, 1 * h + h / 60, 1L, "view", 1.0, "{}")))
    val sess = EventStreams.sessionize(spark,
      EventStreams.readEventStream(spark, feed.toString),
      watermarkDelay = "1 minute", gapMs = 2L * 60 * 1000)
    spark.catalog.dropTempView("sessions_timeout")
    val q = sess.toDF().writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("sessions_timeout").start()
    try {
      q.processAllAvailable()
      // user 2 an hour later: watermark jumps past user 1's last + gap
      stageBatch(feed, "b1.parquet", Seq((3L, 2 * h, 2L, "view", 1.0, "{}")))
      q.processAllAvailable()
      // user 3 another hour later: forces one more watermark advance — if
      // user 1's state survived, it would time out AGAIN here
      stageBatch(feed, "b2.parquet", Seq((4L, 3 * h, 3L, "view", 1.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sessions_timeout")
      .select("user_id", "n_events", "duration_secs", "closed")
      .as[(Long, Int, Long, Boolean)].collect()
    val u1 = got.filter(_._1 == 1L)
    assert(u1.count(!_._4) == 1, s"one open summary for user 1: ${u1.toSeq}")
    assert(u1.count(_._4) == 1, s"exactly one timed-out close for user 1: ${u1.toSeq}")
    val closed = u1.find(_._4).get
    assert(closed._2 == 2 && closed._3 == 60L) // both events, 60s span
    // user 2 idled past the gap once batch 2 advanced the watermark
    assert(got.count(r => r._1 == 2L && r._4) == 1)
  }

  test("checkpointed query restarts exactly-once: stop mid-feed, resume, no dupes") {
    import java.nio.file.Files
    val feed = Files.createTempDirectory("graft_feed_ckpt")
    val ckpt = Files.createTempDirectory("graft_ckpt")
    val out = Files.createTempDirectory("graft_ckpt_out")
    val h = 3600L * 1000_000_000L
    stageBatch(feed, "b0.parquet", Seq(
      (1L, 1 * h, 1L, "view", 1.0, "{}"),
      (2L, 1 * h, 2L, "view", 2.0, "{}"),
      (2L, 1 * h, 2L, "view", 2.0, "{}"))) // in-batch duplicate

    // each run processes what is there and STOPS (simulated failure or
    // deploy); the drive helper checkpoints it through the FileSystem-based
    // manager, since the checkpoint is local
    def run() = EventStreams.drive(spark, EventStreams
      .dedupStream(EventStreams.readEventStream(spark, feed.toString))
      .select("event_id", "user_id", "value")
      .writeStream.outputMode(OutputMode.Append)
      .format("parquet").option("path", out.toString),
      Some(ckpt.toString))(_.processAllAvailable())

    // first run: process batch 0, then stop
    run()
    // second run: new data arrives (including a replay of event 1 — the
    // at-least-once upstream), restart from the SAME checkpoint
    stageBatch(feed, "b1.parquet", Seq(
      (1L, 1 * h, 1L, "view", 1.0, "{}"), // replayed across the restart
      (3L, 1 * h + h / 60, 3L, "view", 3.0, "{}")))
    run()

    // the file sink's commit log + state-store recovery must yield each
    // event exactly once across the stop/restart boundary
    val got = spark.read.parquet(out.toString)
      .orderBy("event_id").as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 1L, 1.0), (2L, 2L, 2.0), (3L, 3L, 3.0)),
      s"exactly-once resume violated: $got")
  }

  test("a feed's stream schema is its footer schema, adapted as the batch read") {
    val stream = EventStreams.readEventStream(spark, feedDir)
    assert(stream.isStreaming)
    assert(stream.schema == Tables.events(spark, dir).schema)
  }

  test("an existing empty feed dir falls back to the declared events schema") {
    val empty = java.nio.file.Files.createTempDirectory("graft_feed_empty").toString
    val stream = EventStreams.readEventStream(spark, empty)
    assert(stream.isStreaming)
    assert(stream.schema.fields.map(f => f.name -> f.dataType).toSeq == Seq(
      "event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType))
  }

  // Every stream goes through EventStreams.drive, in the local-I/O scope
  // of LocalFs: on the local file system its checkpoint and state files
  // are created and renamed without forking `chmod` or `readlink`, and
  // the session's file-system and checkpoint-manager settings come back
  // as they were, whether the drive succeeds or fails.

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val fileContextManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
  private val scopedKeys =
    Seq(managerKey, "fs.file.impl", "fs.file.impl.disable.cache")
  private def scopedSettings: Seq[Option[String]] = scopedKeys.map(spark.conf.getOption)
  private val inScope = Seq(
    Some("org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"),
    Some("graft.sources.LocalFs"), Some("true"))

  /** Run `body` with the manager key set to the FileContext manager and
    * the cache key set to false (fs.file.impl stays unset), then unset
    * all three keys.
    */
  private def withPresetScopeKeys(body: => Unit): Unit = {
    spark.conf.set(managerKey, fileContextManager)
    spark.conf.set("fs.file.impl.disable.cache", "false")
    try body finally scopedKeys.foreach(spark.conf.unset)
  }
  private val preset = Seq(Some(fileContextManager), None, Some("false"))

  test("a sessionize drive renames its checkpoint files without forking readlink") {
    var rows = 0L
    val cmds = graft.Forks.during {
      rows = graft.SparkEntry.queries("q_stream_sessionize")(spark, dir).count()
    }
    assert(rows > 0)
    graft.Forks.assertNoFsForks(cmds)
  }

  test("an ingest-dedup drain renames its checkpoint files without forking readlink") {
    import java.nio.file.Files
    def tmp(prefix: String) = Files.createTempDirectory(prefix).toString
    val (docsP, idx, labelsP) =
      (tmp("ckpt_ingest_docs") + "/docs",
        tmp("ckpt_ingest_idx") + "/idx", tmp("ckpt_ingest_labels") + "/labels")
    val p = IngestDedup.Params(n = 3, numHashes = 32, bands = 16,
      verifyThreshold = 0.5)
    IngestDedup.ensureIngestState(Seq(
        (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"))
      .toDF("doc_id", "text"), docsP, idx, labelsP, p)
    val feed = Ingest.publish(spark, tmp("ckpt_ingest_feed") + "/feed",
      Seq((10L, "red orange yellow green blue indigo violet pink brown black white"))
        .toDF("doc_id", "text"))
    val cmds = graft.Forks.during {
      Ingest.drain(Ingest.open(spark, feed), tmp("ckpt_ingest_ckpt"))(
        IngestDedup.processBatch(_, _, docsP, idx, labelsP, p))
    }
    assert(IngestDedup.labels(spark, labelsP).orderBy("id")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 1L), (10L, 10L)))
    graft.Forks.assertNoFsForks(cmds)
  }

  private def hourlyTo(name: String) =
    EventStreams.hourlyTypeCounts(EventStreams.readEventStream(spark, feedDir))
      .writeStream.outputMode(OutputMode.Update).format("memory").queryName(name)

  test("a drive restores a set checkpoint-manager setting, and overrides it meanwhile") {
    withPresetScopeKeys {
      var during: Seq[Option[String]] = Nil
      EventStreams.drive(spark, hourlyTo("ckpt_set")) { q =>
        during = scopedSettings
        q.processAllAvailable()
      }
      assert(during == inScope)
      assert(scopedSettings == preset)
      assert(spark.table("ckpt_set").count() > 0)
    }
  }

  test("a drive leaves an unset checkpoint-manager setting unset") {
    assert(scopedSettings.forall(_.isEmpty))
    EventStreams.drive(spark, hourlyTo("ckpt_unset"))(_.processAllAvailable())
    assert(scopedSettings.forall(_.isEmpty))
    assert(spark.table("ckpt_unset").count() > 0)
  }

  test("a failing drive restores the setting and leaves no query running") {
    withPresetScopeKeys {
      val failing = EventStreams.readEventStream(spark, feedDir)
        .select(raise_error(lit("injected failure")).as("x"))
      intercept[Exception] {
        EventStreams.runToCompletion(spark, failing, "ckpt_failing", OutputMode.Append)
      }
      assert(scopedSettings == preset)
      scopedKeys.foreach(spark.conf.unset)
      intercept[IllegalStateException] {
        EventStreams.drive(spark, hourlyTo("ckpt_await_throws")) { _ =>
          throw new IllegalStateException("await failed")
        }
      }
      assert(scopedSettings.forall(_.isEmpty))
      assert(spark.streams.active.isEmpty)
    }
  }

  test("a failing Sink.writeCsv restores the file-system settings") {
    withPresetScopeKeys {
      val out = java.nio.file.Files.createTempDirectory("graft_sink_fail").toString + "/csv"
      intercept[Exception] {
        graft.pipeline.Sink.writeCsv(
          spark.range(3).select(raise_error(lit("injected failure")).as("x")), out)
      }
      assert(scopedSettings == preset)
    }
  }

  test("a Stamped.writeOnce nested in a drive keeps the drive's settings until the drive ends") {
    val root = java.nio.file.Files.createTempDirectory("graft_nested").toString
    var inWrite, afterWrite: Seq[Option[String]] = Nil
    EventStreams.drive(spark, hourlyTo("ckpt_nested")) { q =>
      q.processAllAvailable()
      graft.sources.Stamped.writeOnce(spark, s"$root/v=1") { d =>
        inWrite = scopedSettings
        spark.range(3).write.mode("overwrite").parquet(d)
      }
      afterWrite = scopedSettings
    }
    assert(inWrite == inScope && afterWrite == inScope)
    assert(scopedSettings.forall(_.isEmpty))
    assert(graft.sources.Stamped.versions(spark, root) == Seq("1"))
  }
}
