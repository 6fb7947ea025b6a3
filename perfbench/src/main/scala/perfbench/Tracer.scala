package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer instrumentation of a traced run, all from the benchmark's own
  * listeners: a SparkListener (jobs, stages, tasks, shuffle, spill, SQL
  * executions), a QueryExecutionListener (planning phases and the SQLMetrics
  * of each executed plan), a StreamingQueryListener (micro-batches) and the
  * JVM's MXBeans.
  *
  * Spans are kept in memory — run, pass, op, construct, action and pipeline
  * stages on the driver; Spark jobs, SQL executions and stream batches as
  * their children — and summarized once at the end. Every event is attributed
  * to the op it belongs to: the op id is set with `setLocalProperty` before
  * the op, and the listener bus is drained at each phase boundary.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  /** ms since the tracer started, on the driver's monotonic clock */
  private def now: Double = (System.nanoTime() - nano0) / 1e6
  private def fromEpoch(ms: Long): Double = (ms - epoch0).toDouble

  private type Span = Tracer.Span
  private val spans = ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private def begin(kind: String, name: String, op: Int): Span = synchronized {
    val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), kind, name, now, Double.NaN, op)
    spans += s; open.push(s); s
  }
  private def finish(s: Span): Unit = synchronized { s.end = now; open.pop() }
  private def currentOp: Int = opSpan.map(_.id).getOrElse(-1)
  private def child(kind: String, name: String, start: Double, end: Double, owner: Int): Unit =
    synchronized { spans += Span(spans.size, -1, kind, name, start, end, owner) }

  private val runSpan = begin("run", "run", -1)
  private var passSpan: Option[Span] = None
  private var opSpan: Option[Span] = None
  @volatile private var inAction = false

  // counters of the current op, folded into the current pass or the set-up
  private var op = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val passes = ArrayBuffer.empty[Map[String, Double]]
  private var setup = Map.empty[String, Double]
  private def add(k: String, v: Double): Unit = synchronized { op(k) += v }

  private val jobStart = mutable.Map.empty[Int, (Double, Int)]
  private val sqlStart = mutable.Map.empty[Long, (Double, Int)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // the op id set with setLocalProperty travels with the job
      val owner = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .map(_.takeWhile(_ != ':').toInt).getOrElse(currentOp)
      jobStart(e.jobId) = (fromEpoch(e.time), owner)
      add("sched.jobs", 1)
      if (!inAction) add("entry.eager_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (s, owner) =>
        child("job", s"job ${e.jobId}", s, fromEpoch(e.time), owner)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("sched.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("sched.tasks", 1)
      if (e.reason != Success) add("sched.task_failures", 1)
      Option(e.taskMetrics).foreach { m =>
        add("sched.task_run_s", m.executorRunTime / 1e3)
        add("sched.task_cpu_s", m.executorCpuTime / 1e9)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        sqlStart(s.executionId) = (fromEpoch(s.time), currentOp)
        add("plan.executions", 1)
      }
      case s: SparkListenerSQLExecutionEnd => synchronized {
        sqlStart.remove(s.executionId).foreach { case (t, owner) =>
          child("sql", s"execution ${s.executionId}", t, fromEpoch(s.time), owner)
        }
      }
      case _ =>
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phase(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      add("plan.analysis_ms", phase("analysis"))
      add("plan.optimizer_ms", phase("optimization"))
      add("plan.physical_ms", phase("planning"))
      val nodes = PlanWalk.collectWithSubqueries(qe.executedPlan) { case n => n }
      var output = -1L
      var largestJoin = 0L
      nodes.foreach { n =>
        val rows = metric(n, "numOutputRows")
        if (output < 0 && n.metrics.contains("numOutputRows")) output = rows
        n match {
          case s: DataSourceScanExec =>
            add("exec.scan_rows", rows.toDouble)
            add("exec.scan_ms", millis(n, "scanTime"))
            s match {
              case f: FileSourceScanExec
                if f.relation.location.rootPaths.exists(p => StampedArtifact.matches(p.getName)) =>
                add("stamped.scans", 1)
              case _ =>
            }
          case _: GenerateExec => add("exec.generate_rows", rows.toDouble)
          case _ =>
        }
        if (n.nodeName.contains("Join")) {
          largestJoin = math.max(largestJoin, rows)
          add("exec.join_ms", millis(n, "buildTime"))
        }
        add("exec.agg_ms", millis(n, "aggTime"))
        add("exec.sort_ms", millis(n, "sortTime"))
      }
      if (inAction && output >= 0) {
        add("exec.output_rows", output.toDouble)
        // join yield: the share of the largest join's rows that reach the output
        if (largestJoin > 0) { add("_join_out", output.toDouble); add("_join_rows", largestJoin.toDouble) }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.withDefaultValue(0.0)
      add("stream.batches", 1)
      add("stream.addbatch_ms", d("addBatch"))
      add("stream.commit_ms", d("walCommit") + d("commitOffsets"))
      add("stream.planning_ms", d("queryPlanning"))
      add("stream.input_rows", p.numInputRows.toDouble)
      add("stream.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      val start = fromEpoch(java.time.Instant.parse(p.timestamp).toEpochMilli)
      child("batch", s"${Option(p.name).getOrElse("stream")} batch ${p.batchId}",
        start, start + d("triggerExecution"), currentOp)
    }
  }

  private var listening = false
  /** Listeners are attached only around traced passes, so the untraced
    * passes of the same run measure the tracing overhead. */
  private def listen(on: Boolean): Unit = if (on != listening) {
    listening = on
    if (on) {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(queryListener)
      spark.streams.addListener(streamListener)
    } else {
      ListenerBusAccess.drain(sc)
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(queryListener)
      spark.streams.removeListener(streamListener)
    }
  }

  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMillis: Double = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum.toDouble
  private var gc0 = 0.0
  private var codegenCount0 = 0L
  private var codegenNs0 = 0L
  private def codegenMark(): Unit = {
    codegenCount0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    codegenNs0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  }
  private def codegenDelta(m: mutable.Map[String, Double]): Unit = {
    m("codegen.classes") +=
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegenCount0
    m("codegen.compile_ms") +=
      (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - codegenNs0) / 1e6
  }

  def setupStart(): Unit = {
    listen(true)
    acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    passSpan = Some(begin("setup", "setup", -1))
    codegenMark()
  }

  def setupEnd(dir: String): Unit = {
    passSpan.foreach(finish)
    codegenDelta(acc)
    // the Stamped artifacts the set-up built under the namespace's tag
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val built = Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("graft_") && f.getName.contains(s"_${tag}_") &&
        StampedArtifact.matches(f.getName) && new java.io.File(f, "_SUCCESS").exists())
    acc("stamped.builds") = built.length.toDouble
    acc("stamped.bytes_written") = built.map(f => bytesUnder(f.toPath)).sum.toDouble
    setup = acc.toMap
    listen(false)
  }

  def passStart(index: Int): Unit = {
    listen(true)
    acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    passSpan = Some(begin("pass", s"pass $index", -1))
    codegenMark()
  }

  def passEnd(): Unit = {
    passSpan.foreach(finish)
    codegenDelta(acc)
    passes += acc.toMap
    listen(false)
  }

  def opStart(name: String): Unit = {
    val s = begin("op", name, -1)
    opSpan = Some(s)
    sc.setLocalProperty(OpProperty, s"${s.id}:$name")
    op = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    inAction = false
    gc0 = gcMillis
  }

  def opEnd(): Unit = {
    val s = opSpan.get
    finish(s)
    acc("jvm.gc_ms") += gcMillis - gc0
    ListenerBusAccess.drain(sc)
    sc.setLocalProperty(OpProperty, null)
    synchronized {
      val mine = spans.filter(c => c.op == s.id)
      val driverSide = spans.filter(d => d.id > s.id && DriverPhases(d.kind) &&
        d.start >= s.start && d.end <= s.end)
      // link each job, SQL execution and batch to the innermost driver span
      // of this op that covers its start
      mine.foreach { c =>
        c.parent = driverSide.filter(d => d.start <= c.start && c.start <= d.end)
          .sortBy(d => d.end - d.start).headOption.map(_.id).getOrElse(s.id)
      }
      val jobs = mine.filter(_.kind == "job").map(j => (j.start, math.min(j.end, s.end)))
      val wall = (s.end - s.start) / 1e3
      acc("sched.driver_gap_s") += wall - covered(jobs.toSeq, s.start, s.end) / 1e3
      acc("_op_wall_s") += wall
      if (s.name == Workloads.Pipeline.name) acc("pipeline.jobs") += op("sched.jobs")
      op.foreach { case (k, v) => acc(k) += v }
    }
    opSpan = None
  }

  /** A driver-side phase of the current op; construct and action are
    * separated by a listener-bus drain so events land in the right one. */
  def phase[T](kind: String, name: String)(body: => T): T = {
    val s = begin(kind, name, -1)
    try body finally {
      finish(s)
      if (kind == "construct") { ListenerBusAccess.drain(sc); inAction = true }
      kind match {
        case "construct" => acc("entry.construct_s") += (s.end - s.start) / 1e3
        case "action" => acc("entry.action_s") += (s.end - s.start) / 1e3
        case "stage" => acc(s"pipeline.${name}_s") += (s.end - s.start) / 1e3
        case _ =>
      }
    }
  }

  def heapAfter(mb: Double): Unit =
    acc("jvm.heap_after_mb") = math.max(acc("jvm.heap_after_mb"), mb)

  def sinkOutput(dir: Path): Unit = if (Files.exists(dir)) {
    val files = Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")).toSeq
    acc("sink.files") += files.size
    acc("sink.bytes_written") += files.map(Files.size).sum.toDouble
  }

  /** Per-layer metrics: medians over the traced passes (set-up metrics from
    * the set-up), derived ratios, span accounting and the tracing
    * overhead measured against the run's own untraced passes. */
  def perLayer(samples: Seq[Main.Sample]): Map[String, Double] = {
    finish(runSpan)
    def med(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
        if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
    val keys = passes.flatMap(_.keys).toSet
    val perPass = keys.filterNot(_.startsWith("_")).map(k => k -> med(passes.map(_.getOrElse(k, 0.0)).toSeq)).toMap
    val derived = Map(
      "sched.busy_frac" -> med(passes.map(p =>
        p.getOrElse("sched.task_run_s", 0.0) / math.max(1e-9, p.getOrElse("_op_wall_s", 0.0) * cores)).toSeq),
      "exec.join_yield" -> med(passes.filter(_.getOrElse("_join_rows", 0.0) > 0).map(p =>
        p("_join_out") / p("_join_rows")).toSeq))
    val setupMetrics = SetupMetrics.map(k => k -> setup.getOrElse(k, 0.0)).toMap
    // the op's own time not covered by its construct and action spans
    val opSpans = spans.filter(s => s.kind == "op" && s.parent >= 0 && spans(s.parent).kind == "pass")
    val opMs = opSpans.map(s => s.end - s.start).sum
    val phaseMs = spans.filter(s => (s.kind == "construct" || s.kind == "action") &&
      s.parent >= 0 && opSpans.exists(_.id == s.parent)).map(s => s.end - s.start).sum
    def selfS(kind: String): Double = med(passes.indices.map { i =>
      val pass = spans.filter(s => s.kind == "pass").lift(i)
      spans.filter(s => s.kind == kind && pass.exists(p => s.start >= p.start && s.end <= p.end))
        .map(s => selfMs(s) / 1e3).sum
    })
    // each traced pass against the mean of the untraced passes on either
    // side of it, since passes still get faster as the run goes on
    val timed = samples.filter(_.pass >= 0)
    val passWall = timed.groupBy(_.pass).map { case (p, ss) => p -> ss.map(_.wallS).sum }
    val traced = timed.filter(_.traced).map(_.pass).distinct
    val overhead = med(traced.map { p =>
      val around = Seq(p - 1, p + 1).flatMap(passWall.get)
      passWall(p) - around.sum / math.max(1, around.size)
    })
    perPass ++ derived ++ setupMetrics ++ Map(
      "span.op_accounted_frac" -> (if (opMs > 0) phaseMs / opMs else 0.0),
      "span.construct_self_s" -> selfS("construct"),
      "span.action_self_s" -> selfS("action"),
      "trace.overhead_s" -> overhead,
      "trace.passes" -> passes.size.toDouble)
  }

  /** Span duration minus the time its children cover. */
  private def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.start, c.end))
    (s.end - s.start) - covered(kids.toSeq, s.start, s.end)
  }

  /** The spans, summed per (set-up or pass, op, span kind): count, total
    * and self time. Jobs, SQL executions and stream batches count under
    * the op they ran for. */
  def spanSummary: String = synchronized {
    def chain(s: Span): Seq[Span] =
      Iterator.iterate(Option(s))(_.filter(_.parent >= 0).map(x => spans(x.parent)))
        .takeWhile(_.isDefined).flatten.toSeq
    val groups = spans.toSeq.filterNot(_.end.isNaN).groupBy { s =>
      val up = chain(s)
      (up.find(a => a.kind == "setup" || a.kind == "pass").fold("run")(_.kind),
        up.find(_.kind == "op").fold("-")(_.name), s.kind)
    }
    Json.arr(groups.toSeq.sortBy(_._1).map { case ((section, op, kind), ss) =>
      Json.obj(Seq("section" -> Json.str(section), "op" -> Json.str(op),
        "kind" -> Json.str(kind), "count" -> ss.size.toString,
        "total_ms" -> Json.num(ss.map(x => x.end - x.start).sum),
        "self_ms" -> Json.num(ss.map(selfMs).sum)))
    })
  }
}

object Tracer {
  final case class Span(id: Int, var parent: Int, kind: String, name: String,
                        start: Double, var end: Double, op: Int)

  val OpProperty = "perfbench.op"
  private val DriverPhases = Set("construct", "action", "stage")

  /** Metrics of the set-up, where artifacts are built and code is
    * generated. */
  val SetupMetrics: Seq[String] = Seq("codegen.compile_ms", "codegen.classes",
    "stamped.builds", "stamped.bytes_written")

  /** `sources.Stamped` artifact directories end in `_<mtime>_<length>`
    * stamps, one pair per source table. */
  object StampedArtifact {
    private val pattern = "^graft_.+?(_\\d{10,}_\\d+)+$".r.pattern
    def matches(name: String): Boolean = pattern.matcher(name).matches()
  }

  object PlanWalk extends AdaptiveSparkPlanHelper

  private def metric(n: SparkPlan, name: String): Long =
    n.metrics.get(name).map(_.value).getOrElse(0L)
  private def millis(n: SparkPlan, name: String): Double =
    n.metrics.get(name).map(m =>
      if (m.metricType == "nsTiming") m.value / 1e6 else m.value.toDouble).getOrElse(0.0)

  /** Length of the union of the intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  def bytesUnder(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** A construct or action span when tracing, the bare body otherwise. */
  def span[T](t: Option[Tracer], kind: String)(body: => T): T =
    t.fold(body)(_.phase(kind, kind)(body))

  /** One public stage of the pipeline, timed as `pipeline.<name>_s`. */
  def stage[T](t: Option[Tracer], name: String)(body: => T): T =
    t.fold(body)(_.phase("stage", name)(body))
}
