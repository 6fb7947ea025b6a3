package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.pipeline.{Npl, Sink}

/** One benchmark run in one JVM: a closed loop of ops, one at a time.
  *
  *  - set-up, timed from session start to the first timed op: a fresh
  *    run-private namespace (a directory of links to the testdata tables,
  *    so every Stamped artifact the workload reads is built from nothing),
  *    then one round of every op in the workload's own order that builds
  *    the artifacts and has each query write its output for the oracle
  *    check. It is also the only warm-up: ops still get faster over the
  *    timed passes, but every run makes the same passes, so its medians
  *    sit at the same places on that curve.
  *  - timed passes for `--seconds`: every op once per pass in a seeded
  *    order, at least [[MinPasses]]. Untraced runs alternate materialized
  *    passes (a full `write.format("noop")`) and `.count()` passes; traced
  *    runs alternate untraced and traced materialized passes. Both start
  *    and end with an untraced materialized pass.
  *  - check: the marts of the last timed pipeline op checked against the
  *    generator's invariants; run.py compares the queries' output with the
  *    DuckDB oracle.
  *
  * Raw samples go to `<work>/result.json`; run.py turns them into metrics.
  */
object Main {

  /** Two materialized passes and one `.count()` pass, at least. */
  val MinPasses = 3

  final case class Conf(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, sf: String, cpus: Int)

  sealed trait Mode { def name: String }
  case object Noop extends Mode { val name = "noop" }
  case object Count extends Mode { val name = "count" }
  /** Each query writes its output as parquet under `to`, for the oracle. */
  final case class Dump(to: Path) extends Mode { val name = "check" }

  /** One op execution; the set-up round is pass -1. */
  final case class Sample(pass: Int, mode: String, traced: Boolean, op: String,
                          wallS: Double, ok: Boolean, heapMb: Double)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val conf = Conf(arg("workload"), arg("seed").toLong, arg("seconds").toDouble,
      arg("trace") == "1", Paths.get(arg("work")).toAbsolutePath, arg("sf"),
      arg("cpus").toInt)
    val ops = Workloads.ops(conf.workload)
    val unknown = ops.collect { case Workloads.Query(n) if !SparkEntry.queries.contains(n) => n }
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val generated = RawInputs.generate(conf.seed, conf.work.resolve("raw"), Workloads.EtlQuarters)
    run(conf, ops, generated)
  }

  /** A fresh directory of links to the testdata tables. Stamped keys its
    * artifacts by this directory's path, so a new namespace misses them all. */
  def namespace(conf: Conf): String = {
    val ns = conf.work.resolve("ns")
    Files.createDirectories(ns)
    Files.list(Paths.get(conf.sf)).forEach { t =>
      if (t.getFileName.toString.endsWith(".parquet"))
        Files.createSymbolicLink(ns.resolve(t.getFileName), t.toAbsolutePath)
    }
    ns.toString
  }

  def session(conf: Conf): SparkSession = {
    // the session settings of graft.Bench, with every path it writes kept
    // inside the run's work directory
    val spark = SparkSession.builder()
      .master(s"local[${conf.cpus}]")
      .config("spark.sql.shuffle.partitions", conf.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.ui.retainedDeadExecutors", "1")
      .config("spark.appStateStore.asyncTracking.enable", "true")
      .config("spark.sql.warehouse.dir", conf.work.resolve("warehouse").toString)
      .config("spark.local.dir", conf.work.resolve("local").toString)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def run(conf: Conf, ops: Seq[Workloads.Op], generated: RawInputs.Generated): Unit = {
    val t0 = System.nanoTime()
    val spark = session(conf)
    val tracer = if (conf.trace) Some(new Tracer(spark, conf.cpus)) else None
    val heapBean = java.lang.management.ManagementFactory.getMemoryMXBean
    val rnd = new Random(conf.seed)
    val samples = ArrayBuffer.empty[Sample]
    val errors = ArrayBuffer.empty[String]
    var opCalls = 0
    /** The marts of the latest materialized pipeline op, checked after the
      * timed passes. */
    var lastMarts: Option[Map[String, String]] = None

    /** One op: the query-function call (construct) and its action, or the
      * pipeline's transforms (construct) and its CSV sink (action). */
    def runOp(op: Workloads.Op, mode: Mode, dir: String, traced: Boolean): (Double, Boolean, Double) = {
      opCalls += 1
      val t = tracer.filter(_ => traced)
      val martsOut = conf.work.resolve(s"marts/$opCalls")
      t.foreach(_.opStart(op.name))
      val start = System.nanoTime()
      val ok = try {
        op match {
          case Workloads.Query(name) =>
            val df = Tracer.span(t, "construct")(SparkEntry.queries(name)(spark, dir))
            Tracer.span(t, "action") {
              mode match {
                case Noop => df.write.format("noop").mode("overwrite").save()
                case Count => df.count()
                case Dump(to) =>
                  df.coalesce(1).write.mode("overwrite").parquet(to.resolve(name).toString)
              }
            }
          case Workloads.Pipeline =>
            val marts = Tracer.span(t, "construct")(pipelineStages(t, generated))
            Tracer.span(t, "action") {
              mode match {
                case Noop | Dump(_) => lastMarts = Some(Tracer.stage(t, "sink")(marts.map {
                  case (seg, df) =>
                    val dir = Sink.timestampedDir(martsOut.toString, seg)
                    Sink.writeCsv(df, dir)
                    seg -> dir
                }))
                case Count => marts.values.foreach(_.count())
              }
            }
        }
        true
      } catch {
        case e: Throwable =>
          errors += s"${op.name}: ${e.getClass.getName}: ${e.getMessage}"
          System.err.println(s"[perfbench] ${op.name} FAILED: ${e.getMessage}")
          false
      }
      val wall = (System.nanoTime() - start) / 1e9
      t.foreach(_.opEnd())
      if (op == Workloads.Pipeline) t.foreach(_.sinkOutput(martsOut))
      // outside the timed window, as graft.Bench does: free cached
      // intermediates and collect, so the next op inherits no heap debt.
      // Local checkpoints are not cached tables; left to the ContextCleaner
      // their blocks go one GC later or not, as its thread happens to run
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // queued listener events hold task metrics and plans until handled
      ListenerBusAccess.drain(spark.sparkContext)
      System.gc()
      val heap = heapBean.getHeapMemoryUsage.getUsed / 1048576.0
      t.foreach(_.heapAfter(heap))
      (wall, ok, heap)
    }

    /** Runner.buildMarts' stages, one public transform at a time, with the
      * NPL export read at its generated width: Runner.buildMarts itself reads
      * it with nplTransform's default of 13 columns (four quarters). */
    def pipelineStages(t: Option[Tracer], g: RawInputs.Generated): Map[String, DataFrame] = {
      val in = g.inputs
      val segments = Tracer.stage(t, "npl")(
        Npl.nplSegments(Npl.nplTransform(spark, in.nplCsv, g.nplColumns)))
      val flowrate = Tracer.stage(t, "flowrate")(Npl.flowrateTransform(spark,
        in.flowrateGrossNewJson, in.flowrateGrossJson, in.flowratePctJson))
      val gdp = Tracer.stage(t, "gdp")(Npl.gdpTransformXlsx(spark, in.gdpPath))
      val inflation = Tracer.stage(t, "inflation")(Npl.inflationTransform(spark, in.inflationCsv))
      val shock = Tracer.stage(t, "shock")(Npl.shockLoad(spark, in.shockCsv))
      val mrr = Tracer.stage(t, "mrr")(Npl.mrrTransform(spark, in.mrrPagesJson))
      val minpay = Tracer.stage(t, "minpay")(Npl.minpayTransform(spark, in.minpayCsv))
      Tracer.stage(t, "assemble")(
        Npl.assembleMarts(segments, flowrate, gdp, inflation, shock, mrr, minpay))
    }

    def pass(index: Int, mode: Mode, dir: String, traced: Boolean): Unit = {
      val order = rnd.shuffle(ops)
      tracer.filter(_ => traced).foreach(_.passStart(index))
      order.foreach { op =>
        val (wall, ok, heap) = runOp(op, mode, dir, traced)
        samples += Sample(index, mode.name, traced, op.name, wall, ok, heap)
      }
      tracer.filter(_ => traced).foreach(_.passEnd())
    }

    // set-up: fresh namespace, then every op once to build its artifacts
    // and write its output for the check, in the workload's own order, so
    // every seed warms up alike
    tracer.foreach(_.setupStart())
    val dir = namespace(conf)
    val check = Files.createDirectories(conf.work.resolve("check"))
    for (op <- ops) {
      val (wall, ok, heap) = runOp(op, Dump(check), dir, traced = true)
      samples += Sample(-1, "check", conf.trace, op.name, wall, ok, heap)
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    tracer.foreach(_.setupEnd(dir))

    // timed passes
    val deadline = System.nanoTime() + (conf.seconds * 1e9).toLong
    var p = 0
    // ending on an untraced materialized pass gives every traced pass one
    // on either side to be compared with
    while (p < MinPasses || System.nanoTime() < deadline || p % 2 == 0) {
      if (conf.trace) pass(p, Noop, dir, traced = p % 2 == 1)
      else pass(p, if (p % 2 == 1) Count else Noop, dir, traced = false)
      p += 1
    }

    // output check, outside the timed passes
    val written = samples.filter(s => s.mode == "check" && s.op != Workloads.Pipeline.name)
    val dumped = written.filter(_.ok).map(_.op)
    val dumpFailed = written.filterNot(_.ok).map(_.op)
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => dumped.contains(k) }
    Files.writeString(check.resolve("oracle_sql.json"), Json.obj(oracle.map {
      case (k, v) => k -> Json.str(v) }.toSeq))
    val pipelineIssues =
      if (!ops.contains(Workloads.Pipeline)) Nil
      else lastMarts.fold(Seq("no pipeline output to check"))(
        Checks.marts(spark, _, generated.expected))

    val perLayer = tracer.map(_.perLayer(samples.toSeq)).getOrElse(Map.empty)
    val json = Json.obj(Seq(
      "workload" -> Json.str(conf.workload),
      "cpus" -> conf.cpus.toString,
      "setup_s" -> Json.num(setupS),
      "samples" -> Json.arr(samples.map(s => Json.obj(Seq(
        "pass" -> s.pass.toString, "mode" -> Json.str(s.mode),
        "traced" -> s.traced.toString, "op" -> Json.str(s.op),
        "wall_s" -> Json.num(s.wallS), "ok" -> s.ok.toString,
        "heap_mb" -> Json.num(s.heapMb))))),
      "errors" -> Json.arr(errors.map(Json.str)),
      "dumped" -> Json.arr(dumped.map(Json.str)),
      "dump_failed" -> Json.arr(dumpFailed.map(Json.str)),
      "pipeline_issues" -> Json.arr(pipelineIssues.map(Json.str)),
      "per_layer" -> Json.obj(perLayer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "spans" -> tracer.fold("[]")(_.spanSummary)))
    Files.writeString(conf.work.resolve("result.json"), json + "\n")
    spark.stop()
  }
}

/** Just enough JSON for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
