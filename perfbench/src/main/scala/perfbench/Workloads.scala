package perfbench

/** The ops of each workload; BENCHMARK.json records why each was chosen. */
object Workloads {
  sealed trait Op { def name: String }
  final case class Query(name: String) extends Op
  /** The ETL pipeline on the generated raw inputs: `Runner.buildMarts`'
    * public stages (every `Npl` transform, then `assembleMarts`) and one
    * `Sink.writeCsv` per mart. Not `Runner.run` itself: it reads the NPL
    * export as 13 columns (four quarters) and drops every later quarter. */
  case object Pipeline extends Op { val name = "pipeline_run" }

  /** Quarters of generated raw input behind the `etl` workload's pipeline.
    * At the reference's 50 (146 MRR pages) one warm run takes about 21 s on
    * 4 cores, more than a benchmark run can repeat. */
  val EtlQuarters = 5

  private def queries(names: String): Seq[Op] =
    names.trim.split("\\s+").toSeq.map(Query(_))

  val all: Map[String, Seq[Op]] = Map(
    "etl" -> Seq(Pipeline, Query("q_stream_sessionize")),
    "iterative_similarity" -> queries(
      "q_pagerank q_label_prop q_jaccard_prefix q_exact_substr"))

  def ops(workload: String): Seq[Op] = all.getOrElse(workload,
    throw new IllegalArgumentException(
      s"unknown workload $workload (known: ${all.keys.toSeq.sorted.mkString(", ")})"))
}
