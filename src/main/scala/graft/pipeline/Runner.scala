package graft.pipeline

import org.apache.spark.sql.SparkSession

/** End-to-end pipeline runner — the reference's `main` flow (extract →
  * transform → load, README.md:38-60, src/ETL-NPL-Pipeline.py:460-793) as
  * one library call: a user of the reference points this at their raw
  * inputs and gets the same three marts.
  */
object Runner {

  /** Raw-input locations (the reference's hard-coded paths + API fetches,
    * src:464,513,523,560,586; API payloads arrive pre-staged as JSON files
    * in a zero-egress deployment).
    */
  case class Inputs(
      nplCsv: String,
      flowrateGrossNewJson: String,
      flowrateGrossJson: String,
      flowratePctJson: String,
      gdpPath: String,
      gdpIsXlsx: Boolean,
      inflationCsv: String,
      mrrPagesJson: Seq[String],
      minpayCsv: String,
      shockCsv: String)

  /** Extract + transform + assemble; returns the three marts, unwritten
    * (callers choose the sink). They share one lazily checkpointed panel
    * ([[Npl.assembleMarts]]): this runs the panel's shuffle stages, the
    * first mart action computes the panel and the others read it.
    */
  def buildMarts(s: SparkSession, in: Inputs): Map[String, org.apache.spark.sql.DataFrame] = {
    val segments = Npl.nplSegments(Npl.nplTransform(s, in.nplCsv))
    val flowrate = Npl.flowrateTransform(s, in.flowrateGrossNewJson,
      in.flowrateGrossJson, in.flowratePctJson)
    val gdp = if (in.gdpIsXlsx) Npl.gdpTransformXlsx(s, in.gdpPath)
      else Npl.gdpTransform(s, in.gdpPath)
    Npl.assembleMarts(
      segments, flowrate, gdp,
      Npl.inflationTransform(s, in.inflationCsv),
      Npl.shockLoad(s, in.shockCsv),
      Npl.mrrTransform(s, in.mrrPagesJson),
      Npl.minpayTransform(s, in.minpayCsv))
  }

  /** Full run: build marts and write one timestamped CSV per segment
    * (reference sink loop src:769-793). Returns segment -> output dir.
    */
  def run(s: SparkSession, in: Inputs, outBase: String): Map[String, String] =
    buildMarts(s, in).map { case (seg, df) =>
      val dir = Sink.timestampedDir(outBase, seg)
      Sink.writeCsv(df, dir)
      seg -> dir
    }
}
