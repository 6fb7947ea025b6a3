package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** Exact, unscalable formulations the specs hold the production operators
  * to. None of them runs in a query: each is the plain declarative answer
  * that a native aggregate or a banded candidate path must reproduce.
  */
object References {

  /** All-pairs near-duplicates above a cosine threshold, as an O(n²)
    * nested-loop product — the exact baseline for
    * [[graft.sim.Similarity.nearDupPairsBanded]].
    */
  def nearDupPairs(s: SparkSession, emb: DataFrame, threshold: Double): DataFrame = {
    val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), Vectors.cosineSim(s, "ea", "eb").as("sim"))
      .filter(col("sim") > threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** The declarative formulation of [[graft.sim.Similarity.gramUpper]]
    * (nested array transform → explode → (i, j) aggregate): the reference
    * the native [[graft.functions.GramAgg]] must reproduce exactly.
    */
  def gramUpper(emb: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol)
    val entries = filter(
      flatten(transform(v, (xi, i) =>
        transform(v, (xj, j) =>
          struct(i.as("i"), j.as("j"),
            floor(xi.cast("double") * xj.cast("double") * lit(1e12)).as("p12"))))),
      e => e("j") >= e("i"))
    emb.select(explode(entries).as("e"))
      .groupBy(col("e.i").as("i"), col("e.j").as("j"))
      .agg(sum(col("e.p12")).as("g12"))
      .select(col("i"), col("j"), col("g12"),
        (col("g12").cast("double") / lit(1e12)).as("g"))
  }
}
