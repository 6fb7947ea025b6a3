package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** The library's whole SQL-callable function surface in one place, so it
  * can be installed two ways with ONE list:
  *
  *   - per session: [[register]] (temp functions — what the operator
  *     modules call lazily at their use sites);
  *   - cluster-wide: [[graft.plans.GraftExtensions]] injects every entry
  *     through `SparkSessionExtensions.injectFunction`, which is how a
  *     SQL-only deployment (thrift server / `spark-sql` / a notebook
  *     gateway with `spark.sql.extensions=graft.plans.GraftExtensions`)
  *     gets `portable_hash(...)` etc. without any Scala call — the
  *     injected entries live in every session state built on that
  *     context, including `spark.newSession()` clones.
  *
  * Each builder validates its argument list at ANALYSIS time (arity,
  * literal-ness of sketch widths), so a bad SQL call fails as a signature
  * error, not a runtime ClassCastException.
  */
object GraftFunctions {

  /** (function name, implementing class for EXPLAIN/DESCRIBE info,
    * analysis-time builder).
    */
  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("portable_hash", classOf[PortableHash].getName, TextHash.builder),
    ("nfc_normalize", classOf[NfcNormalize].getName, NfcNormalize.builder),
    ("cosine_sim", classOf[CosineSim].getName, Vectors.cosineBuilder),
    ("dot_product", classOf[DotProduct].getName, Vectors.dotBuilder),
    ("zorder_key", classOf[ZOrderKey].getName, ZOrder.builder),
    ("word_shingles", classOf[WordShingles].getName, WordShingles.builder),
    ("gram_agg", classOf[GramAgg].getName, GramAgg.builder),
    ("graft_bloom_agg",
      "org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate",
      Bloom.aggBuilder),
    ("graft_might_contain",
      "org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain",
      Bloom.mightContainBuilder))

  /** Register every graft function on a live session at once (idempotent;
    * the per-module `register` calls remain for piecemeal use).
    */
  def register(s: SparkSession): Unit = {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    all.foreach { case (name, _, builder) =>
      castToImpl(s).sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
