package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** The cluster-install path: `GraftExtensions` must carry the WHOLE SQL
  * surface. `spark.newSession()` builds a fresh session state from the
  * context's extensions and does NOT inherit temp functions, so resolving
  * there proves injection — a function that only works because some
  * operator module called `register()` on the shared session would fail.
  */
class GraftExtensionsSpec extends AnyFunSuite with SparkSuite {

  test("every graft function resolves in a fresh session with no register call") {
    val fresh = spark.newSession()
    val row = fresh.sql(
      """SELECT portable_hash('abc')                          AS h,
        |       nfc_normalize('é')                      AS nfc,
        |       cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS cos,
        |       dot_product(array(2.0F, 3.0F), array(4.0F, 5.0F)) AS dot,
        |       zorder_key(3L, 5L)                            AS z
        |""".stripMargin).collect().head
    // base-31 polynomial over code points mod 2^31-1: 97*31² + 98*31 + 99
    assert(row.getLong(0) == 96354L)
    assert(row.getString(1) == "é")
    assert(math.abs(row.getDouble(2) - 1.0) < 1e-12)
    assert(math.abs(row.getDouble(3) - 23.0) < 1e-12)
    // bit k of left at 2k, bit k of right at 2k+1: 3=0b11→0b0101, 5=0b101→0b100010
    assert(row.getLong(4) == ((1L | (1L << 2)) | ((1L | (1L << 4)) << 1)))

    val shingled = fresh.sql(
      "SELECT word_shingles(array('a','b','c'), 2) AS sh").collect().head
    assert(shingled.getSeq[String](0) == Seq("a b", "b c"))

    // the aggregate: the d=2 Gram upper triangle arity proves a
    // TypedImperativeAggregate resolves and runs through the injected path
    val gram = fresh.sql(
      """SELECT gram_agg(v) AS g
        |FROM (SELECT array(1.0D, 2.0D) AS v)""".stripMargin).collect().head
    assert(gram.getSeq[Long](0).length == 3)

    val bloom = fresh.sql(
      """SELECT graft_might_contain(
        |  (SELECT graft_bloom_agg(xxhash64(k), 10L)
        |   FROM (SELECT explode(array('a','b')) AS k)),
        |  xxhash64('a')) AS hit""".stripMargin).collect().head
    assert(bloom.getBoolean(0))
  }

  test("the optimizer rule rides along: quarter-key filter prunes the scan") {
    // NO install() call — the fresh session has the rule only if the
    // extension injected it
    val fresh = spark.newSession()
    val df = fresh.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .filter(graft.ops.Scalar.toQuarter(col("o_orderdate")) === "1996-Q2")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("GreaterThanOrEqual(o_orderdate") &&
      physical.contains("LessThan(o_orderdate"),
      s"no pushed range filter in plan:\n$physical")
  }
}
