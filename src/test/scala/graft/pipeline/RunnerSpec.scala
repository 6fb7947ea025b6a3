package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

class RunnerSpec extends AnyFunSuite with SparkSuite {

  private def inputs = NplTestKit.fixtureInputs(fixture)

  test("full extract→transform→load run writes three readable marts") {
    val outBase = java.nio.file.Files.createTempDirectory("graft_run").toString
    var written = Map.empty[String, String]
    // the CSV sink creates its directories, part files, .crc files and
    // commit markers without forking a process per file
    graft.Forks.assertNoFsForks(graft.Forks.during {
      written = Runner.run(spark, inputs, outBase)
    })
    assert(written.keySet == Set("housing", "automobile", "credit_card"))
    written.foreach { case (seg, dir) =>
      assert(dir.startsWith(s"$outBase/${seg}_processed_"))
      val back = spark.read.option("header", "true").csv(dir)
      assert(back.count() > 0)
    }
    // the housing mart survives the CSV round-trip with its golden cell
    val housing = spark.read.option("header", "true").csv(written("housing"))
    val q1 = housing.filter(housing("Quarter") === "2013-Q1").collect().head
    assert(math.abs(q1.getAs[String]("% to Total Loans").toDouble - 0.0234) < 1e-9)
    assert(q1.getAs[String]("Gross NPL").toDouble == 32076.0)
  }
}
