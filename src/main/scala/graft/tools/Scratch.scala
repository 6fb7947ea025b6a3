package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Dev scratchpad: repeated warm timings for the queries under
  * investigation (`runMain graft.tools.Scratch <sfDir> [query...]`), or
  * their jobs (`<sfDir> jobs query...`), on `local[4]` with Bench's
  * extensions. Not part of the library surface.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[scratch] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }

    // Job-count attribution: per-job fixed overhead dominates the small
    // queries, so the lever is JOBS AND EXCHANGES REMOVED. Per warm query
    // and round, the time, jobs and stages of building the frame (eager
    // work inside the query function) and, apart, of its noop write, which
    // materializes what `count()` would let Catalyst prune.
    if (args.length > 1 && args(1) == "jobs") {
      import org.apache.spark.scheduler.{SparkListenerJobStart, SparkListenerStageCompleted}
      import java.util.concurrent.atomic.AtomicInteger
      val jobs = new AtomicInteger; val stages = new AtomicInteger
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      })
      def phase[T](body: => T): (T, String) = {
        jobs.set(0); stages.set(0)
        val t0 = System.nanoTime()
        val out = body
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(600) // listener bus drain
        (out, f"$dt%6.2f s jobs=${jobs.get}%3d stages=${stages.get}%4d")
      }
      def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      val names = args.drop(2).toSeq
      for (name <- names) { // warm pass: artifacts + codegen
        noop(SparkEntry.queries(name)(spark, sfDir)); spark.catalog.clearCache()
      }
      for (round <- 1 to 4; name <- names) {
        val (df, construct) = phase(SparkEntry.queries(name)(spark, sfDir))
        val (_, action) = phase(noop(df))
        println(s"[jobs] ${name.padTo(28, ' ')} r$round construct $construct | noop $action")
        spark.catalog.clearCache()
      }
      spark.stop(); return
    }
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_dedup_embed_groups", "q_dedup_keep_best")
    for (round <- 1 to 4; name <- names) {
      t(s"$name r$round")(SparkEntry.queries(name)(spark, sfDir).count())
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
