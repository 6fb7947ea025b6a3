package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Dev scratchpad: repeated warm timings for the queries under
  * investigation (`runMain graft.tools.Scratch <sfDir> [query...]`).
  * Not part of the library surface.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[scratch] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }

    // Job-count attribution: at sf0.1 the top queries sit in a flat
    // 1.8–3.7 s band on µs-sized data — the cost is Spark-job fixed
    // overhead (scheduling + codegen + 32-partition shuffles of tiny
    // frames), so the optimization lever is JOBS AND EXCHANGES REMOVED,
    // and this mode is what measures it: per warm query, the number of
    // jobs, stages, tasks, and shuffle bytes.
    if (args.length > 1 && args(1) == "jobs") {
      import org.apache.spark.scheduler.{SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
      import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
      val jobs = new AtomicInteger; val stages = new AtomicInteger
      val tasks = new AtomicInteger; val shw = new AtomicLong
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
          tasks.incrementAndGet()
          if (e.taskMetrics != null) shw.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
      })
      val names = args.drop(2).toSeq
      for (name <- names) { // warm pass: artifacts + codegen
        SparkEntry.queries(name)(spark, sfDir).count(); spark.catalog.clearCache()
      }
      for (name <- names) {
        Thread.sleep(400)
        jobs.set(0); stages.set(0); tasks.set(0); shw.set(0)
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(600) // listener bus drain
        println(f"[jobs] $name%-28s $dt%6.2f s jobs=${jobs.get}%3d stages=${stages.get}%4d " +
          f"tasks=${tasks.get}%5d shufW=${shw.get >> 10}%8dKB rows=$n")
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
