package graft.tools

import graft.SparkEntry
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job/stage wall attribution for ONE registered query: runs the
  * query through the bench's noop-sink methodology (one warm-up, one
  * timed run) with a listener that prints every job's wall and every
  * stage's task-time sum, so a multi-job query's cost decomposes
  * without the (disabled) UI. Usage:
  *   runMain graft.tools.QueryProfile <query> [sfDir]
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val q = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.LocalSpark.session()
    spark.sparkContext.setLogLevel("WARN")
    def once(): Double = {
      graft.search.TextSearch.clearRouterMemo()
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm-up
    System.gc()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(js.jobId, (js.time, desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { case (t0, desc) =>
          println(f"[job] id=${je.jobId}%3d wall=${(je.time - t0) / 1000.0}%7.2fs  $desc")
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for (a <- si.completionTime; b <- si.submissionTime)
          yield (a - b) / 1000.0).getOrElse(-1.0)
        println(f"[stage] id=${si.stageId}%3d wall=$wall%7.2fs tasks=${si.numTasks}%4d " +
          f"shufRead=${si.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
          f"shufWrite=${si.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB  " +
          si.name)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t = once()
    spark.sparkContext.removeSparkListener(listener)
    println(f"[total] $q timed=$t%.2fs")
    spark.stop()
  }
}
