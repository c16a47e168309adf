package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Diagnostic main (guide §1.1 empirical loop, headless stand-in for the
  * Spark UI): run ONE declared query and print every Spark job it
  * schedules — wall duration, stage count, task count, shuffle bytes —
  * so per-query time decomposes into "which job/stage actually costs".
  * Usage: runMain graft.tools.JobProfile <query> [sfDir] [reps]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    val fn = graft.SparkEntry.queries(name)
    def run(): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // rep 0 warms JIT/codegen; later reps are profiled
    for (r <- 0 until reps) {
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val stageTasks = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          jobs.put(js.jobId, (js.time, desc)): Unit
        }
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          stageTasks.addAndGet(sc.stageInfo.numTasks.toLong)
          if (r > 0) {
            val si = sc.stageInfo
            val ms = (for (a <- si.completionTime; b <- si.submissionTime)
              yield a - b).getOrElse(-1L)
            lines.add(f"  stage ${si.stageId}%4d ${ms}%6d ms ${si.numTasks}%4d tasks  ${si.name.take(90)}"): Unit
          }
        }
        override def onJobEnd(je: SparkListenerJobEnd): Unit = {
          Option(jobs.get(je.jobId)).foreach { case (t0, desc) =>
            val ms = je.time - t0
            if (r > 0)
              lines.add(f"  job ${je.jobId}%4d ${ms}%6d ms  $desc"): Unit
          }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val wall = run()
      Thread.sleep(300) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"=== $name rep $r wall ${wall}%.3f s  tasks ${stageTasks.get}")
      if (r > 0) {
        import scala.jdk.CollectionConverters._
        lines.asScala.toSeq.sorted.foreach(println)
      }
    }
    spark.stop()
  }
}
