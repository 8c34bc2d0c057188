package graft

/** Measurement tool (optimization rounds): per-JOB decomposition of one
  * catalog query — where do a multi-action operator's seconds go?
  * Runs the query once unmeasured (warm-up), then once with a listener
  * recording every Spark job's wall time, stage count, task count and
  * shuffle bytes. The per-job table is the scheduling-floor evidence
  * the suffix-family analysis rests on (guide §1: measure first).
  *
  * Usage: runMain graft.ProfileQuery <sfDir> <q1[,q2,...]> [runs]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val runs = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, appName = "graft-profile")
    spark.sparkContext.setLogLevel("ERROR")

    final case class J(id: Int, start: Long, var end: Long = -1L,
      var stages: Int = 0, var tasks: Int = 0,
      var shRead: Long = 0L, var shWrite: Long = 0L,
      var desc: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    // stage id -> the first job whose start event lists it (AQE
    // broadcast and subquery jobs overlap their parent)
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val stageTasks = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var recording = false
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (recording) {
            val j = J(e.jobId, e.time)
            j.desc = Option(e.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse("")
            j.stages = e.stageInfos.size
            e.stageIds.foreach(stageJob.putIfAbsent(_, j))
            jobs.put(e.jobId, j)
          }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val j = jobs.get(e.jobId)
          if (j != null) j.end = e.time
        }
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = s.stageInfo.taskMetrics
          val j = stageJob.get(s.stageInfo.stageId)
          if (recording) stageTasks.addAndGet(s.stageInfo.numTasks)
          if (m != null && j != null) {
            j.tasks += s.stageInfo.numTasks
            j.shRead += m.shuffleReadMetrics.totalBytesRead
            j.shWrite += m.shuffleWriteMetrics.bytesWritten
          }
        }
      })

    names.foreach { name =>
      val fn = SparkEntry.benchForm.getOrElse(name, SparkEntry.queries(name))
      // warm-up (classloading/codegen/page cache)
      spark.sparkContext.setJobDescription(s"warmup $name")
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (1 to runs).foreach { r =>
        jobs.clear()
        stageJob.clear()
        stageTasks.set(0)
        recording = true
        spark.sparkContext.setJobDescription(s"measure $name")
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val total = (System.nanoTime() - t0) / 1e9
        org.apache.spark.GraftListenerFlush.flush(spark.sparkContext)
        recording = false
        spark.sparkContext.setJobDescription(null)
        import scala.jdk.CollectionConverters._
        val js = jobs.values.asScala.toSeq.sortBy(_.id)
        val sumJ = js.map(j => math.max(0L, j.end - j.start)).sum / 1e3
        println(f"== $name run $r: total $total%.2fs over ${js.size} jobs " +
          f"(sum of job walls $sumJ%.2fs; gap ${total - sumJ}%.2fs driver-side; " +
          s"tasks billed ${js.map(_.tasks).sum} of ${stageTasks.get} in completed stages)")
        js.foreach { j =>
          val d = math.max(0L, j.end - j.start) / 1e3
          println(f"  job ${j.id}%4d  $d%7.3fs  stages=${j.stages}%2d " +
            f"tasks=${j.tasks}%4d shR=${j.shRead}%9d shW=${j.shWrite}%9d " +
            s" ${j.desc.take(90)}")
        }
      }
    }
    spark.stop()
  }
}
