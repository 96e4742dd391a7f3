package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Throwaway profiling/probe main — reshaped per investigation; not part
  * of the library surface. Current shape (round 14 optimization): run the
  * named queries once each under a job listener and print a per-job
  * breakdown — duration, task count, shuffle bytes, and the first
  * graft-frame call site — to find where a slow query's wall-clock goes.
  *
  * usage: graft.Probe [--sf=dir] query [query ...]
  */
object Probe {
  private case class JobRec(id: Int, desc: String, site: String,
                            var ms: Long = -1, var tasks: Int = 0,
                            var shufR: Long = 0, var shufW: Long = 0,
                            var started: Long = 0)

  def main(args: Array[String]): Unit = {
    val (flags, names) = args.partition(_.startsWith("--"))
    flags.filterNot(f => f.startsWith("--sf=")).foreach { f =>
      sys.error(s"unknown flag '$f' — usage: graft.Probe [--sf=dir] query ...")
    }
    val dir = flags.find(_.startsWith("--sf=")).map(_.drop(5))
      .getOrElse("/root/testdata/sf0.1")
    names.foreach { n =>
      require(SparkEntry.queries.contains(n), s"unknown query '$n'")
    }
    val spark = SparkEntry.session()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    // exact stage->job attribution: SparkListenerJobStart.stageIds gives
    // the mapping up front (AQE runs overlapping jobs within one action,
    // so "newest unfinished job" misattributes)
    val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        val r = JobRec(e.jobId, desc, site)
        r.started = e.time
        jobs.put(e.jobId, r)
        e.stageIds.foreach(sid => stageOwner.put(sid, r))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId)
        if (r != null) r.ms = e.time - r.started
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        val r = stageOwner.get(e.stageInfo.stageId)
        if (r != null && m != null) {
          r.tasks += e.stageInfo.numTasks
          r.shufR += m.shuffleReadMetrics.totalBytesRead
          r.shufW += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // listener events are delivered asynchronously: after an action
    // returns, wait until every job-end and stage-completed event posted
    // so far has been processed
    def drain(): Unit =
      org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)

    Tables.names.foreach(t => Tables.load(spark, dir, t).count()) // warm
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    names.foreach { n =>
      // run 1: warm (JIT/codegen); run 2: profiled
      noop(SparkEntry.queries(n)(spark, dir))
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      drain()
      jobs.clear()
      stageOwner.clear()
      val t0 = System.nanoTime()
      noop(SparkEntry.queries(n)(spark, dir))
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      drain()
      import scala.jdk.CollectionConverters._
      val rs = jobs.values().asScala.toSeq.sortBy(_.id)
      val sumMs = rs.map(_.ms.max(0)).sum
      println(f"\n===== $n  wall=$wall%.2f s  jobs=${rs.size}  jobSum=${sumMs / 1e3}%.2f s =====")
      rs.foreach { r =>
        println(f"job ${r.id}%4d ${r.ms}%6d ms tasks=${r.tasks}%4d shufR=${r.shufR}%9d shufW=${r.shufW}%9d  ${r.site.take(70)}")
      }
    }
    spark.stop()
  }
}
