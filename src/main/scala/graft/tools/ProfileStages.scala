package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._

/** Scratch per-stage profile of one registry query (guide §1/§7): runs the
  * query in the Bench session ([[graft.GraftSession]], warmup at sf0.01,
  * noop sink) and prints, for the timed run, one row per stage — wall
  * time, task count, summed task time, GC time, shuffle fetch-wait /
  * bytes — plus job-count and driver-gap totals. Answers "where does the
  * time go at N cores" empirically instead of by plan inspection. Not
  * part of the library surface.
  *
  * Usage: runMain graft.tools.ProfileStages <query> [sfDir] [runs]
  */
object ProfileStages {
  private case class StageRow(
      id: Int,
      name: String,
      nTasks: Int,
      wallMs: Long,
      taskMs: Long,
      cpuMs: Long,
      gcMs: Long,
      fetchWaitMs: Long,
      shufReadMB: Double,
      shufWriteMB: Double)

  def main(args: Array[String]): Unit = {
    val qname = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = graft.GraftSession.fromEnv()
    val cpus = spark.sparkContext.defaultParallelism

    val stages = new ConcurrentLinkedQueue[StageRow]()
    @volatile var jobs = 0
    @volatile var jobMs = 0L
    @volatile var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobStart.put(j.jobId, j.time)
      override def onJobEnd(j: SparkListenerJobEnd): Unit = if (collecting) {
        jobs += 1
        val t0 = jobStart.remove(j.jobId)
        if (t0 != 0L) jobMs += j.time - t0
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (collecting) {
          val si = sc.stageInfo
          val m = si.taskMetrics
          stages.add(StageRow(
            si.stageId,
            si.name.takeWhile(_ != '\n').take(70),
            si.numTasks,
            (for {a <- si.completionTime; b <- si.submissionTime}
              yield a - b).getOrElse(0L),
            m.executorRunTime,
            m.executorCpuTime / 1000000L,
            m.jvmGCTime,
            m.shuffleReadMetrics.fetchWaitTime,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6))
        }
    })

    // in-process stack sampler: histograms the top frames of executor
    // task threads while timed runs execute (poor-man's async-profiler;
    // answers "blocked on WHAT" when task time >> cpu time)
    // SPARK_GRAFT_SAMPLE=1 turns the sampler on — Thread.getAllStackTraces
    // is a safepoint op, so 3 ms sampling inflates wall times ~1.5-2×;
    // use it to find WHERE time goes, never to report HOW MUCH
    val frames = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = sys.env.get("SPARK_GRAFT_SAMPLE").contains("1")
    val sampler = new Thread(() => {
      while (sampling) {
        val all = Thread.getAllStackTraces
        all.forEach { (t, st) =>
          // local-mode thread names carry "... in stage N.M (TID k)" —
          // prefix the histogram key so hot frames attribute to stages;
          // skip idle pool threads parked on the executor's queue (they
          // keep the LAST task's name and would mis-attribute)
          val idle = st.nonEmpty && st.head.getMethodName == "park" &&
            st.exists(_.getClassName.contains("SynchronousQueue"))
          if (t.getName.startsWith("Executor task launch") && st.nonEmpty
            && !idle) {
            val stg = "in stage ([0-9]+)".r.findFirstMatchIn(t.getName)
              .map(m => s"s${m.group(1)}").getOrElse("s?")
            val key = stg + " " + t.getState + " " +
              st.take(10).map(e => e.getClassName + "." + e.getMethodName)
                .mkString(" <- ")
            frames.merge(key, 1, (a, b) => a + b)
          }
        }
        Thread.sleep(3)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    val fn = graft.SparkEntry.queries(qname)
    val warmDir = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.001")
      .find(d => new java.io.File(d).isDirectory).getOrElse(sfDir)
    fn(spark, warmDir).write.format("noop").mode("overwrite").save()
    // timed, profiled runs
    var best = Double.MaxValue
    (1 to runs).foreach { i =>
      stages.clear(); jobs = 0; jobMs = 0L
      collecting = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val el = (System.nanoTime() - t0) / 1e9
      collecting = false
      best = math.min(best, el)
      println(f"== $qname run$i: $el%.2f s  jobs=$jobs jobWall=${jobMs / 1e3}%.2f s " +
        f"driverGap=${el - jobMs / 1e3}%.2f s (cpus=$cpus, $sfDir)")
      import scala.jdk.CollectionConverters._
      val rows = stages.asScala.toSeq.sortBy(-_.wallMs)
      println(f"${"stage"}%6s ${"wall_s"}%7s ${"tasks"}%5s ${"task_s"}%7s " +
        f"${"cpu_s"}%7s ${"gc_s"}%6s ${"fetch_s"}%7s ${"rdMB"}%7s ${"wrMB"}%7s  name")
      rows.take(25).foreach { r =>
        println(f"${r.id}%6d ${r.wallMs / 1e3}%7.2f ${r.nTasks}%5d " +
          f"${r.taskMs / 1e3}%7.2f ${r.cpuMs / 1e3}%7.2f " +
          f"${r.gcMs / 1e3}%6.2f ${r.fetchWaitMs / 1e3}%7.2f " +
          f"${r.shufReadMB}%7.1f ${r.shufWriteMB}%7.1f  ${r.name}")
      }
      val tTask = rows.map(_.taskMs).sum / 1e3
      val tGc = rows.map(_.gcMs).sum / 1e3
      val tWall = rows.map(_.wallMs).sum / 1e3
      println(f"== totals: stages=${rows.size} stageWall=$tWall%.2f s " +
        f"taskTime=$tTask%.2f s gc=$tGc%.2f s (${100 * tGc / math.max(tTask, 1e-9)}%.0f%% of task time)")
    }
    println(f"== $qname min: $best%.2f s")
    sampling = false
    import scala.jdk.CollectionConverters._
    println("== top task-thread stack samples (state + 3 frames):")
    frames.asScala.toSeq.sortBy(-_._2).take(20).foreach { case (k, n) =>
      println(f"$n%6d  $k")
    }
    spark.stop()
  }
}
