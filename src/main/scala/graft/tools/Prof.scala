package graft.tools

/** Ad-hoc single-query profiler: runMain graft.tools.Prof <name> <sfDir> [explain] */
object Prof {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.Harness.session()
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup
    // Scheduler-shape listener: how much of the wall is executor compute
    // vs driver-side latency (planning, codegen, job scheduling). A query
    // whose wall ≫ cpu/cores is driver-bound — the shape that inflates on
    // a host with slow/contended driver cores.
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val cpuMs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val si = s.stageInfo
        val cpu = si.taskMetrics.executorCpuTime / 1e9
        if (cpu > 0.2 || sys.env.contains("GRAFT_PROF_ALL")) {
          // AQE stage names are all withThreadLocalCaptured; the details
          // stack still carries the graft call site that defined the RDD
          val site = si.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("graft.tools."))
            .map(_.trim.stripPrefix("at "))
            .getOrElse(si.rddInfos.map(_.name).distinct.mkString(",").take(140))
          println(f"[prof-stage] id=${si.stageId} cpu=$cpu%.2fs tasks=${si.numTasks} " +
            f"${si.name.takeWhile(_ != '\n').take(60)} | $site")
        }
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          runMs.addAndGet(m.executorRunTime)
          cpuMs.addAndGet(m.executorCpuTime / 1000000)
          gcMs.addAndGet(m.jvmGCTime)
        }
      }
    })
    // batch mode: every comma-free arg that names a catalog query after
    // the first is profiled in the same session (one JVM spin-up for a
    // whole sweep) — args(0) stays the first query for compatibility.
    val names = (Seq(name) ++ args.drop(1).filter(graft.SparkEntry.queries.contains)).distinct
    names.foreach { nm =>
      val fn = graft.SparkEntry.queries(nm)
      if (args.contains("explain")) fn(spark, sfDir).explain("formatted")
      (1 to 2).foreach { i =>
        Seq(jobs, stages, tasks).foreach(_.set(0)); Seq(runMs, cpuMs, gcMs).foreach(_.set(0))
        val wall = graft.Harness.noopSeconds(spark)(fn(spark, sfDir)) // as Bench times it
        Thread.sleep(300) // let the listener bus drain before reading counters
        println(f"[prof] $nm run$i: $wall%.2f s  jobs=${jobs.get} stages=${stages.get} " +
          f"tasks=${tasks.get} execRun=${runMs.get / 1e3}%.1fs execCpu=${cpuMs.get / 1e3}%.1fs gc=${gcMs.get / 1e3}%.1fs")
      }
    }
    spark.stop()
  }
}
