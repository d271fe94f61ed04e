package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files => JFiles, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its raw figures for `run.py`:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> [--size full|tiny]
  *
  * Set-up (a fresh Spark session and the seeded inputs) happens three
  * times and each is timed; the last set-up's session then runs the
  * workload's warm-up passes, if it has any, and measured passes until
  * `seconds` have elapsed. With `--trace 1` every measured pass is
  * traced. Output: `result.json`, `spans.jsonl`, `jobs.jsonl` in `--work`.
  */
object Main {
  val Setups = 3

  def workload(name: String, tiny: Boolean): Workload = name match {
    case "etl_lifecycle" => new EtlLifecycle(if (tiny) 1 else 2, if (tiny) 8 else 60, 1)
    case "api_lookup" => new ApiLookup(if (tiny) 0.001 else 0.01)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(s: SparkSession): Unit = {
    graft.Caches.release() // graft's tracked caches outlive a session otherwise
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Heap still in use once Spark has handled every pending event and two
    * full collections (the second after Spark's cleaner has dropped what
    * the first released) have run. */
  private def liveHeapMb(spark: SparkSession): Double = {
    org.apache.spark.BusDrain(spark.sparkContext)
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath.toString
    val wl = workload(name, opts.getOrElse("size", "full") == "tiny")
    val runId = s"$name-$seed-${System.currentTimeMillis()}"

    val setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    var dir = ""
    for (k <- 1 to Setups) {
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(work)
      dir = s"$work/setup$k"
      wl.setup(spark, dir, seed)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val ctx = new Ctx(spark, new Tracer(spark.sparkContext, runId))
    for (w <- 1 to wl.warmupPasses) {
      try wl.pass(ctx, dir, -w)
      catch { case e: Exception => ctx.abort(e) }
    }

    final case class Pass(index: Int, ops: Seq[Op], heapMb: Double)
    val passes = mutable.ArrayBuffer[Pass]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    ctx.tr.enable(trace)
    while (passes.isEmpty || System.nanoTime() < deadline) {
      val i = passes.size
      ctx.tr.pass = i
      ctx.ops.clear()
      try wl.pass(ctx, dir, i)
      catch { case e: Exception => ctx.abort(e) }
      passes += Pass(i, ctx.ops.toList, liveHeapMb(spark))
    }
    ctx.tr.enable(false)

    val out = Paths.get(work)
    ctx.tr.writeSpans(out.resolve("spans.jsonl"))
    ctx.tr.writeJobs(out.resolve("jobs.jsonl"))
    val result = Json.obj(
      "workload" -> name, "seed" -> seed, "run" -> runId, "trace" -> trace,
      "dir" -> dir,
      "setup_s" -> setupS.toList,
      "passes" -> passes.map(p => Json.obj("index" -> p.index, "heap_mb" -> p.heapMb,
        "ops" -> p.ops.map(o => Json.obj("name" -> o.name, "ms" -> o.ms, "rows" -> o.rows)))),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed, "failures" -> ctx.failures,
      "extras" -> wl.extras(dir))
    JFiles.writeString(out.resolve("result.json"), result.json)
    stop(spark)
  }
}
