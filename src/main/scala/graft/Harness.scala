package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every graft main shares: the local session and the cold-cache
  * noop timing that Bench, TimeQuery and the probes measure with. */
object Harness {

  /** Local cores, and shuffle partitions: SPARK_GRAFT_CPUS, default 4. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The local[cpus] session with graft's extensions, UTC, no UI and WARN
    * logging. `conf` adds per-main settings on top. */
  def session(conf: (String, String)*): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config(conf.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Seconds to build `df` and run it through the noop sink, with no
    * cache of an earlier run left to reuse. The noop sink forces the full
    * plan (a bare count() would let Catalyst prune projections away). */
  def noopSeconds(spark: SparkSession)(df: => DataFrame): Double = {
    Caches.release()           // tracked caches of the previous run
    spark.catalog.clearCache() // and anything cached outside them
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
}
