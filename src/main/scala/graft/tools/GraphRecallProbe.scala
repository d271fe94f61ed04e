package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Offline recall sweep over (build density × walk budget) for the
  * graph-ANN family — the measurement that picks q187's committed
  * densified operating point (round-17 ask #4b: lift sf1 recall@3 from
  * 0.54 toward ≥ 0.9; q186 proved the walk dial alone plateaus at
  * M=32, so the joint dial is the honest sweep).
  *
  * Usage: runMain graft.tools.GraphRecallProbe [sfDir]
  * Prints one `[grecall]` line per config.
  */
object GraphRecallProbe {

  // (buildProbe, perCell, entries, beam, rounds)
  private val Configs = Seq(
    (8, 4, 8, 16, 6),    // M=32, the round-18 sparse point (read 0.54 at sf1)
    (8, 8, 8, 16, 6),    // M=64 dense
    (16, 4, 8, 16, 6),   // M=64 spread
    (8, 8, 16, 32, 8),   // M=64 dense + wide walk
    (16, 8, 8, 16, 6),   // M=128
    (16, 8, 16, 32, 8))  // M=128 + wide walk — REGISTERED in round 19 (0.92)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf1")
    // `prod` as a trailing arg runs ONLY the registered config — the
    // cheap re-measure for the per-query floor row, vs the full sweep
    val configs = if (args.contains("prod")) Configs.takeRight(1) else Configs
    val spark = graft.Harness.session()
    import spark.implicits._
    val sim = graft.queries.Similarity
    val vecs = graft.Caches.track(
      sim.corpusVecs(spark, dir).select("vec_id", "qa", "n2"))
    val queriesV = vecs.filter(col("vec_id") < sim.NumQueries)
      .select(col("vec_id").as("qid"), col("qa").as("qq"), col("n2").as("n2q"))
    val exact = vecs.crossJoin(broadcast(queriesV))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("dot", expr("graft_dot(qq, qa)"))
      .withColumn("cos", sim.cosine(col("dot"), col("n2q"), col("n2")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= sim.GraphK)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    configs.foreach { case (bp, pc, e, b, r) =>
      val t0 = System.nanoTime()
      val served = sim.graphFrontiers(spark, dir, e, b, r, bp, pc).last
        .toDF("qid", "vec_id")
        .join(vecs, "vec_id").join(broadcast(queriesV), "qid")
        .withColumn("dot", expr("graft_dot(qq, qa)"))
        .withColumn("cos", sim.cosine(col("dot"), col("n2q"), col("n2")))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rnk") <= sim.GraphK)
        .select("qid", "vec_id").collect()
        .map(row => (row.getLong(0), row.getLong(1))).toSet
      val secs = (System.nanoTime() - t0) / 1e9
      val hits = (exact & served).size
      // per-query floor alongside the aggregate: the spec pins ≥ 2/3 at
      // the registered config (GraphAnnSpec), and the BASELINE row
      // records the sf1 floor so a fixture regen can't hide one query's
      // collapse inside a passing 0.9 average
      val perQ = exact.groupBy(_._1).map { case (_, ex) => (ex & served).size }
      println(s"""[grecall] {"probe":$bp,"per_cell":$pc,"m":${bp * pc},"entries":$e,"beam":$b,"rounds":$r,""" +
        s""""hits":$hits,"recall":${math.rint(hits / 24.0 * 1e6) / 1e6},"min_hits":${perQ.min},"sec":${math.round(secs * 100) / 100.0}}""")
    }
    spark.stop()
  }
}
