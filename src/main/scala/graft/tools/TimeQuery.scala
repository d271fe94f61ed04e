package graft.tools

/** Time named catalog queries on a data dir — best-of-2 through the noop
  * sink, cold caches, the Bench methodology. For targeted plan
  * experiments where running the whole catalog would drown the signal.
  *
  * Usage: runMain graft.tools.TimeQuery <dir> <query>...
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val names = args.tail.toSeq
    val spark = graft.Harness.session()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val times = names.map { q =>
      val fn = graft.SparkEntry.queries(q)
      q -> (1 to 2).map(_ => graft.Harness.noopSeconds(spark)(fn(spark, dir))).min
    }
    val qs = times.map { case (q, t) => s""""$q":${math.round(t * 1000) / 1000.0}""" }.mkString(",")
    println(s"""[time] {"dir":"$dir",$qs}""")
    spark.stop()
  }
}
