package graft.tools

import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan census over the whole catalog: for every registered
  * query, count the operators that decide whether a plan survives a
  * 100× scale-up — shuffle exchanges, broadcast exchanges, sorts,
  * join strategies, window operators (flagging partition-less ones),
  * and whole-stage-codegen spans — and write the table to PLANS.md.
  *
  * The census is the mechanical companion to PlanSpec: the spec ASSERTS
  * the invariants (no fact-sized cartesian, no partition-less window
  * over unbounded input, the broadcast/count-prune shapes); the census
  * RECORDS the whole surface so a round-over-round diff of PLANS.md
  * shows any query whose shape drifted — an extra exchange, a broadcast
  * that fell back to sort-merge — before it costs anything at scale.
  *
  * Counts come from the pre-AQE physical plan (the structure Catalyst
  * chose from statistics; AQE can only improve it at runtime) including
  * every broadcast/reused subtree. Artifact-backed queries (q78/q79,
  * q84, q87) are censused in their SERVING shape — builds ride the
  * first call and are not part of the recorded plan.
  *
  * Usage: runMain graft.tools.PlanCensus [sfDir] [outPath]
  */
object PlanCensus {
  private case class Counts(shuffles: Int, broadcasts: Int, sorts: Int,
                            smj: Int, bhj: Int, windows: Int,
                            globalWindows: Int, codegen: Int, cartesian: Int)

  /** Every physical node of `p`, INCLUDING the build plans of tracked
    * caches: the cache manager substitutes an InMemoryRelation for a
    * persisted subtree before optimization, so a plain `collect` over
    * `executedPlan` sees only InMemoryTableScan leaves and silently
    * omits the shuffles/joins that BUILD the cached relation (the
    * round-12 fidelity fix — q124's row previously read 0 shuffles).
    * Each distinct cached relation is expanded ONCE (it builds once at
    * runtime, however many scans consume it). Identity is the
    * relation's cacheBuilder, not the InMemoryRelation instance: the
    * cache manager hands each use-site a `withOutput` copy with fresh
    * expr ids, so instance equality would expand one physical cache
    * once per consuming fragment and inflate the counts. */
  private def allNodes(p: SparkPlan,
                       seen: scala.collection.mutable.Set[AnyRef]): Seq[SparkPlan] = {
    val nodes = p.collect { case n => n }
    nodes ++ nodes.flatMap {
      case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
        if seen.add(im.relation.cacheBuilder) => allNodes(im.relation.cachedPlan, seen)
      case _ => Nil
    }
  }

  private def census(qe: org.apache.spark.sql.execution.QueryExecution): Counts = {
    // physical operators from the pre-AQE plan — broadcast subtrees AND
    // cached-relation build plans included (see allNodes). The
    // partition-less-window test runs on the same physical node set
    // (post-EliminateWindowPartitions a foldable spec IS an empty one),
    // so windows inside cached subtrees are tested too.
    val nodes = allNodes(qe.executedPlan, scala.collection.mutable.Set.empty[AnyRef])
    def cnt(pred: SparkPlan => Boolean) = nodes.count(pred)
    def name(n: SparkPlan) = n.getClass.getSimpleName
    Counts(
      shuffles = cnt(name(_).startsWith("ShuffleExchange")),
      broadcasts = cnt(name(_).startsWith("BroadcastExchange")),
      sorts = cnt(name(_) == "SortExec"),
      smj = cnt(name(_).startsWith("SortMergeJoin")),
      bhj = cnt(name(_).startsWith("BroadcastHashJoin")),
      windows = cnt(n => name(n) == "WindowExec" || name(n) == "WindowGroupLimitExec"),
      globalWindows = nodes.count {
        case w: org.apache.spark.sql.execution.window.WindowExec =>
          w.partitionSpec.isEmpty || w.partitionSpec.forall(_.foldable)
        case _ => false
      },
      codegen = cnt(name(_).startsWith("WholeStageCodegen")),
      cartesian = cnt(n => name(n).startsWith("CartesianProduct") ||
        name(n).startsWith("BroadcastNestedLoopJoin")))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    // AQE wraps executedPlan in an opaque AdaptiveSparkPlanExec whose
    // children are not traversable before execution; the census wants
    // the statically prepared plan (exchanges inserted, pre-AQE), so
    // adaptive execution is off for this session only
    val spark = graft.Harness.session("spark.sql.adaptive.enabled" -> "false")
    spark.sparkContext.setLogLevel("ERROR")
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val c = try census(fn(spark, dir).queryExecution)
      finally graft.Caches.release()
      name -> c
    }
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan census (generated by `graft.tools.PlanCensus`)\n\n")
    sb.append(s"Host: ${Runtime.getRuntime.availableProcessors} cores; " +
      s"`SPARK_GRAFT_CPUS=${graft.Harness.cpus}` (local[cpus], as many shuffle partitions).\n")
    sb.append(s"Data dir: `$dir`. Counts from the pre-AQE physical plan — broadcast\n")
    sb.append("subtrees AND tracked-cache build plans included (each distinct cached\n")
    sb.append("relation expanded once; before round 12 cached subtrees were silently\n")
    sb.append("omitted, under-counting every query that persists an intermediate) —\n")
    sb.append("artifact-backed queries censused in SERVING shape.\n")
    sb.append("`gw` = partition-less WindowExec (allowed only over bounded relations —\n")
    sb.append("the bucket-offset windows of the two-phase prefix sums; PlanSpec\n")
    sb.append("enforces the boundedness). `cart` counts Cartesian/NestedLoop joins\n")
    sb.append("(broadcast scalar attachments and the reference's own grid operator).\n")
    sb.append("Regenerate: `sbt \"runMain graft.tools.PlanCensus\"` after any plan change.\n\n")
    sb.append("| query | shuffles | bcasts | sorts | SMJ | BHJ | windows | gw | codegen | cart |\n")
    sb.append("|---|---|---|---|---|---|---|---|---|---|\n")
    rows.foreach { case (n, c) =>
      sb.append(s"| $n | ${c.shuffles} | ${c.broadcasts} | ${c.sorts} | ${c.smj} | " +
        s"${c.bhj} | ${c.windows} | ${c.globalWindows} | ${c.codegen} | ${c.cartesian} |\n")
    }
    val t = rows.map(_._2)
    sb.append(s"| **total (${rows.size} queries)** | ${t.map(_.shuffles).sum} | " +
      s"${t.map(_.broadcasts).sum} | ${t.map(_.sorts).sum} | ${t.map(_.smj).sum} | " +
      s"${t.map(_.bhj).sum} | ${t.map(_.windows).sum} | ${t.map(_.globalWindows).sum} | " +
      s"${t.map(_.codegen).sum} | ${t.map(_.cartesian).sum} |\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[census] wrote ${rows.size} rows to $out")
    spark.stop()
  }
}
