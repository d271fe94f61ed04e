package graft

import java.time.{LocalDateTime, ZoneOffset}
import graft.api.QueryApi
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** The interactive query API: both physical strategies agree (the
  * reference's own correctness harness, eda_query.py:240-257), the
  * pipeline chains, and the map-shaped edge result groups correctly.
  * Every call's rows are also pinned IN ORDER against a plain-Scala
  * answer computed from the fixture's orders and lineitem rows. */
class ApiSpec extends SparkTestBase {
  import spark.implicits._

  private def ids = Seq(1L, 7L, 13L, 25L).toDF("id")

  // --- plain-Scala reference over the fixture rows --------------------
  private case class Ord(key: Long, cust: Long, date: LocalDateTime, prio: String)
  private case class Line(order: Long, number: Int, qty: Double)

  private lazy val orderRows: Seq[Ord] =
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority").collect()
      .map(r => Ord(r.getLong(0), r.getLong(1), r.getAs[LocalDateTime](2), r.getString(3))).toSeq
  private lazy val linesByOrder: Map[Long, Seq[Line]] =
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity").collect()
      .map(r => Line(r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq.groupBy(_.order)
  private lazy val customersWithOrders: Set[Long] = orderRows.map(_.cust).toSet

  /** glassHistory: the requested customers' orders by (glass, start, step). */
  private def refHistory(req: Seq[Option[Long]]): Seq[(Long, Long, LocalDateTime, String)] = {
    val want = req.flatten.toSet
    orderRows.filter(o => want(o.cust))
      .sortBy(o => (o.cust, o.date.toEpochSecond(ZoneOffset.UTC), o.date.getNano, o.key))
      .map(o => (o.cust, o.key, o.date, o.prio))
  }
  /** glassData over that history: its lines by (glass, step, site). */
  private def refData(req: Seq[Option[Long]]): Seq[(Long, Long, LocalDateTime, Int, Double)] =
    refHistory(req).flatMap { case (g, step, start, _) =>
      linesByOrder.getOrElse(step, Nil).map(l => (g, step, start, l.number, l.qty))
    }.sortBy(t => (t._1, t._2, t._4))
  /** glassRawData: the requested customers' lines by (glass, step, site). */
  private def refRaw(req: Seq[Option[Long]]): Seq[(Long, Long, Int, Double)] = {
    val want = req.flatten.toSet
    orderRows.filter(o => want(o.cust)).flatMap(o =>
      linesByOrder.getOrElse(o.key, Nil).map(l => (o.cust, o.key, l.number, l.qty)))
      .sortBy(t => (t._1, t._2, t._3))
  }
  /** missingIds: each distinct requested id with no order, nulls first
    * (a null id matches no order, so it is reported as missing). */
  private def refMissing(req: Seq[Option[Long]]): Seq[Option[Long]] =
    req.distinct.filterNot(_.exists(customersWithOrders)).sortBy(_.getOrElse(Long.MinValue))

  private def request(req: Seq[Option[Long]]): DataFrame =
    req.map(_.map(java.lang.Long.valueOf).orNull).toDF("id")
  private def lng(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(r.getLong(i))

  // duplicate ids, a null id, unknown ids (every fixture customer
  // 0..149 has orders, so 155, -5 and 999999999 have none) and known
  // ids out of order
  private val edgeReq: Seq[Option[Long]] =
    Seq(Some(7L), Some(1L), Some(7L), None, Some(999999999L), Some(13L),
        Some(155L), Some(-5L), Some(25L), Some(1L), Some(999999999L))
  // a wide request: every customer key up to 160 (150.. unknown), some
  // twice, so the answer spans several partitions before the edge sort
  private val wideReq: Seq[Option[Long]] =
    ((0L to 160L) ++ (150L to 0L by -10L)).map(Some(_))

  /** `got` lists `want`'s rows in `want`'s order of sort keys. The
    * fixture's lineitem repeats some (orderkey, linenumber) pairs, and
    * no call orders rows that tie on its sort key, so within a tie only
    * the rows themselves are pinned. */
  private def sameInOrder[T, K](got: Seq[T], want: Seq[T])(key: T => K): Boolean =
    got.map(key) == want.map(key) && got.diff(want).isEmpty && want.diff(got).isEmpty

  private def checkPinned(req: Seq[Option[Long]]): Unit = {
    val hist = QueryApi.glassHistory(spark, sfDir, request(req)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[LocalDateTime](2), r.getString(3))).toSeq
    assert(hist.nonEmpty && hist == refHistory(req), "glassHistory rows or order")
    val data = QueryApi.glassData(spark, sfDir, QueryApi.glassHistory(spark, sfDir, request(req)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[LocalDateTime](2), r.getInt(3), r.getDouble(4)))
      .toSeq
    assert(data.nonEmpty && sameInOrder(data, refData(req))(t => (t._1, t._2, t._4)),
      "glassData rows or order")
    for (sub <- Seq(true, false)) {
      val raw = QueryApi.glassRawData(spark, sfDir, request(req), subquery = sub).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
      assert(raw.nonEmpty && sameInOrder(raw, refRaw(req))(t => (t._1, t._2, t._3)),
        s"glassRawData(subquery = $sub) rows or order")
    }
    val miss = QueryApi.missingIds(spark, sfDir, request(req)).collect().map(lng(_, 0)).toSeq
    assert(miss == refMissing(req), s"missingIds was $miss")
  }

  test("every call's rows, in order, equal a plain-Scala answer (duplicate, null and unknown ids)") {
    assert(!customersWithOrders(155L) && customersWithOrders(7L), "fixture assumption")
    assert(refMissing(edgeReq) == Seq(None, Some(-5L), Some(155L), Some(999999999L)))
    checkPinned(edgeReq)
    checkPinned(wideReq)
    // strict adapter: raises naming every missing id, in order
    val e = intercept[QueryApi.GlassDoesNotExist] {
      QueryApi.glassHistoryStrict(spark, sfDir, request(edgeReq.filter(_.nonEmpty)))
    }
    assert(e.glassIds == Seq(-5L, 155L, 999999999L))
    // a null id is a miss too: the adapter raises the typed miss, naming
    // the null first and then the missing ids in order
    val withNull = intercept[QueryApi.GlassDoesNotExist] {
      QueryApi.glassHistoryStrict(spark, sfDir, request(edgeReq))
    }
    assert(withNull.nullId && withNull.glassIds == Seq(-5L, 155L, 999999999L))
    assert(withNull.getMessage == "(type=null,-5,155,999999999)")
    // and with only known (duplicated) ids it is glassHistory, in order
    val known = Seq(Some(25L), Some(7L), Some(25L), Some(1L))
    val ok = QueryApi.glassHistoryStrict(spark, sfDir, request(known)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[LocalDateTime](2), r.getString(3))).toSeq
    assert(ok == refHistory(known))
  }

  // --- plan and job fence ---------------------------------------------
  private object Plans extends AdaptiveSparkPlanHelper
  /** Every range-partitioned exchange in a physical plan, through AQE
    * stages and subqueries. */
  private def rangeExchanges(p: SparkPlan): Seq[ShuffleExchangeExec] =
    Plans.collectWithSubqueries(p) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }

  private def calls: Seq[(String, () => DataFrame)] = Seq(
    "history" -> (() => QueryApi.glassHistory(spark, sfDir, request(edgeReq))),
    "data" -> (() => QueryApi.glassData(spark, sfDir,
      QueryApi.glassHistory(spark, sfDir, request(edgeReq)))),
    "raw_sql" -> (() => QueryApi.glassRawData(spark, sfDir, request(edgeReq), subquery = true)),
    "raw_join" -> (() => QueryApi.glassRawData(spark, sfDir, request(edgeReq), subquery = false)),
    "missing" -> (() => QueryApi.missingIds(spark, sfDir, request(edgeReq))))

  // Spark jobs per warm call on the fixture (history: broadcast the
  // request, the semi-join's map stage, the sorted result); the
  // sampling job of a range-partitioned sort, or a schema inference,
  // would each add one.
  private val jobCeiling = Map("history" -> 3, "data" -> 4, "raw_sql" -> 4,
    "raw_join" -> 4, "missing" -> 3)

  test("warm calls: no schema-inference job, no range-partitioned exchange, a job ceiling per call") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add((
        String.valueOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull),
        e.stageInfos.map(_.details).mkString("\n")))
    }
    calls.foreach(_._2().collect()) // warm: every table's schema is known
    sc.addSparkListener(listener)
    try {
      for ((name, call) <- calls) {
        sc.setJobGroup(name, s"api $name")
        val df = call()
        assert(rangeExchanges(df.queryExecution.executedPlan).isEmpty,
          s"$name plans a range-partitioned exchange")
        df.collect()
        assert(rangeExchanges(df.queryExecution.executedPlan).isEmpty,
          s"$name ran a range-partitioned exchange")
      }
      // listener events arrive asynchronously, in order: once a later
      // job's start is seen, every earlier one has been counted
      sc.setJobGroup("barrier", "listener barrier")
      spark.range(1).count()
      val deadline = System.currentTimeMillis() + 30000
      while (!jobs.asScala.exists(_._1 == "barrier") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val seen = jobs.asScala.toSeq
    assert(seen.exists(_._1 == "barrier"), "listener never saw the barrier job")
    val tablesJobs = seen.filter { case (g, site) => g != "barrier" && site.contains("graft.Tables") }
    assert(tablesJobs.isEmpty, s"warm calls ran graft.Tables jobs: ${tablesJobs.map(_._1)}")
    val perCall = seen.groupBy(_._1).map { case (g, js) => g -> js.size }
    for ((name, ceiling) <- jobCeiling)
      assert(perCall.getOrElse(name, 0) <= ceiling,
        s"$name ran ${perCall.getOrElse(name, 0)} jobs, ceiling $ceiling (all: $perCall)")
  }

  test("glass_raw_data keeps two strategies: an IN-subquery and a hand-written semi-join") {
    import org.apache.spark.sql.catalyst.expressions.{InSubquery, ListQuery}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def analyzed(sub: Boolean) =
      QueryApi.glassRawData(spark, sfDir, ids, subquery = sub).queryExecution.analyzed
    val sub = analyzed(sub = true)
    assert(sub.exists(_.expressions.exists(_.exists {
      case _: InSubquery | _: ListQuery => true
      case _ => false
    })), s"subquery = true holds no IN-subquery:\n$sub")
    assert(!sub.exists { case j: Join => j.joinType == LeftSemi; case _ => false })
    val join = analyzed(sub = false)
    assert(join.exists { case j: Join => j.joinType == LeftSemi; case _ => false },
      s"subquery = false holds no left-semi join:\n$join")
    assert(!join.exists(_.expressions.exists(_.exists(_.isInstanceOf[ListQuery]))))
  }

  test("glass_raw_data: subquery and decorrelated strategies return the same relation") {
    val a = QueryApi.glassRawData(spark, sfDir, ids, subquery = true)
    val b = QueryApi.glassRawData(spark, sfDir, ids, subquery = false)
    assert(a.count() > 0)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("history → data pipeline chains on the history keys") {
    val hist = QueryApi.glassHistory(spark, sfDir, ids)
    assert(hist.count() > 0)
    assert(hist.select("glass_id").distinct().as[Long].collect().toSet
      .subsetOf(Set(1L, 7L, 13L, 25L)))
    val data = QueryApi.glassData(spark, sfDir, hist)
    // every detail row's (glass, step) came from the history
    val hKeys = hist.select("glass_id", "step_id").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    data.select("glass_id", "step_id").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .foreach(k => assert(hKeys.contains(k)))
  }

  test("missingIds surfaces unknown ids instead of silence (GlassDoesNotExist, dbs/auto.py:13,37)") {
    // 999999999 has no orders row by construction; the known ids do
    val req = Seq(1L, 7L, 999999999L).toDF("id")
    val miss = QueryApi.missingIds(spark, sfDir, req).as[Long].collect().toSeq
    assert(miss == Seq(999999999L), s"miss surface was $miss")
    // hit keys ∪ misses partition the request — no id is silently dropped
    val hits = QueryApi.glassHistory(spark, sfDir, req)
      .select("glass_id").distinct().as[Long].collect().toSet
    assert(hits ++ miss == Set(1L, 7L, 999999999L) && hits.intersect(miss.toSet).isEmpty)
    // the strict adapter raises the typed signal naming the missing ids
    val e = intercept[QueryApi.GlassDoesNotExist] {
      QueryApi.glassHistoryStrict(spark, sfDir, req)
    }
    assert(e.glassIds == Seq(999999999L))
    // and passes through untouched when every id exists
    val ok = QueryApi.glassHistoryStrict(spark, sfDir, ids)
    assert(ok.count() == QueryApi.glassHistory(spark, sfDir, ids).count())
  }

  test("grouped edge result: one entry per glass, rows preserved") {
    val hist = QueryApi.glassHistory(spark, sfDir, ids)
    val m = QueryApi.grouped(hist, "glass_id").collect().toMap
    assert(m.keySet == hist.select("glass_id").distinct().as[Long].collect().toSet)
    assert(m.values.map(_.size).sum == hist.count())
  }
}
