package graft

import graft.api.QueryApi

/** The interactive query API: both physical strategies agree (the
  * reference's own correctness harness, eda_query.py:240-257), the
  * pipeline chains, and the map-shaped edge result groups correctly. */
class ApiSpec extends SparkTestBase {
  import spark.implicits._

  private def ids = Seq(1L, 7L, 13L, 25L).toDF("id")

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
