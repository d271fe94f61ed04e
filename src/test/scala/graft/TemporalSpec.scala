package graft

import org.apache.spark.sql.functions._

/** The temporal operators (q57 as-of join, q58 exact grouped quantiles)
  * and the round-6 text-quality additions (q55 repetition, q56 tf-idf),
  * each cross-checked against an INDEPENDENT formulation — a range
  * θ-join for the as-of window plan, driver-side sorting for the rank
  * selection, and per-document recomputation in plain Scala for the
  * text scores. The DuckDB oracle is the driver's gate; these specs are
  * the in-repo witnesses that the algorithms (not just the hashes)
  * agree. */
class TemporalSpec extends SparkTestBase {

  private def q(name: String) = SparkEntry.queries(name)(spark, sfDir)

  test("q57 as-of join agrees with the brute-force range-join formulation") {
    val asof = q("q57_asof_join").collect()
    // Independent semantics: for each purchase, the click rows strictly
    // earlier for the same user; keep max tsu, tie-break max event_id.
    val ev = Tables.events(spark, sfDir).withColumn("tsu", unix_micros(col("ts")))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("tsu").as("ptsu"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("tsu").as("ctsu"), col("event_id").as("cid"))
    val brute = p.join(c, Seq("user_id"), "left")
      .groupBy("pid")
      // only strictly-earlier clicks count; max(NULL-only) stays NULL so
      // a purchase with no earlier click still yields one (unmatched) row
      .agg(max(when(col("ctsu") < col("ptsu"), struct(col("ctsu"), col("cid")))).as("m"))
      .select(col("pid"), col("m.ctsu").as("ctsu"), col("m.cid").as("cid"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getLong(1), r.getLong(2)))).toMap
    assert(asof.nonEmpty)
    asof.foreach { r =>
      val pid = r.getLong(0)
      val got = if (r.isNullAt(4)) null
                else (r.getLong(5), r.getLong(4)) // (click_tsu, click_id)
      assert(brute(pid) == got, s"purchase $pid: asof=$got brute=${brute(pid)}")
      if (got != null) // gap is integer µs and strictly positive
        assert(r.getLong(7) == r.getLong(2) - r.getLong(5) && r.getLong(7) > 0)
    }
    // left-join semantics: every purchase appears exactly once
    assert(asof.length == brute.size)
  }

  test("q57 equal-timestamp click is NOT matched (strict < semantics)") {
    // The union+window ordering (purchase side 0 before click side 1 at
    // equal tsu) is the strictness mechanism — verify no matched click
    // shares its purchase's timestamp.
    val eq = q("q57_asof_join").filter(col("click_tsu") === col("purchase_tsu"))
    assert(eq.isEmpty)
  }

  test("q57 plan is one user_id shuffle + window, not a range join") {
    val plan = q("q57_asof_join").queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan.take(800))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "as-of must not plan a product/range join:\n" + plan.take(800))
  }

  test("q58 rank selection matches driver-side sorted order statistics") {
    val got = q("q58_grouped_quantiles").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val byType = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"), col("event_id"))
      .collect().groupBy(_.getString(0))
    assert(got.keySet == byType.keySet)
    byType.foreach { case (t, rows) =>
      val sorted = rows.map(r => (r.getDouble(1), r.getLong(2))).sortBy(identity).map(_._1)
      val n = sorted.length
      def k(pct: Int) = ((n - 1).toLong * pct / 100).toInt // floor, matches (n-1)*pct div 100
      val (gn, p25, p50, p75, p95) = got(t)
      assert(gn == n)
      assert(p25 == sorted(k(25)) && p50 == sorted(k(50))
        && p75 == sorted(k(75)) && p95 == sorted(k(95)), s"quantiles differ for $t")
    }
  }

  test("q55 repetition fractions recompute per document in plain Scala") {
    val got = q("q55_repetition").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toMap
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
    var checked = 0
    docs.foreach { r =>
      val ts = r.getString(1).split(" ", -1)
      if (ts.length >= 2) {
        val bigrams = ts.sliding(2).map(_.mkString(" ")).toSeq
        val counts = bigrams.groupBy(identity).map(_._2.size)
        val nBi = bigrams.size.toLong
        val nUniq = counts.size.toLong
        def r6(x: Double) = math.rint(x * 1e6) / 1e6
        val dup = r6((nBi - nUniq).toDouble / nBi)
        val top = r6(counts.max.toDouble / nBi)
        val (gBi, gUniq, gDup, gTop, gKeep) = got(r.getLong(0))
        assert(gBi == nBi && gUniq == nUniq && gDup == dup && gTop == top)
        assert(gKeep == (dup <= 0.2 && top <= 0.1))
        checked += 1
      }
    }
    assert(checked > 0 && got.size == checked)
  }

  test("q56 tf-idf: rank-1 term maximizes tf*(N*1e6 div df) within its document") {
    val rows = q("q56_tfidf_topk").collect()
    assert(rows.nonEmpty)
    // per doc: ranks are 1..k, scores non-increasing
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(5))
      assert(byRank.map(_.getInt(5)).toSeq == (1 to byRank.length))
      val scores = byRank.map(_.getLong(4)).toSeq
      assert(scores == scores.sorted.reverse)
    }
    // independent recomputation for one document
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
    val n = docs.length
    val dfm = docs.flatMap(_.getString(1).split(" ", -1).distinct).groupBy(identity).map { case (t, o) => t -> o.length }
    val d0 = docs.head
    val tf0 = d0.getString(1).split(" ", -1).groupBy(identity).map { case (t, o) => t -> o.length }
    val best = tf0.map { case (t, tf) => (t, tf.toLong * (n.toLong * 1000000L / dfm(t))) }.maxBy(_._2)._2
    val got1 = rows.filter(r => r.getLong(0) == d0.getLong(0) && r.getInt(5) == 1).head.getLong(4)
    assert(got1 == best)
  }

  test("q75 banded range join equals the brute-force proximity pairs") {
    val got = q("q75_range_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsu")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val purchases = ev.filter(_._3 == "purchase")
    val clicks = ev.filter(_._3 == "click").groupBy(_._2)
    val expect = purchases.flatMap { case (pid, u, _, pt) =>
      clicks.getOrElse(u, Array.empty[(Long, Long, String, Long)]).collect {
        case (cid, _, _, ct) if math.abs(pt - ct) <= 3600000000L =>
          (pid, cid, u, pt - ct)
      }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == expect.toSeq,
      s"got ${got.length} pairs, expect ${expect.length}")
    assert(got.nonEmpty, "no proximity pairs — the operator is untested")
  }

  test("q75 plan is an equi-join on (user, bucket), never a per-user nested loop") {
    val p = q("q75_range_join").queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join fell back to a non-equi plan:\n${p.take(1500)}")
  }

  test("q77 sketch quantiles bound the exact q58 ranks within one bucket width") {
    // the sketch reports the MIN value of the bucket holding rank k, so
    // approx ≤ exact always, and exact − approx is bounded by the bucket
    // span: ≤ 1/64 of the value (log-linear buckets), exact (0) below
    // the 128-micro-unit floor
    val exact = q("q58_grouped_quantiles").collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = q("q77_quantile_sketch").collect()
    assert(approx.nonEmpty)
    approx.foreach { a =>
      val e = exact(a.getString(0))
      assert(a.getLong(1) == e.getLong(1), s"${a.getString(0)}: n mismatch")
      for (i <- 2 to 5) {
        val (av, ev) = (a.getDouble(i), e.getDouble(i))
        assert(av <= ev + 1e-9, s"${a.getString(0)} col $i: approx $av above exact $ev")
        val width = math.max((av * 1e6 + 2) / 64.0, 1.0) / 1e6
        assert(ev - av <= width + 1e-9,
          s"${a.getString(0)} col $i: exact $ev − approx $av exceeds bucket width $width")
      }
    }
  }

  test("q77 plan windows only over the bucket histogram, never the event corpus") {
    val p = q("q77_quantile_sketch").queryExecution.executedPlan.toString
    // the corpus-side relation carries `v`; any window over it would
    // show v in the window child's output. Both windows must sit above
    // the (event_type, bkt) aggregate instead.
    assert(!"""windowspecdefinition\(event_type#\d+, (value|v)#""".r.findFirstIn(p).isDefined,
      s"q77 windows over the raw event relation:\n" +
        p.split("\n").filter(_.contains("windowspecdefinition")).mkString("\n"))
  }
}
