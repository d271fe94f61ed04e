package graft

import org.apache.spark.sql.DataFrame
import graft.queries.IncrementalPrepare

/** The q102 contracts the DuckDB oracle cannot see: ingest/replay
  * idempotency and the frozen-boilerplate serving semantics (a segment
  * that becomes boilerplate only through shard ingestion must strip
  * FUTURE intakes, not the one that introduced it). */
class IncrementalPrepareSpec extends SparkTestBase {

  private def loadShard(): DataFrame =
    spark.read.parquet(s"${IncrementalPrepare.stageShard(spark, sfDir)}/docs")

  private def verdictRows(shard: DataFrame, idx: String): Seq[(Long, String, Any)] =
    IncrementalPrepare.verdictsAgainst(spark, shard, idx).collect()
      .map(r => (r.getLong(0), r.getString(4), r.get(5))).toSeq

  test("prepare ingest is idempotent: replay keeps nothing, re-ingest is a content no-op") {
    withIndexRoot { root =>
      val idx = IncrementalPrepare.buildIndex(spark, sfDir)
      val shard = loadShard()
      val v1 = verdictRows(shard, idx)
      val kept1 = v1.filter(_._2 == "kept").map(_._1).toSet
      assert(kept1.nonEmpty, "fixture produced no kept docs — contract untestable")
      assert(v1.exists(_._2 == "exact_dup_corpus") && v1.exists(_._2 == "exact_dup_batch"),
        s"fixture lost a verdict class: ${v1.map(_._2).distinct}")
      val g2 = IncrementalPrepare.ingest(spark, shard, idx, s"$root/gen2")
      val v2 = verdictRows(shard, g2)
      assert(!v2.exists(_._2 == "kept"), "replayed shard kept documents")
      v2.filter(r => kept1.contains(r._1)).foreach { case (id, verdict, keeper) =>
        assert(verdict == "exact_dup_corpus" && keeper == id,
          s"kept doc $id not recognized as its own ingest ($verdict, keeper=$keeper)")
      }
      val g3 = IncrementalPrepare.ingest(spark, shard, g2, s"$root/gen3")
      def content(p: String) = (
        spark.read.parquet(s"$p/exact").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet,
        spark.read.parquet(s"$p/segdf").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)
      assert(content(g2) == content(g3), "re-ingest of the same shard changed the artifact")
      val (e1, _) = content(idx)
      val (e2, _) = content(g2)
      assert(e2.size == e1.size + kept1.size,
        s"exact table grew by ${e2.size - e1.size}, expected ${kept1.size}")
    }
  }

  test("frozen-boilerplate semantics: shard-born boilerplate strips the NEXT intake, not its own") {
    import spark.implicits._
    withIndexRoot { root =>
      val idx = IncrementalPrepare.buildIndex(spark, sfDir)
      // a template segment no corpus source has (seg length = BoilerSegLen
      // so it segments cleanly), carried by two docs of one source plus
      // distinct filler that keeps them off every other verdict
      val boilerSeg = "zq0 zq1 zq2 zq3 zq4 zq5 zq6 zq7"
      def filler(tag: String) = (0 until 24).map(i => s"fill_${tag}_$i").mkString(" ")
      val day1 = Seq(
        (8000001L, "src1", s"$boilerSeg ${filler("a")}"),
        (8000002L, "src1", s"$boilerSeg ${filler("b")}")).toDF("doc_id", "source", "text")
      val v1 = IncrementalPrepare.verdictsAgainst(spark, day1, idx).collect()
        .map(r => r.getLong(0) -> (r.getString(4), r.getInt(2))).toMap
      // day 1: the artifact has never seen the segment — NOT stripped
      // (frozen-generation semantics), both docs keep all segments
      assert(v1(8000001L) == (("kept", 4)) && v1(8000002L) == (("kept", 4)), v1.toString)
      val g2 = IncrementalPrepare.ingest(spark, day1, idx, s"$root/gen2")
      // day 2: a THIRD doc with the same template arrives; the ingested
      // counts made the segment boilerplate (df = 2 ≥ BoilerMinDf), so
      // the new generation strips it
      val day2 = Seq((8000003L, "src1", s"$boilerSeg ${filler("c")}"))
        .toDF("doc_id", "source", "text")
      val v2 = IncrementalPrepare.verdictsAgainst(spark, day2, g2).collect()
        .map(r => r.getLong(0) -> (r.getString(4), r.getInt(2))).toMap
      assert(v2(8000003L)._2 == 3,
        s"shard-born boilerplate not stripped by the next generation: ${v2(8000003L)}")
      assert(v2(8000003L)._1 == "kept", v2.toString)
    }
  }

  test("q144 redaction nulls only the cited keeper; re-crawled content stays blocked") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))).toSeq
    val base = rows("q102_incremental_prepare")
    val red = rows("q144_prepare_takedown")
    assert(base.size == red.size)
    var redacted = 0
    base.zip(red).foreach { case ((d1, a1, b1, t1, v1, c1), (d2, a2, b2, t2, v2, c2)) =>
      assert(d1 == d2 && a1 == a2 && b1 == b2 && t1 == t2 && v1 == v2,
        s"doc $d1 changed verdict columns under redaction")
      (c1, c2) match {
        case (Some(k), None) =>
          redacted += 1
          assert(k % 7 == 3, s"doc $d1 redacted a non-request keeper $k")
          assert(v1 == "exact_dup_corpus", s"doc $d1 redacted but verdict $v1")
        case (a, b) =>
          assert(a == b, s"doc $d1 keeper drifted: $a -> $b")
          a.foreach(k => assert(k % 7 != 3, s"doc $d1 still cites removed keeper $k"))
      }
    }
    assert(redacted > 0, "fixture exercises no prepare redaction - mask untested")
  }
}
