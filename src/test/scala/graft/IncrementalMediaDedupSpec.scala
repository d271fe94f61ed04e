package graft

import org.apache.spark.sql.Dataset
import graft.queries.IncrementalMediaDedup
import graft.functions.Multimodal.MediaRow

/** The q101 contracts the DuckDB oracle cannot see: ingest/replay
  * idempotency of the media intake loop and the corrupt-intake
  * dead-letter behavior (a poisoned shard blob must cost one verdict
  * row, not the serving job). Storage mechanics (root knob, marker-last
  * rebuild, fingerprint staleness) ride the SAME publish/fingerprint
  * machinery IncrementalDedupSpec already pins. */
class IncrementalMediaDedupSpec extends SparkTestBase {

  private def loadShard(): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.parquet(s"${IncrementalMediaDedup.stageShard(spark, sfDir)}/media")
      .as[MediaRow]
  }

  private def verdictRows(shard: Dataset[MediaRow], idx: String): Seq[(Long, String, String, Boolean, Any)] =
    IncrementalMediaDedup.verdictsAgainst(spark, shard, idx).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getBoolean(3), r.get(4))).toSeq

  test("media ingest is idempotent: replay keeps nothing, re-ingest is a content no-op") {
    withIndexRoot { root =>
      val idx = IncrementalMediaDedup.buildIndex(spark, sfDir)
      val shard = loadShard()
      val v1 = verdictRows(shard, idx)
      // the staged mix must exercise every verdict: re-crawls are
      // corpus-exact, the double-submitted slice is batch-dup, and the
      // new media is kept (near-dups depend on hash geometry — allowed
      // but not required at this scale)
      val kept1 = v1.filter(_._4).map(_._1).toSet
      assert(kept1.nonEmpty, "fixture produced no kept media — contract untestable")
      assert(v1.exists(_._3 == "exact_dup_corpus") && v1.exists(_._3 == "exact_dup_batch"),
        s"fixture lost a verdict class: ${v1.map(_._3).distinct}")
      val g2 = IncrementalMediaDedup.ingest(spark, shard, idx, s"$root/gen2")
      // replay of the SAME shard against the post-ingest index: nothing
      // kept; every formerly-kept item is an exact dup of its own copy
      val v2 = verdictRows(shard, g2)
      assert(v2.forall(!_._4), "replayed media shard kept items")
      v2.filter(r => kept1.contains(r._1)).foreach { case (id, _, verdict, _, keeper) =>
        assert(verdict == "exact_dup_corpus" && keeper == id,
          s"kept media $id not recognized as its own ingest ($verdict, keeper=$keeper)")
      }
      // re-ingest: a content-identical index (no growth on replay)
      val g3 = IncrementalMediaDedup.ingest(spark, shard, g2, s"$root/gen3")
      def content(p: String) = (
        spark.read.parquet(s"$p/exact").collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet,
        spark.read.parquet(s"$p/bands").collect()
          .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3))).toSet)
      assert(content(g2) == content(g3), "re-ingest of the same media shard changed the index")
      // the ingested generation is exactly the base plus the kept items'
      // distinct hashes (kept hashes are unique within the shard)
      val (e1, _) = content(idx)
      val (e2, _) = content(g2)
      assert(e2.size == e1.size + kept1.size,
        s"exact table grew by ${e2.size - e1.size}, expected ${kept1.size}")
    }
  }

  test("a corrupt intake blob costs one dropped row, not the serving job") {
    import spark.implicits._
    withIndexRoot { _ =>
      val idx = IncrementalMediaDedup.buildIndex(spark, sfDir)
      val shard = loadShard()
      val poisoned = shard.unionByName(spark.createDataset(Seq(
        MediaRow(9999991L, "image", Array[Byte](1, 2, 3)),
        MediaRow(9999992L, "audio", Array.empty[Byte]),
        MediaRow(9999993L, "video", Array[Byte](82, 73, 70, 70))))) // bare 'RIFF'
      val clean = verdictRows(shard, idx)
      val dirty = verdictRows(poisoned, idx)
      // the three poisoned blobs drop at the decode_ok gate; every real
      // item's verdict is untouched
      assert(dirty == clean,
        "poisoned blobs changed real verdicts or leaked verdict rows")
    }
  }

  test("q143 redaction nulls only the cited keeper; re-uploads stay blocked") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getBoolean(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    val base = rows("q101_incremental_media_dedup")
    val red = rows("q143_media_takedown")
    assert(base.size == red.size)
    var redacted = 0
    base.zip(red).foreach { case ((d1, m1, v1, k1, c1), (d2, m2, v2, k2, c2)) =>
      assert(d1 == d2 && m1 == m2 && v1 == v2 && k1 == k2,
        s"doc $d1 changed verdict under redaction")
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
    assert(redacted > 0, "fixture exercises no media redaction - mask untested")
  }
}
