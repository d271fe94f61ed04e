package graft

import graft.queries.{IncrementalDedup, Intake}

/** The q84 contracts that the DuckDB oracle cannot see: artifact storage
  * (root knob, marker-last rebuild, fingerprint staleness) and the
  * ingest/replay idempotency of the incremental intake loop. */
class IncrementalDedupSpec extends SparkTestBase {

  private def verdictRows(idx: String): Seq[(Long, String, Boolean, Any)] = {
    val shard = spark.read.parquet(s"${IncrementalDedup.stageShard(spark, sfDir)}/docs")
    IncrementalDedup.verdictsAgainst(spark, shard, idx).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.get(3))).toSeq
  }

  test("dedup index storage contract: root honored, half-built rebuilt, fingerprint keys the data") {
    withIndexRoot { root =>
      val want = SparkEntry.queries("q84_incremental_dedup")(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.get(3))).toSeq
      assert(want.nonEmpty)
      val hfs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      val path = new org.apache.hadoop.fs.Path(IncrementalDedup.indexPath(spark, sfDir))
      assert(path.toString.startsWith(root), s"index at $path ignores configured root")
      assert(hfs.exists(new org.apache.hadoop.fs.Path(path, "_COMPLETE")))
      // sabotage: drop the marker and the exact table — a marker-less
      // artifact must be rebuilt, never served
      hfs.delete(new org.apache.hadoop.fs.Path(path, "_COMPLETE"), false)
      hfs.delete(new org.apache.hadoop.fs.Path(path, "exact"), true)
      val rebuilt = SparkEntry.queries("q84_incremental_dedup")(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.get(3))).toSeq
      assert(rebuilt == want, "marker-less index was served instead of rebuilt")
      assert(hfs.exists(new org.apache.hadoop.fs.Path(path, "_COMPLETE")), "rebuild did not republish")
      // staleness: same dir path, same bytes, new mtime ⇒ different key
      val dataCopy = java.nio.file.Files.createTempDirectory("graft_dedup_data").toString
      val src = new java.io.File(s"$sfDir/documents.parquet")
      val dst = new java.io.File(s"$dataCopy/documents.parquet")
      if (src.isDirectory) {
        dst.mkdirs()
        src.listFiles().foreach(f => java.nio.file.Files.copy(f.toPath,
          new java.io.File(dst, f.getName).toPath))
      } else java.nio.file.Files.copy(src.toPath, dst.toPath)
      val k1 = Intake.dataFingerprint(spark, dataCopy)
      assert(Intake.dataFingerprint(spark, dataCopy) == k1, "fingerprint not stable")
      val touched = if (dst.isDirectory) dst.listFiles().head else dst
      assert(touched.setLastModified(touched.lastModified() + 60000))
      assert(Intake.dataFingerprint(spark, dataCopy) != k1,
        "fingerprint blind to a regenerated corpus under the same path")
    }
  }

  test("ingest is idempotent: replay keeps nothing, re-ingest is a content no-op") {
    withIndexRoot { root =>
      val idx = IncrementalDedup.buildIndex(spark, sfDir)
      val shard = spark.read.parquet(s"${IncrementalDedup.stageShard(spark, sfDir)}/docs")
      val v1 = verdictRows(idx)
      val kept1 = v1.filter(_._3).map(_._1).toSet
      assert(kept1.nonEmpty, "fixture produced no kept docs — contract untestable")
      val g2 = IncrementalDedup.ingest(spark, shard, idx, s"$root/gen2")
      // replay of the SAME shard against the post-ingest index: nothing
      // is kept, and every formerly-kept doc is an exact dup of its own
      // ingested copy (keeper = itself)
      val v2 = verdictRows(g2)
      assert(v2.forall(!_._3), "replayed shard kept documents")
      v2.filter(r => kept1.contains(r._1)).foreach { case (id, verdict, _, keeper) =>
        assert(verdict == "exact_dup_corpus" && keeper == id,
          s"kept doc $id not recognized as its own ingest ($verdict, keeper=$keeper)")
      }
      // re-ingest: a content-identical index (no growth on replay)
      val g3 = IncrementalDedup.ingest(spark, shard, g2, s"$root/gen3")
      def content(p: String) = (
        spark.read.parquet(s"$p/exact").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet,
        spark.read.parquet(s"$p/bands").collect()
          .map(r => (r.getInt(0), r.getString(1))).toSet)
      assert(content(g2) == content(g3), "re-ingest of the same shard changed the index")
      // the ingested generation is exactly the base plus the kept docs
      val (e1, _) = content(idx)
      val (e2, _) = content(g2)
      assert(e2.size == e1.size + kept1.size,
        s"exact table grew by ${e2.size - e1.size}, expected ${kept1.size}")
    }
  }

  test("q142 redaction nulls only the cited keeper; content stays blocked") {
    val base = SparkEntry.queries("q84_incremental_dedup")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
    val red = SparkEntry.queries("q142_dedup_takedown")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
    assert(base.size == red.size)
    var redacted = 0
    base.zip(red).foreach { case ((d1, v1, k1, c1), (d2, v2, k2, c2)) =>
      // verdict and keep are UNTOUCHED by the policy: the content of a
      // removed doc stays blocked (redact, don't re-admit)
      assert(d1 == d2 && v1 == v2 && k1 == k2, s"doc $d1 changed verdict under redaction")
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
    assert(redacted > 0, "fixture exercises no redaction - mask untested")
  }

  test("overlapping tombstone generations redact once: no duplicated verdict rows") {
    // two removal requests can both name the same keeper (external legal
    // input); the redaction serve unions the generations' id rosters,
    // and without the distinct a doubled id would duplicate every
    // verdict row citing it through the left join
    withIndexRoot { root =>
      import org.apache.spark.sql.functions.col
      val idx = IncrementalDedup.buildIndex(spark, sfDir)
      val shard = spark.read.parquet(s"${IncrementalDedup.stageShard(spark, sfDir)}/docs")
      val roster = spark.read.parquet(s"$idx/exact")
        .select(col("keeper").as("doc_id"))
      val t1 = IncrementalDedup.takedown(spark,
        roster.filter(col("doc_id") % 7 === 3), idx, s"$root/tomb1")
      val t2 = IncrementalDedup.takedown(spark,
        roster.filter(col("doc_id") % 7 === 3 || col("doc_id") % 7 === 5),
        idx, s"$root/tomb2")
      val overlap = spark.read.parquet(s"$t1/ids")
        .join(spark.read.parquet(s"$t2/ids"), "doc_id").count()
      assert(overlap > 0, "fixture generations do not overlap — test vacuous")
      val both = Intake.redacted(spark, IncrementalDedup.verdictsAgainst(spark, shard, idx),
          "corpus_keeper", Seq(t1, t2))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.get(3))).toSeq
      val wide = Intake.redacted(spark, IncrementalDedup.verdictsAgainst(spark, shard, idx),
          "corpus_keeper", Seq(t2))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.get(3))).toSeq
      assert(both.map(_._1).distinct.size == both.size,
        "overlapping tombstones duplicated verdict rows")
      // t1 ⊂ t2, so serving both generations equals serving the wider one
      assert(both == wide, "overlapping-generation serve drifted from the union redaction")
    }
  }

  test("two takedown requests on one base publish two tombstones, each with its own priced ids") {
    // a tombstone keyed only by its base path would let the second
    // request find the first one's marker and serve its stale ids
    withIndexRoot { _ =>
      import org.apache.spark.sql.functions.col
      val idx = IncrementalDedup.buildIndex(spark, sfDir)
      val roster = spark.read.parquet(s"$idx/exact")
        .select(col("keeper").as("doc_id"))
      val base = IncrementalDedup.tombPath(spark, sfDir)
      def ids(t: String) = spark.read.parquet(s"$t/ids").collect().map(_.getLong(0)).toSet
      def want(m: Int) = roster.filter(col("doc_id") % 7 === m)
        .collect().map(_.getLong(0)).toSet
      val t1 = IncrementalDedup.takedown(spark, roster.filter(col("doc_id") % 7 === 3), idx, base)
      val t2 = IncrementalDedup.takedown(spark, roster.filter(col("doc_id") % 7 === 5), idx, base)
      assert(want(3).nonEmpty && want(5).nonEmpty, "fixture requests are empty — test vacuous")
      assert(ids(t1) == want(3), "first tombstone does not hold the first request")
      assert(ids(t2) == want(5), "second request served the first request's tombstone")
      // replaying the first request lands on its own tombstone again
      assert(IncrementalDedup.takedown(spark,
        roster.filter(col("doc_id") % 7 === 3), idx, base) == t1)
    }
  }

  test("q162 retention window: retired-era content is readmitted, live-era still blocks") {
    import spark.implicits._
    withIndexRoot { root =>
      // era 0 (retired): X exact, N near-target; era 1 (live): Y
      val nearBase = (1 to 16).map(i => s"n$i").mkString(" ")
      val era0 = Seq((0L, "x1 x2 x3 x4 x5 x6"), (2L, nearBase)).toDF("doc_id", "text")
      val era1 = Seq((1L, "y1 y2 y3 y4 y5 y6")).toDF("doc_id", "text")
      val g0 = IncrementalDedup.buildGenIndex(spark, era0, s"$root/g0")
      val g1 = IncrementalDedup.buildGenIndex(spark, era1, s"$root/g1")
      val shard = Seq(
        (100L, "x1 x2 x3 x4 x5 x6"),                      // exact copy of RETIRED content
        (101L, "y1 y2 y3 y4 y5 y6"),                      // exact copy of LIVE content
        (102L, nearBase.replace("n16", "zz")),            // near-dup of RETIRED content
        (103L, "f1 f2 f3 f4 f5 f6"))                      // fresh
        .toDF("doc_id", "text")
      def rows(paths: Seq[String]) =
        IncrementalDedup.verdictsWindow(spark, shard, paths).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSeq
      val windowed = rows(Seq(g1))
      assert(windowed == Seq(
        (100L, "kept", true),             // era-0 expiry readmits X
        (101L, "exact_dup_corpus", false),
        (102L, "kept", true),             // near-block expired too
        (103L, "kept", true)), s"windowed verdicts wrong: $windowed")
      // windowed serve ≡ an index that never ingested the retired era
      val full = rows(Seq(g0, g1))
      assert(full.map(t => (t._1, t._2)) == Seq(
        (100L, "exact_dup_corpus"), (101L, "exact_dup_corpus"),
        (102L, "neardup_corpus"), (103L, "kept")),
        s"full-history verdicts wrong: $full")
      // single-generation window equals the plain single-index serve
      assert(windowed == IncrementalDedup.verdictsAgainst(spark, shard, g1)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSeq,
        "verdictsWindow over one generation drifted from verdictsAgainst")
    }
  }
}