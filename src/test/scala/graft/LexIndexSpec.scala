package graft

import org.apache.spark.sql.functions._
import graft.queries.LexIndex

/** The persisted lexical index (q131/q132): round-trip identity with
  * the fresh BM25 path, additive-merge identity for the daily intake,
  * and publish/replay semantics. */
class LexIndexSpec extends SparkTestBase {

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
    .toSeq

  test("q131 serve from the frozen index equals the fresh q91 computation exactly") {
    val fresh = rows(SparkEntry.queries("q91_bm25_topk")(spark, sfDir))
    val served = rows(SparkEntry.queries("q131_lex_index_serve")(spark, sfDir))
    assert(served == fresh,
      s"index round-trip drifted from the fresh path:\n idx=$served\n q91=$fresh")
  }

  test("q132 generation-union serve equals a fresh build over corpus ∪ shard") {
    // additivity ground truth computed in-engine, never via the artifact:
    // one index built from the UNION corpus must serve identically to
    // the gen0 ∪ gen1 union with added stats
    val union = Tables.documents(spark, sfDir).select("doc_id", "text")
      .filter(col("doc_id") % 5 =!= 4)
      .unionByName(Tables.documents(spark, sfDir).select("doc_id", "text")
        .filter(col("doc_id") % 5 === 4)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val dir = java.nio.file.Files.createTempDirectory("graft_lex").toFile
    dir.deleteOnExit()
    val full = LexIndex.build(spark, union, s"${dir.getAbsolutePath}/full")
    val fresh = rows(LexIndex.serve(spark, Seq(full)))
    val incremental = rows(SparkEntry.queries("q132_incremental_lex")(spark, sfDir))
    assert(incremental == fresh,
      s"additive merge drifted from the scratch build:\n inc=$incremental\n scratch=$fresh")
  }

  test("q133 tombstone serve equals a fresh build that never saw the removed docs") {
    val survivors = Tables.documents(spark, sfDir).select("doc_id", "text")
      .filter(col("doc_id") % 5 =!= 4 && col("doc_id") % 7 =!= 3)
      .unionByName(Tables.documents(spark, sfDir).select("doc_id", "text")
        .filter(col("doc_id") % 5 === 4)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val dir = java.nio.file.Files.createTempDirectory("graft_lex").toFile
    dir.deleteOnExit()
    val clean = LexIndex.build(spark, survivors, s"${dir.getAbsolutePath}/clean")
    val fresh = rows(LexIndex.serve(spark, Seq(clean)))
    val tomb = rows(SparkEntry.queries("q133_lex_takedown")(spark, sfDir))
    assert(tomb == fresh,
      s"subtractive takedown drifted from the never-saw-them build:\n t=$tomb\n f=$fresh")
  }

  test("q134 compaction is physically clean and serve-identical to the logical union") {
    val logical = rows(SparkEntry.queries("q133_lex_takedown")(spark, sfDir))
    val compacted = rows(SparkEntry.queries("q134_lex_compact")(spark, sfDir))
    assert(compacted == logical, "compacted serve differs from the tombstone serve")
    // tombstoned ids are PHYSICALLY gone from the compacted postings
    // and roster, and the stats fold to one non-negative row
    val c = LexIndex.compactPath(spark, sfDir)
    Seq("postings", "doclens").foreach { rel =>
      val n = spark.read.parquet(s"$c/$rel")
        .filter(col("doc_id") % 7 === 3 && col("doc_id") < 1000000L).count()
      assert(n == 0L, s"$rel still holds $n tombstoned rows after compaction")
    }
    val st = spark.read.parquet(s"$c/stats").collect()
    assert(st.length == 1 && st.head.getLong(0) > 0 && st.head.getLong(1) > 0)
    // and the folded stats equal the compacted roster's own totals
    val roster = spark.read.parquet(s"$c/doclens")
      .agg(count(lit(1)), sum(col("dl"))).collect().head
    assert((st.head.getLong(0), st.head.getLong(1)) ==
      ((roster.getLong(0), roster.getLong(1))))
  }

  test("takedown accounting counts only docs actually present in the index") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lex").toFile
    dir.deleteOnExit()
    val docs = Seq((0L, "a b"), (1L, "c")).toDF("doc_id", "text")
    val idx = LexIndex.build(spark, docs, s"${dir.getAbsolutePath}/idx")
    // request removes doc 1 and a doc the index never held
    val t = LexIndex.takedown(spark, Seq(1L, 99L).toDF("doc_id"),
      Seq(idx), s"${dir.getAbsolutePath}/tomb")
    val ids = spark.read.parquet(s"$t/ids").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L), s"tombstone ids should drop the unknown doc: $ids")
    val st = spark.read.parquet(s"$t/stats").collect().head
    assert((st.getLong(0), st.getLong(1)) == ((-1L, -1L)))
  }

  test("overlapping takedown requests subtract each doc's stats exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lex").toFile
    dir.deleteOnExit()
    val corpus = Tables.documents(spark, sfDir).select("doc_id", "text").limit(40)
    val g0 = LexIndex.build(spark, corpus, s"${dir.getAbsolutePath}/g0")
    // two requests with an overlap: {id%4=1} then {id%4=1 or id%8=2};
    // the second names every doc of the first again
    val roster = spark.read.parquet(s"$g0/doclens").select("doc_id")
    val t1 = LexIndex.takedown(spark, roster.filter(col("doc_id") % 4 === 1),
      Seq(g0), s"${dir.getAbsolutePath}/t1")
    val t2 = LexIndex.takedown(spark,
      roster.filter(col("doc_id") % 4 === 1 || col("doc_id") % 8 === 2),
      Seq(g0), s"${dir.getAbsolutePath}/t2", tombPaths = Seq(t1))
    // the second tombstone prices only the docs not already tombstoned
    val t2ids = spark.read.parquet(s"$t2/ids").collect().map(_.getLong(0)).toSet
    assert(t2ids.forall(_ % 8 == 2) && t2ids.forall(_ % 4 != 1),
      s"second tombstone re-priced already-removed docs: $t2ids")
    // summed stats across g0 ∪ t1 ∪ t2 equal a build that never saw the union
    val survivors = corpus.filter(col("doc_id") % 4 =!= 1 && col("doc_id") % 8 =!= 2)
    val clean = LexIndex.build(spark, survivors, s"${dir.getAbsolutePath}/clean")
    val summed = Seq(g0, t1, t2).map(p => spark.read.parquet(s"$p/stats"))
      .reduce(_ unionByName _)
      .agg(sum(col("n_docs")), sum(col("n_toks"))).collect().head
    val fresh = spark.read.parquet(s"$clean/stats").collect().head
    assert((summed.getLong(0), summed.getLong(1)) ==
      ((fresh.getLong(0), fresh.getLong(1))),
      "overlapping tombstones double-subtracted the shared docs")
    // and the double-tombstone serve equals the never-saw-them serve
    assert(rows(LexIndex.serve(spark, Seq(g0), Seq(t1, t2))) ==
      rows(LexIndex.serve(spark, Seq(clean))))
  }

  test("a takedown against the COMPACTED artifact composes: compaction is invisible to later lifecycle ops") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lex").toFile
    dir.deleteOnExit()
    val d = dir.getAbsolutePath
    val corpus = Tables.documents(spark, sfDir).select("doc_id", "text").limit(40)
    val g0 = LexIndex.build(spark, corpus, s"$d/g0")
    val roster = spark.read.parquet(s"$g0/doclens").select("doc_id")
    val t1 = LexIndex.takedown(spark, roster.filter(col("doc_id") % 4 === 1),
      Seq(g0), s"$d/t1")
    val c = LexIndex.compact(spark, Seq(g0), Seq(t1), s"$d/c")
    // the second request RE-LISTS the already-compacted-away docs plus
    // new ones: the compacted roster no longer holds the former, so the
    // new tombstone prices only the latter — correct double-removal
    // accounting with NO tombPaths plumbing, because compaction left
    // the roster itself clean
    val t2 = LexIndex.takedown(spark,
      roster.filter(col("doc_id") % 4 === 1 || col("doc_id") % 8 === 2),
      Seq(c), s"$d/t2")
    val t2ids = spark.read.parquet(s"$t2/ids").collect().map(_.getLong(0)).toSet
    assert(t2ids.nonEmpty && t2ids.forall(i => i % 8 == 2 && i % 4 != 1),
      s"takedown against the compacted artifact re-priced compacted-away docs: $t2ids")
    val clean = LexIndex.build(spark,
      corpus.filter(col("doc_id") % 4 =!= 1 && col("doc_id") % 8 =!= 2), s"$d/clean")
    assert(rows(LexIndex.serve(spark, Seq(c), Seq(t2))) ==
      rows(LexIndex.serve(spark, Seq(clean))),
      "post-compaction takedown serve drifted from the never-saw-them build")
  }

  test("build is replay-idempotent: a second publish at the same path is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lex").toFile
    dir.deleteOnExit()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").limit(20)
    val path = LexIndex.build(spark, docs, s"${dir.getAbsolutePath}/idx")
    val before = rows(LexIndex.serve(spark, Seq(path)))
    val marker = new java.io.File(s"$path/_COMPLETE")
    val mtime = marker.lastModified()
    // replay with DIFFERENT docs: the completed artifact must win —
    // publish returns without rebuilding (the q78 contract)
    LexIndex.build(spark, docs.limit(5), path)
    assert(marker.lastModified() == mtime, "replay rewrote the completed artifact")
    assert(rows(LexIndex.serve(spark, Seq(path))) == before)
  }

  test("the artifact postings agree with a per-doc replay on a tiny corpus") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b a"), (1L, "b c"), (2L, "a  c") // double space -> empty token in dl
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_lex").toFile
    dir.deleteOnExit()
    val path = LexIndex.build(spark, docs, s"${dir.getAbsolutePath}/tiny")
    val postings = spark.read.parquet(s"$path/postings").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val expect = Set(
      ("a", 0L, 2L, 3L), ("b", 0L, 1L, 3L), ("b", 1L, 1L, 2L), ("c", 1L, 1L, 2L),
      ("a", 2L, 1L, 3L), ("c", 2L, 1L, 3L), ("", 2L, 1L, 3L)) // dl counts the empty token
    assert(postings == expect, s"postings mismatch: $postings")
    val stats = spark.read.parquet(s"$path/stats").collect().head
    assert((stats.getLong(0), stats.getLong(1)) == ((3L, 8L)))
  }

  test("q155 phrase serve: adjacency, overlap counting, doc-boundary isolation") {
    import spark.implicits._
    // every phrase behavior the oracle's uniform corpus cannot pin:
    //  - doc 0: "table value" occurs TWICE (occurrence counting, not
    //    boolean matching);
    //  - doc 1: the second "row scan" starts where the first ended
    //    (adjacent restarts both count);
    //  - docs 2/3: doc 2 ENDS with "table" and doc 3 STARTS with
    //    "value" — positions are per-document, so the seam must NOT
    //    match "table value" (a global-offset index would);
    //  - ranks break n_occ ties by doc_id.
    val dir = java.nio.file.Files.createTempDirectory("graft_phr").toFile
    dir.deleteOnExit()
    Seq(
      (0L, "table value table value part"),
      (1L, "row scan row scan row"),
      (2L, "slow fast data window table"),
      (3L, "value data window slow"),
      (4L, "value table part slow fast"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val got = SparkEntry.queries("q155_phrase_index")(spark, dir.getAbsolutePath)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val want = Seq(
      (1, 1, 0L, 2L),               // "table value" ×2 in doc 0; no seam hit
      (2, 1, 1L, 2L),               // "row scan" ×2, back to back
      (3, 1, 4L, 1L),               // "value table part" only as a true triple
      (4, 1, 2L, 1L), (4, 2, 3L, 1L),
      (5, 1, 2L, 1L), (5, 2, 4L, 1L))
    assert(got == want, s"phrase serve mismatch:\n got=$got\nwant=$want")
  }

  test("q157 generation-union phrase serve equals the from-scratch build, shard can win") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_phr2").toFile
    dir.deleteOnExit()
    val corpus = Seq(
      (0L, "table value part data"),         // "table value" ×1
      (1L, "row scan slow fast window"))
    // the shard doc out-OCCURS the corpus doc on query 1 — the union
    // serve must rank it FIRST, proving the intake generation actually
    // participates (not just hash-coincides)
    val shard = Seq(
      (100L, "table value table value table value"))
    def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    val g0 = LexIndex.buildPhraseGen(spark, df(corpus), s"${dir.getAbsolutePath}/g0")
    val g1 = LexIndex.buildPhraseGen(spark, df(shard), s"${dir.getAbsolutePath}/g1")
    val full = LexIndex.buildPhraseGen(spark, df(corpus ++ shard),
      s"${dir.getAbsolutePath}/full")
    def rows(paths: Seq[String]) = LexIndex.servePhrases(spark, paths)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val union = rows(Seq(g0, g1))
    assert(union == rows(Seq(full)),
      "two-generation phrase serve differs from the from-scratch build")
    assert(union.take(2) == Seq((1, 1, 100L, 3L), (1, 2, 0L, 1L)),
      s"shard generation did not participate in the ranking: ${union.take(2)}")
  }

  test("q159/q160 phrase takedown masks exactly the removed doc; compaction serve-identical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_phr3").toFile
    dir.deleteOnExit()
    val root = dir.getAbsolutePath
    val corpus = Seq(
      (0L, "table value table value"), // the q1 winner — and the takedown target
      (1L, "table value part"))
    val shard = Seq((100L, "table value slow fast"))
    def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    val g0 = LexIndex.buildPhraseGen(spark, df(corpus), s"$root/g0")
    val g1 = LexIndex.buildPhraseGen(spark, df(shard), s"$root/g1")
    val t = LexIndex.phraseTakedown(spark, Seq(0L, 0L).toDF("doc_id"), s"$root/t")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val tomb = rows(LexIndex.servePhrasesTomb(spark, Seq(g0, g1), Seq(t)))
    // the removed winner vanishes; survivors tie at 1 and rank by doc_id
    assert(!tomb.exists(_._3 == 0L), s"tombstoned doc still served: $tomb")
    assert(tomb.filter(_._1 == 1) == Seq((1, 1, 1L, 1L), (1, 2, 100L, 1L)),
      s"post-takedown q1 ranking wrong: ${tomb.filter(_._1 == 1)}")
    // never-saw-them equality: a from-scratch build over the survivors
    val scratch = LexIndex.buildPhraseGen(spark,
      df(corpus.filter(_._1 != 0L) ++ shard), s"$root/scratch")
    assert(tomb == rows(LexIndex.servePhrases(spark, Seq(scratch))),
      "tombstone serve differs from the never-saw-them build")
    // compaction: physically clean and indistinguishable from the union
    val c = LexIndex.phraseCompact(spark, Seq(g0, g1), Seq(t), s"$root/c")
    assert(rows(LexIndex.servePhrases(spark, Seq(c))) == tomb,
      "compacted serve differs from the tombstone serve")
    assert(spark.read.parquet(s"$c/positions")
      .filter(col("doc_id") === 0L).count() == 0,
      "compaction left tombstoned rows in the artifact")
  }

  test("q166 retention serve equals a rebuild that never saw the retired era, with honest audit bits") {
    val got = SparkEntry.queries("q166_lex_retention")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getInt(4),
        if (r.isNullAt(5)) -1 else r.getInt(5), r.getBoolean(6))).toSeq
    // (a) the windowed columns == q91 run fresh over a corpus that only
    // ever contained the live era (the never-ingested-that-era rebuild)
    val liveDir = java.nio.file.Files.createTempDirectory("graft_lexret").toString
    Tables.documentsWide(spark, sfDir).filter(col("doc_id") % 2 === 1)
      .write.mode("overwrite").parquet(s"$liveDir/documents.parquet")
    val fresh = rows(SparkEntry.queries("q91_bm25_topk")(spark, liveDir))
    assert(got.map(r => (r._1, r._2, r._3, r._4, r._5)) == fresh,
      "windowed retention serve differs from the never-saw-era-0 rebuild")
    // (b) audit bits: resurfaced ⇔ absent from the full-history top-k,
    // and rank_full reports the doc's true full-history rank
    val full = rows(SparkEntry.queries("q131_lex_index_serve")(spark, sfDir))
      .map(r => (r._1, r._3) -> r._2).toMap
    got.foreach { r =>
      val fullRank = full.get((r._1, r._3))
      assert(r._7 == fullRank.isEmpty, s"resurfaced bit wrong: $r")
      assert(r._6 == fullRank.getOrElse(-1), s"rank_full wrong: $r vs $fullRank")
    }
    // (c) retirement is visible on this corpus: some rank moved or some
    // doc resurfaced (era 0 is half the corpus — its departure must show)
    assert(got.exists(r => r._7 || r._6 != r._2),
      "retirement of half the corpus left every rank untouched — vacuous fixture")
    graft.Caches.release()
  }

  test("q169 positional retention serves only live-era docs with honest audit bits") {
    val got = SparkEntry.queries("q169_phrase_retention")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1 else r.getInt(4), r.getBoolean(5))).toSeq
    assert(got.nonEmpty)
    // (a) retirement enforced: every served doc is odd (era 1)
    assert(got.forall(_._3 % 2 == 1),
      s"retired era-0 doc in the windowed phrase serve: ${got.filter(_._3 % 2 == 0)}")
    // (b) audit bits against the full-history serve (q155's artifact IS
    // era 0 ∪ era 1 — positions are per-doc, union is exact)
    val full = SparkEntry.queries("q155_phrase_index")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(2)) -> r.getInt(1)).toMap
    got.foreach { r =>
      val hit = full.get((r._1, r._3))
      assert(r._6 == hit.isEmpty, s"resurfaced bit wrong: $r")
      assert(r._5 == hit.getOrElse(-1), s"rank_full wrong: $r vs $hit")
    }
    graft.Caches.release()
  }
}
