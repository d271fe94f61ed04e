package graft

import graft.queries.IncrementalContain
import org.apache.spark.sql.functions._

/** The q179 contracts the DuckDB oracle cannot see: unambiguous verdict
  * semantics on a planted unique-vocabulary fixture, and the
  * ingest/replay idempotency of the containment intake loop. */
class IncrementalContainSpec extends SparkTestBase {

  /** Every doc draws from its own token alphabet, so the only
    * containments are the PLANTED prefix cuts:
    *  - corpus: 0, 6, 10, 20 (ids % 5 != 4); 0/10/20 are % 10 == 0 with
    *    >= 12 tokens, so the stage cuts their first halves into the
    *    shard (+1e6) -> contained_in_corpus, container = the original;
    *  - new pages: 4 and 9 (% 5 == 4); 4 is % 20 == 4, so its own first
    *    half also stages (+3e6) -> contained_in_batch (its container is
    *    a SHARD doc, invisible to the corpus index);
    *  - 4 and 9 themselves: kept. */
  private def plantedDir(): String = {
    import spark.implicits._
    def toks(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (0L, toks("a", 20)), (6L, toks("x", 8)), (10L, toks("b", 20)),
      (20L, toks("f", 20)), (4L, toks("c", 24)), (9L, toks("e", 16)))
    val dir = java.nio.file.Files.createTempDirectory("graft_contain_data").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q179 verdicts: planted prefix cuts route to corpus/batch containment, new pages keep") {
    withIndexRoot { _ =>
      val dir = plantedDir()
      val out = SparkEntry.queries("q179_contain_intake")(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2), r.get(3)))).toMap
      graft.Caches.release()
      assert(out.keySet == Set(4L, 9L, 1000000L, 1000010L, 1000020L, 3000004L),
        s"staged shard mix wrong: ${out.keySet}")
      assert(out(4L) == (("kept", true, null)), s"doc 4: ${out(4L)}")
      assert(out(9L) == (("kept", true, null)), s"doc 9: ${out(9L)}")
      assert(out(1000000L) == (("contained_in_corpus", false, 0L)))
      assert(out(1000010L) == (("contained_in_corpus", false, 10L)))
      assert(out(1000020L) == (("contained_in_corpus", false, 20L)))
      assert(out(3000004L) == (("contained_in_batch", false, null)),
        s"the new page's own snippet must be caught INSIDE the batch: ${out(3000004L)}")
    }
  }

  test("q179 ingest is idempotent: replay keeps nothing, re-ingest is a content no-op") {
    withIndexRoot { root =>
      val idx = IncrementalContain.buildIndex(spark, sfDir)
      val shard = spark.read.parquet(s"${IncrementalContain.stageShard(spark, sfDir)}/docs")
      def rows(p: String) = IncrementalContain.verdictsAgainst(spark, shard, p)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.get(3))).toSeq
      val v1 = rows(idx)
      val kept1 = v1.filter(_._3).map(_._1).toSet
      assert(kept1.nonEmpty, "fixture produced no kept docs — contract untestable")
      assert(v1.exists(_._2 == "contained_in_corpus") && v1.exists(_._2 == "contained_in_batch"),
        "driver corpus must exercise both containment classes")
      val g2 = IncrementalContain.ingest(spark, shard, idx, s"$root/gen2")
      val v2 = rows(g2)
      assert(v2.forall(!_._3), "replayed shard kept documents")
      // a formerly-kept doc is now contained by its own ingested copy:
      // nothing contained it before (else it would not have been kept),
      // so the minimum container is itself
      v2.filter(r => kept1.contains(r._1)).foreach { case (id, verdict, _, container) =>
        assert(verdict == "contained_in_corpus" && container == id,
          s"kept doc $id not recognized as its own ingest ($verdict, container=$container)")
      }
      // re-ingest: content-identical artifact (no growth on replay)
      val g3 = IncrementalContain.ingest(spark, shard, g2, s"$root/gen3")
      def content(p: String) = (
        spark.read.parquet(s"$p/sets").collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1), r.getInt(2))).toSet,
        spark.read.parquet(s"$p/df").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
      assert(content(g2) == content(g3), "re-ingest of the same shard changed the index")
      val (s1, _) = content(idx)
      val (s2, _) = content(g2)
      // kept docs with >= 2 tokens gain a sets row each
      assert(s2.size == s1.size + kept1.size,
        s"sets table grew by ${s2.size - s1.size}, expected ${kept1.size}")
    }
  }

  test("q182 takedown: redact, don't re-admit — citation nulls, blocking verdict stands") {
    withIndexRoot { _ =>
      val dir = plantedDir()
      // planted corpus ids {0, 6, 10, 20}: only 10 matches the % 7 = 3
      // request, and 10 is a CITED container (snippet 1000010's)
      val out = SparkEntry.queries("q182_contain_takedown")(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2), r.get(3)))).toMap
      graft.Caches.release()
      // the tombstoned container's citation nulls — but the verdict and
      // keep are UNTOUCHED: the content keeps blocking (the q142 policy)
      assert(out(1000010L) == (("contained_in_corpus", false, null)),
        s"redacted row wrong: ${out(1000010L)}")
      // every other row is bit-identical to q179's
      assert(out(1000000L) == (("contained_in_corpus", false, 0L)))
      assert(out(1000020L) == (("contained_in_corpus", false, 20L)))
      assert(out(3000004L) == (("contained_in_batch", false, null)))
      assert(out(4L) == (("kept", true, null)))
      assert(out(9L) == (("kept", true, null)))
    }
  }

  test("q183 retention window: retired-era containments readmit, live-era ones block") {
    withIndexRoot { root =>
      val dir = plantedDir()
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text").filter(col("doc_id") % 5 =!= 4)
      // custom eras (sharper than the registered parity split): docs 0
      // and 10 retire, 6 and 20 stay live
      val g0 = IncrementalContain.buildGenIndex(spark,
        docs.filter(col("doc_id").isin(0L, 10L)), s"$root/era0")
      val g1 = IncrementalContain.buildGenIndex(spark,
        docs.filter(col("doc_id").isin(6L, 20L)), s"$root/era1")
      val shard = spark.read.parquet(s"${IncrementalContain.stageShard(spark, dir)}/docs")
      val win = IncrementalContain.verdictsWindow(spark, shard, Seq(g1)).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2), r.get(3)))).toMap
      val hit0 = IncrementalContain.corpusContainers(
          graft.queries.Dedup.shingleSetsOf(shard),
          spark.read.parquet(s"$g0/postings"), spark.read.parquet(s"$g0/sets"),
          spark.read.parquet(s"$g0/df"))
        .collect().map(_.getLong(0)).toSet
      graft.Caches.release()
      // live-era containment still blocks, citing the live container
      assert(win(1000020L) == (("contained_in_corpus", false, 20L)))
      // retired-era containments are ADMITTED by the window serve...
      assert(win(1000000L) == (("kept", true, null)))
      assert(win(1000010L) == (("kept", true, null)))
      // ...and the era-0 audit arm flags exactly them as readmissions
      assert(hit0.contains(1000000L) && hit0.contains(1000010L),
        s"audit arm missed a retired-era containment: $hit0")
      assert(!hit0.contains(4L) && !hit0.contains(9L),
        "audit arm flagged a genuinely new page")
      // batch containment is era-independent
      assert(win(3000004L) == (("contained_in_batch", false, null)))
    }
  }

  test("q183 on the driver corpus: non-vacuous readmission, readmitted ⊆ kept") {
    withIndexRoot { _ =>
      val rows = SparkEntry.queries("q183_contain_retention")(spark, sfDir).collect()
      graft.Caches.release()
      assert(rows.exists(_.getBoolean(4)),
        "driver corpus must exercise the readmission path (the +1e6 snippets cut % 10 = 0 docs — all era-0)")
      rows.filter(_.getBoolean(4)).foreach(r =>
        assert(r.getBoolean(2), s"readmitted row ${r.getLong(0)} is not kept"))
    }
  }
}
