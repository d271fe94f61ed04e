package graft.tools

import org.apache.spark.sql.functions._

/** Scaling probe: replicate the documents corpus k× (doc_ids offset so
  * every copy is distinct — no artificial exact-dup collapse) and time
  * the heavy corpus operators at each factor. The point is the growth
  * CURVE, not the absolute numbers: a candidate-generation plan that is
  * secretly quadratic shows a 4× step between factors; the equi-join +
  * capped-bucket plans should step roughly linearly (plus the fixed
  * scheduler floor).
  *
  * Usage: runMain graft.tools.ScaleProbe [baseSfDir] [factors...]
  * Writes scaled corpora under /tmp/graft_scale/x<k>/ and prints one
  * JSON line per factor.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = if (args.length > 1) args.tail.map(_.toInt).toSeq else Seq(1, 2, 4, 8)
    val queries = Seq("q31_exact_dedup", "q32_ngram_jaccard", "q33_minhash_lsh",
      "q44_corpus_filter", "q46_neardup_components", "q55_repetition",
      "q66_span_dedup", "q67_surprisal", "q72_curation_verdict",
      // round 11: the corpus-module replication rows — q92/q96's
      // two-phase prefix sums, q91's broadcast-workload retrieval, and
      // q99's agg+join dup accounting must all step linearly
      "q91_bm25_topk", "q92_corpus_shard", "q96_corpus_prepare",
      "q99_dataset_card")
    // embedding-side heavies: need a scaled embeddings table (vec_id
    // offset per copy; vectors unchanged — these ops generate no pairs,
    // so identical copies are not an artificial shortcut)
    val embQueries = Seq("q63_pq_codes", "q71_ivfpq_search", "q68_embed_outliers")
    // event-side: the exact per-group quantiles and their sketch twin
    // over a replicated events table (ids offset per copy so per-user
    // densities stay constant; values/types unchanged, so group counts
    // grow k× while the group KEY domain stays 5 event types — exactly
    // the regime that separates a per-group sort from a bounded sketch)
    val evQueries = Seq("q58_grouped_quantiles", "q77_quantile_sketch")
    // above 8× only the probe's rising curves and the two K-key-group
    // designs matter (judge round 6 #6); q32 is excluded there because
    // its true output is C(k,2) pairs per doc — ~2 and ~8 minutes at
    // 16×/32× measuring output size, not plan shape (see BASELINE.md)
    val bigFactorQueries =
      Set("q33_minhash_lsh", "q44_corpus_filter", "q46_neardup_components",
          "q58_grouped_quantiles", "q77_quantile_sketch", "q68_embed_outliers")
    val spark = graft.Harness.session()
    spark.range(1000000).selectExpr("sum(id)").collect()

    val docs = graft.Tables.documents(spark, base)
    val maxId = docs.agg(max("doc_id")).head.getLong(0) + 1
    val embs = graft.Tables.embeddings(spark, base)
    val maxVec = embs.agg(max("vec_id")).head.getLong(0) + 1
    // raw events with ts kept as the nanosecond long, so the scaled
    // parquet reads back through Tables.events identically to testdata
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val evs = spark.read.parquet(s"$base/events.parquet")
    val maxEv = evs.agg(max("event_id")).head.getLong(0) + 1
    val maxUser = evs.agg(max("user_id")).head.getLong(0) + 1

    factors.foreach { k =>
      val dir = s"/tmp/graft_scale/x$k"
      val scaled = (0 until k).map { i =>
        // offset ids AND perturb one token per copy so replicas are
        // near-dups of each other, not byte-identical texts — the
        // adversarial shape for candidate generation (exact-dup hashing
        // must NOT be what saves the fuzzy plans)
        docs.select((col("doc_id") + lit(i * maxId)).as("doc_id"),
          (if (i == 0) col("text")
           else concat(col("text"), lit(s" copymark$i"))).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
      scaled.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val scaledEmb = (0 until k).map { i =>
        embs.select((col("vec_id") + lit(i * maxVec)).as("vec_id"),
          col("embedding"), col("label"))
      }.reduce(_ unionByName _)
      scaledEmb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val scaledEv = (0 until k).map { i =>
        evs.select((col("event_id") + lit(i * maxEv)).as("event_id"), col("ts"),
          (col("user_id") + lit(i * maxUser)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _)
      scaledEv.write.mode("overwrite").parquet(s"$dir/events.parquet")
      // warmup pass then timed pass, mirroring Bench methodology
      val probeQs = (queries ++ embQueries ++ evQueries)
        .filter(q => k <= 8 || bigFactorQueries(q))
      val times = probeQs.map { q =>
        val fn = graft.SparkEntry.queries(q)
        q -> (1 to 2).map(_ => graft.Harness.noopSeconds(spark)(fn(spark, dir))).min
      }
      val qs = times.map { case (q, t) => s""""$q":${math.round(t * 1000) / 1000.0}""" }.mkString(",")
      println(s"""[scale] {"factor":$k,"docs":${maxId * k},$qs}""")
    }
    spark.stop()
  }
}
