package graft.tools

import org.apache.spark.sql.functions._

/** Heaps-law-vocabulary scale probe — the measurement that closes the
  * last unmeasured 100×-scale claim in BASELINE.md's q32 analysis.
  *
  * The driver corpus generator draws from a FIXED 31-token vocabulary at
  * every scale factor, so every shingle is common, prefix selectivity
  * collapses, and the q32 candidate stream grows ~quadratically (the
  * measured 6.0M → 612.7M step; the shipped fix is the
  * `graft_overlap_reaches` early-exit INSIDE the join). A real crawl is
  * nothing like that: vocabulary grows with corpus size (Heaps' law,
  * V ≈ K·T^β with β ≈ 0.5) and token frequencies are Zipf-distributed,
  * so most shingles are RARE and the rarest-first prefix filter regains
  * its selectivity. That claim was analytical until this probe: generate
  * a Heaps/Zipf corpus at 1×/4×/10×, run the text-stack queries on it,
  * and instrument q32's candidate pipeline stage sizes
  * (`Dedup.jaccardCandidateStats` — the SAME relations the production
  * query joins). Evidence target: raw prefix-join pairs scale like the
  * OUTPUT (the planted near-dup rate ⇒ ~linear in docs), not
  * quadratically.
  *
  * Generation (deterministic, splitmix64-keyed — the Sf1Bench idiom):
  *  - vocabulary: V(T) = ⌈8·√T⌉ words for T expected tokens (β = 0.5) —
  *    the vocabulary GROWS with each scale step, as a crawl's does;
  *  - token draws: Zipf(s = 1.05) over ranks 1..V by inverse CDF — a
  *    stopword-like head (df ≈ corpus size) and a long rare tail;
  *  - doc lengths 20..99 tokens (uniform, avg ≈ 60);
  *  - planted structure at the Sf1Bench rates: ~2% one-token-perturbed
  *    near-dups of the predecessor, ~1% exact dups — so q32/q33/q46
  *    have real output whose size anchors "output-sized";
  *  - lang/source assignment as in the driver corpus (5 langs, 20
  *    sources) so q51's eval split and q93's train split see the same
  *    shapes they see in production.
  *
  * Usage: runMain graft.tools.HeapsProbe [outRoot] [scales...]
  * Prints one `[heaps]` JSON line per scale: measured vocabulary,
  * per-query best-of-2 seconds, and the q32 stage sizes.
  */
object HeapsProbe extends Serializable { // generator closures call the (stateless) module's hash helpers
  import Splitmix.{mix, u01}

  private val BaseDocs = 5000 // ≈ the sf0.1 documents row count
  private val AvgLen = 60
  private val ZipfS = 1.05
  // q103/q111 joined in round 13 (verdict ask): the two heaviest
  // gram-explode relations — the stride-1 dup-span profiler and the
  // reference-gram novelty audit — so the realistic-vocabulary curve
  // covers every explode-bound member of the text stack.
  // q130 joined in round 13: the vocabulary statistics report runs ON
  // the probe's √T-growth corpus — the exact regime its Heaps section
  // measures — so the probe times the reporter in the regime it reports.
  // q150/q152/q153/q156/q161 joined in round 15: the strip arms (window
  // explodes, q103's class), the OOV-drift and perplexity/curriculum
  // operators (vocab-keyed model joins — the relations that are
  // Heaps-unbounded and therefore deliberately JOINED, never broadcast,
  // in their plans), and the eval-window semi-join.
  // q164 joined in round 16: the unigram-LM trainer's EM rounds
  // shuffle the word-TYPE relation (pure Heaps growth — the exact
  // regime the trainer's vocab-bounded-collect claim must survive).
  // q168 is NOT probed: its vocabulary-keyed half is exactly q161's
  // window stack (already timed), and its other parent reads the
  // embeddings table this text-only corpus does not generate.
  // This list times every vocabulary-keyed member of the catalog in
  // the growing-vocabulary regime its plan claims to survive.
  // q172/q180/q181/q179 joined in round 18 (verdict ask #2): the
  // containment family measured in the Heaps regime its 100 TB story
  // claims — q181's recall row is the committed "banded recall → 1 on
  // real-vocabulary corpora" point, containCandidateStats the
  // near-linear candidate-volume point, and q179 the gated serve's step
  // on the same corpus.
  // q69/q154 joined in round 19 (verdict ask #5): the vocabulary-
  // coverage report and the skew profiler see an unrealistically CLOSED
  // key space on the fixed-vocab sf1 bootstrap (~31 types: every token
  // is a head token, df ≈ corpus size) — their Heaps-regime rows record
  // the open-vocabulary behavior their plans claim: bucketed ranking
  // over a √T-growing type relation (q69) and a salt profile whose head
  // share actually thins as the tail grows (q154).
  private val Queries = Seq("q32_ngram_jaccard", "q33_minhash_lsh", "q44_corpus_filter",
    "q46_neardup_components", "q51_decontaminate", "q69_vocab_coverage",
    "q85_bloom_decontaminate",
    "q93_bigram_surprisal", "q103_dupspan_profile", "q111_novelty_audit",
    "q130_vocab_report", "q150_dupspan_strip", "q152_oov_drift",
    "q153_ppl_buckets", "q154_skew_profile", "q156_curriculum_plan",
    "q161_decontam_strip",
    "q164_unigram_encode", "q172_containment_dedup", "q180_contain_banded",
    "q179_contain_intake")

  /** Zipf(s) CDF over ranks 1..v — tiny (V ≤ ~15k doubles), captured
    * into the generator closure. */
  private def zipfCdf(v: Int): Array[Double] = {
    val w = Array.tabulate(v)(r => 1.0 / math.pow(r + 1.0, ZipfS))
    val tot = w.sum
    val cdf = new Array[Double](v)
    var acc = 0.0
    var i = 0
    while (i < v) { acc += w(i) / tot; cdf(i) = acc; i += 1 }
    cdf
  }

  def main(args: Array[String]): Unit = {
    val outRoot = args.headOption.getOrElse("/tmp/graft_heaps")
    val scales = if (args.length > 1) args.tail.map(_.toInt).toSeq else Seq(1, 4, 10)
    val spark = graft.Harness.session()
    import spark.implicits._
    spark.range(1000000).selectExpr("sum(id)").collect()

    def genDir(k: Int): String = {
      val out = s"$outRoot/x$k"
      val marker = new java.io.File(s"$out/_GENERATED")
      if (!marker.exists()) {
        val nDocs = BaseDocs.toLong * k
        val v = math.ceil(8.0 * math.sqrt(nDocs.toDouble * AvgLen)).toInt
        val cdf = zipfCdf(v)
        def genText(id: Long): String = {
          val len = 20 + (u01(id * 7919L + 1) * 80).toInt
          val sb = new StringBuilder(len * 6)
          var j = 0
          while (j < len) {
            if (j > 0) sb.append(' ')
            val u = u01(id * 104729L + 31L * j)
            var idx = java.util.Arrays.binarySearch(cdf, u)
            if (idx < 0) idx = -idx - 1
            sb.append('w').append(math.min(idx, v - 1))
            j += 1
          }
          sb.toString
        }
        // planted structure references the STORED text of the earlier doc
        // (recursively — a plant whose target is itself a plant copies
        // what that doc actually holds), so the promised exact/near-dup
        // rates hold even when plants chain; chains are 2-4 hops at most
        // (consecutive plant conditions exclude each other mod 97/50)
        def storedText(id: Long): String =
          if (id % 97 == 3 && id >= 2) storedText(id - 2) // ~1% exact dup
          else if (id % 50 == 1 && id >= 1) {             // ~2% near-dup
            val t = storedText(id - 1).split(" ")
            t(t.length / 2) = "ndmark" + (id % 9)
            t.mkString(" ")
          } else genText(id)
        spark.range(nDocs).map { id =>
          val text = storedText(id)
          (id, text, "l" + (mix(id * 31L + 11) >>> 33) % 5,
            "src" + (mix(id * 13L + 5) >>> 33) % 20, text.length.toLong)
        }.toDF("doc_id", "text", "lang", "source", "n_chars")
          .repartition(graft.Harness.cpus.toInt)
          .write.mode("overwrite").parquet(s"$out/documents.parquet")
        marker.getParentFile.mkdirs()
        java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
      }
      out
    }

    scales.foreach { k =>
      val dir = genDir(k)
      val vocab = graft.Tables.documents(spark, dir)
        .select(explode(split(col("text"), " "))).distinct().count()
      val times = Queries.map { q =>
        val fn = graft.SparkEntry.queries(q)
        q -> (1 to 2).map(_ => graft.Harness.noopSeconds(spark)(fn(spark, dir))).min
      }
      graft.Caches.release(); spark.catalog.clearCache()
      val stats = graft.queries.Dedup.jaccardCandidateStats(spark, dir)
      graft.Caches.release(); spark.catalog.clearCache()
      val cstats = graft.queries.Dedup.containCandidateStats(spark, dir)
      graft.Caches.release(); spark.catalog.clearCache()
      val recall = graft.SparkEntry.queries("q181_contain_recall")(spark, dir).collect().head
      graft.Caches.release(); spark.catalog.clearCache()
      val qs = times.map { case (q, t) => s""""$q":${math.round(t * 1000) / 1000.0}""" }.mkString(",")
      val st = stats.toSeq.sortBy(_._1).map { case (n, x) => s""""$n":$x""" }.mkString(",")
      val cs = cstats.toSeq.sortBy(_._1).map { case (n, x) => s""""$n":$x""" }.mkString(",")
      val rc = s""""n_exact":${recall.getLong(0)},"n_banded":${recall.getLong(1)},""" +
        s""""n_hit":${recall.getLong(2)},"recall":${recall.getDouble(3)}"""
      println(s"""[heaps] {"scale":$k,"docs":${BaseDocs.toLong * k},"vocab":$vocab,"times":{$qs},"q32_stats":{$st},"contain_stats":{$cs},"contain_recall":{$rc}}""")
    }
    spark.stop()
  }
}
