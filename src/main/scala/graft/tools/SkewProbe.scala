package graft.tools

import org.apache.spark.sql.functions._

/** Adversarial SKEW probe: plant 90%-single-key skew in the corpora and
  * show the capped plans absorb it — runtimes stay within the uniform
  * corpus's envelope and output sizes stay cap-bounded instead of going
  * quadratic in the hot key's multiplicity.
  *
  * Two plants, per the operators' distinct skew surfaces:
  *  - documents: 90% of docs get ONE shared ~200-token boilerplate
  *    suffix (distinct prefixes, so the exact-hash prepass cannot save
  *    the fuzzy plans). This saturates the MinHash bands (most minima
  *    come from boilerplate shingles → one mega band-key per band), the
  *    SimHash halves, and makes every boilerplate trigram a dominant
  *    join key with df ≈ 0.9·N for the decontamination join.
  *  - embeddings: 90% of vectors are replaced by vector 0's embedding —
  *    every cosine-LSH table gets one saturated plane-signature bucket.
  *
  * What must hold (the caps' construction): q33 sizes buckets with a
  * map-side-combined COUNT before collecting members (the hot key costs
  * one counter per map task, never a corpus-sized array in one reducer)
  * and drops over-cap buckets; q35/q39 have no count-prune pass and are
  * bounded by graft_collect_capped alone (every buffer stops at cap+1
  * in partials, merges, and the final); q51 excludes trigrams with
  * df > max(2, N/20) BY DEFINITION. So skew changes which buckets
  * survive, not how much any single task buffers.
  *
  * Usage: runMain graft.tools.SkewProbe [baseSfDir] [factors...]
  * Writes corpora under /tmp/graft_skew/<variant>/x<k>/ and prints one
  * JSON line per (factor, variant), plus output-size sanity counts.
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = if (args.length > 1) args.tail.map(_.toInt).toSeq else Seq(1, 2, 4)
    // q90/q93 (round 10): the boilerplate plant is exactly q90's subject
    // matter (its (source, seg-md5) df keys go hot), and it floods q93's
    // (w1, w2) model-join keys with ~200 dominant boiler bigrams — the
    // two new shuffle surfaces worth probing
    // round 11: q103/q111/q113 added — the boilerplate plant makes one
    // 8-gram window/shingle key carry ~0.9·N·193 occurrences: q103's
    // min(struct) first-occurrence agg, q111's (doc, g) and ref-gram
    // distincts, and q113's per-source shingle distinct must all absorb
    // it map-side (partial aggregation), never in one reducer
    val docQs = Seq("q33_minhash_lsh", "q35_simhash_pairs", "q44_corpus_filter",
      "q51_decontaminate", "q90_boilerplate_strip", "q93_bigram_surprisal",
      "q91_bm25_topk", "q103_dupspan_profile", "q111_novelty_audit",
      "q113_source_overlap",
      // round 17: the banded containment twin — the boilerplate plant
      // drives every boiler shingle's df to ~0.9·N, far over
      // ContainBandCap, so the count-prune must DROP the hot buckets
      // (the q33 mega-bucket rule) and the candidate join stays bounded
      // by the rare-prefix volume
      "q180_contain_banded")
    val embQs = Seq("q39_cosine_neardup")
    // media saturation (round 11): the perceptual family's skew surface
    // is HASH-IDENTICAL media, not text — probed in its own `msat`
    // variant (content-period id mapping) below
    val mediaQs = Seq("q94_image_phash_dedup", "q95_audio_envelope_dedup",
      "q97_video_fingerprint")
    val spark = graft.Harness.session()
    spark.range(1000000).selectExpr("sum(id)").collect()

    val docs = graft.Tables.documents(spark, base)
    val maxId = docs.agg(max("doc_id")).head.getLong(0) + 1
    val embs = graft.Tables.embeddings(spark, base)
    val maxVec = embs.agg(max("vec_id")).head.getLong(0) + 1
    val vec0 = embs.filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0).toSeq
    // deterministic ~200-token boilerplate, one shared suffix for every
    // skewed doc — long enough that the band minima come from it. It
    // ENDS with the q91 retrieval workload's own terms (round 11), so
    // under skew every BM25 query term goes hot with df ≈ 0.9·N·k — the
    // per-(doc, term) tf key must stay uniform regardless
    val boiler = (0 until 200).map(i => s"bp${i % 7}x${i % 97}").mkString(" ") +
      " spark table join window agg stream dup merge scan customer order line key value sort big"

    factors.foreach { k =>
      Seq("uniform", "skew").foreach { variant =>
        val dir = s"/tmp/graft_skew/$variant/x$k"
        val scaled = (0 until k).map { i =>
          docs.select((col("doc_id") + lit(i * maxId)).as("doc_id"),
            (if (i == 0) col("text")
             else concat(col("text"), lit(s" copymark$i"))).as("text"),
            col("lang"), col("source"), col("n_chars"))
        }.reduce(_ unionByName _)
        val outDocs =
          if (variant == "skew")
            scaled.withColumn("text",
              when(col("doc_id") % 10 =!= 0,
                concat(col("text"), lit(" " + boiler))).otherwise(col("text")))
          else scaled
        outDocs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
        val scaledEmb = (0 until k).map { i =>
          embs.select((col("vec_id") + lit(i * maxVec)).as("vec_id"),
            col("embedding"), col("label"))
        }.reduce(_ unionByName _)
        val outEmb =
          if (variant == "skew")
            scaledEmb.withColumn("embedding",
              when(col("vec_id") % 10 =!= 0, typedlit(vec0)).otherwise(col("embedding")))
          else scaledEmb
        outEmb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

        // warmup + timed pass, the Bench/ScaleProbe methodology; the
        // uniform variant also times the media family — its envelope
        // baseline for the msat saturation rows below
        val times = (docQs ++ embQs ++ (if (variant == "uniform") mediaQs else Nil)).map { q =>
          val fn = graft.SparkEntry.queries(q)
          q -> (1 to 2).map(_ => graft.Harness.noopSeconds(spark)(fn(spark, dir))).min
        }
        // output-size sanity: the caps must bound the PAIR counts — with
        // 0.9·N·k docs on one band key, a quadratic leak is ~(0.9·N·k)²/2
        // pairs and unmissable next to these counts
        graft.Caches.release(); spark.catalog.clearCache()
        val pairCounts = Seq("q33_minhash_lsh", "q39_cosine_neardup").map { q =>
          val c = graft.SparkEntry.queries(q)(spark, dir).count()
          graft.Caches.release(); spark.catalog.clearCache()
          s""""${q}_rows":$c"""
        }
        val qs = times.map { case (q, t) => s""""$q":${math.round(t * 1000) / 1000.0}""" }
        // corpus bytes: the boilerplate roughly triples text volume, so
        // per-char-linear passes (q44's explodes) legitimately cost more
        // under skew — report the denominator that makes that visible
        val chars = spark.read.parquet(s"$dir/documents.parquet")
          .agg(sum(length(col("text")))).head.getLong(0)
        println(s"""[skew] {"factor":$k,"variant":"$variant","docs":${maxId * k},"chars":$chars,${(qs ++ pairCounts).mkString(",")}}""")
      }

      // media saturation (round 11): remap ids onto the codecs' CONTENT
      // PERIOD so distinct doc ids carry byte-identical media. 983040 =
      // lcm of the three synthesis periods (image 3840, video 768,
      // audio 196608), so newId = id%96 + (id div 96)·983040 forms 96
      // residue groups of ~N·k/96 hash-identical items each (modality
      // preserved: 983040 ≡ 96 ≡ 0 mod 3). Under the cap the pair
      // output is dense (ΣC(group,2) per band); past it (group >
      // BucketCap) q94/q95's buckets drop WHOLE and the counts
      // collapse — runtime must stay flat-linear either way, and q97's
      // agg+join group stats must absorb the mega-groups without a
      // single hot task (its former sig-window would have pinned each
      // group on one).
      val msatDir = s"/tmp/graft_skew/msat/x$k"
      (0 until k).map { i =>
        docs.select((col("doc_id") + lit(i * maxId)).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .withColumn("doc_id", expr("doc_id % 96 + (doc_id div 96) * 983040"))
        .write.mode("overwrite").parquet(s"$msatDir/documents.parquet")
      val msatTimes = mediaQs.map { q =>
        val fn = graft.SparkEntry.queries(q)
        q -> (1 to 2).map(_ => graft.Harness.noopSeconds(spark)(fn(spark, msatDir))).min
      }
      graft.Caches.release(); spark.catalog.clearCache()
      val msatCounts = Seq("q94_image_phash_dedup", "q95_audio_envelope_dedup").map { q =>
        val c = graft.SparkEntry.queries(q)(spark, msatDir).count()
        graft.Caches.release(); spark.catalog.clearCache()
        s""""${q}_rows":$c"""
      } :+ {
        val g = graft.SparkEntry.queries("q97_video_fingerprint")(spark, msatDir)
          .agg(max("group_size")).head.getInt(0)
        graft.Caches.release(); spark.catalog.clearCache()
        s""""q97_max_group":$g"""
      }
      val mqs = msatTimes.map { case (q, t) => s""""$q":${math.round(t * 1000) / 1000.0}""" }
      println(s"""[skew] {"factor":$k,"variant":"msat","docs":${maxId * k},${(mqs ++ msatCounts).mkString(",")}}""")
    }
    spark.stop()
  }
}
