package graft

import graft.queries.Curation
import org.apache.spark.sql.functions._

/** Invariants of the curation operators (q51-q54) beyond the DuckDB
  * hash-equality the driver gate provides. */
class CurationSpec extends SparkTestBase {

  test("q51 decontamination splits train/eval correctly and finds planted leakage") {
    val out = Curation.queries("q51_decontaminate")(spark, sfDir).collect()
    assert(out.nonEmpty, "near-dup leakage into the eval slice must be detected")
    out.foreach { r =>
      assert(r.getLong(0) % 17 != 5, s"train_doc ${r.getLong(0)} is in the eval slice")
      assert(r.getLong(1) % 17 == 5, s"eval_doc ${r.getLong(1)} is not in the eval slice")
      assert(r.getLong(2) >= 4)
    }
  }

  test("q51 salted join strategy is row-identical to the unsalted plan (skew fixture + driver corpus)") {
    import spark.implicits._
    // hot-key fixture: 200 docs; docs 0..9 all share ONE trigram family
    // ("hot k1 k2 k3" => trigrams with df = 10, admitted by the rarity
    // cap max(2, 200/20) = 10 — the regime where one tok key carries
    // 10× the mean join fan-out); doc 5 lands in the eval slice
    // (5 % 17 == 5), the rest are train. Background docs carry unique
    // trigrams so the corpus df spectrum is realistic.
    val dir = java.nio.file.Files.createTempDirectory("graft_salt").toFile
    dir.deleteOnExit()
    (0L until 200L).map { id =>
      val text =
        if (id < 10) s"hot k1 k2 k3 k4 k5 pad${id}a pad${id}b" // 4 shared trigrams = MinShared
        else s"u${id}a u${id}b u${id}c u${id}d u${id}e u${id}f"
      (id, text, "en", "srcA", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val unsaltedFx = rows(Curation.queries("q51_decontaminate")(spark, dir.getAbsolutePath))
    val saltedFx = rows(Curation.q51Salted(spark, dir.getAbsolutePath, salt = 4))
    assert(unsaltedFx.nonEmpty, "the hot family must contaminate across the split")
    assert(saltedFx == unsaltedFx, "salted plan changed the answer on the hot-key fixture")
    // and on the driver corpus (different df spectrum, 17-way split)
    val unsalted = rows(Curation.queries("q51_decontaminate")(spark, sfDir))
    val salted = rows(Curation.q51Salted(spark, sfDir))
    assert(unsalted.nonEmpty && salted == unsalted)
  }

  test("q85 bloom twin is row-identical to q51's exact contamination report") {
    // the serving-twin contract: the bloom prefilter may only REORDER
    // work (map-side kill before the exchange), never change the
    // answer — no false negatives by construction, false positives
    // dead in the exact join
    val exact = Curation.queries("q51_decontaminate")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bloom = Curation.queries("q85_bloom_decontaminate")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(exact.nonEmpty && bloom == exact)
  }

  test("q52 sampling keeps whole strata at or under the target and is deterministic") {
    val out = Curation.queries("q52_stratified_sample")(spark, sfDir)
    // a stratum at or below the target has rate 1.0 — every doc kept
    val small = out.filter(col("n_stratum") <= 48)
    assert(small.count() > 0)
    assert(small.filter(!col("keep")).count() == 0,
      "sub-target strata must keep every document")
    // hash-based sampling replays identically
    val a = out.collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    val b = Curation.queries("q52_stratified_sample")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(a == b)
  }

  test("q53 mixture weights are (0,1] with the dominant stratum at exactly 1") {
    val rows = Curation.queries("q53_domain_mix")(spark, sfDir).collect()
    val ws = rows.map(_.getDouble(4))
    assert(ws.forall(w => w > 0.0 && w <= 1.0))
    assert(ws.max == 1.0, "largest stratum must normalize to weight 1")
    // τ=1/2 damping: weights are ordered with token counts
    val byTok = rows.sortBy(_.getLong(3))
    assert(byTok.map(_.getDouble(4)).toSeq == byTok.map(_.getDouble(4)).sorted.toSeq)
  }

  test("q104 epoch plan recomputes from the raw corpus in pure integer arithmetic") {
    val got = Curation.queries("q104_epoch_plan")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getBoolean(7), r.getLong(8)))).toMap
    // driver-side replay, same int64 formulas
    val docs = Tables.documents(spark, sfDir).select("lang", "source", "text").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getString(2).split(" ", -1).length.toLong))
    val strata = docs.groupBy(_._1).map { case (k, v) =>
      k -> ((v.size.toLong, v.map(_._2).sum))
    }
    val wi = strata.map { case (k, (_, nt)) => k -> math.sqrt(nt.toDouble).toLong }
    val sumWi = wi.values.sum
    val budget = strata.values.map(_._2).sum * 2
    strata.foreach { case (k, (nd, nt)) =>
      val w = wi(k)
      val target = w * (budget / sumWi)
      val em = target * 1000 / nt
      val expect = (nd, nt, w * 1000000 / sumWi, target, em, em > 4000,
        math.min(target, nt * 4))
      assert(got(k) == expect, s"stratum $k: got=${got(k)} expect=$expect")
    }
    // the plan must be a real plan: budget essentially exhausted across
    // strata (truncation loses < sum_wi tokens) and at least one
    // stratum below a full repeat of the budget ratio
    val targeted = got.values.map(_._4).sum
    assert(budget - targeted < sumWi,
      s"allocation underflow: budget=$budget targeted=$targeted")
    assert(got.values.map(_._3).sum <= 1000000L, "weights over-normalized")
  }

  test("q54 redaction touches only injected rows and scrubs every match") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("orig_hash"))
    val out = Curation.queries("q54_pii_redact")(spark, sfDir)
      .join(docs, "doc_id").collect()
    out.foreach { r =>
      val (id, emails, phones) = (r.getLong(0), r.getInt(1), r.getInt(2))
      if (id % 7 == 0) assert(emails >= 1, s"doc $id: injected email not found")
      if (id % 11 == 0) assert(phones >= 1, s"doc $id: injected phone not found")
      if (id % 7 != 0 && id % 11 != 0) {
        assert(emails == 0 && phones == 0)
        // untouched feed == original text, so the clean hash must match
        assert(r.getString(3) == r.getString(4), s"doc $id modified without PII")
      }
    }
  }

  test("q127 materialized sequences agree with q60's layout and a plain-Scala repack") {
    val seqs = Curation.queries("q127_pack_materialize")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getString(6))))
      .toMap
    // plain-Scala repack of the whole corpus in doc_id order
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val stream = docs.flatMap { case (id, text) => text.split(" ", -1).map(t => (id, t)) }
    val expect = stream.zipWithIndex.groupBy(_._2 / 2048).map { case (sid, xs) =>
      val toks = xs.sortBy(_._2).map(_._1)
      val hash = java.security.MessageDigest.getInstance("MD5")
        .digest(toks.map(_._2).mkString(" ").getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      sid.toLong -> ((toks.length, toks.map(_._1).distinct.length,
        toks.map(_._1).min, toks.map(_._1).max, hash))
    }
    assert(seqs == expect, "materialized sequences diverge from the driver-side repack")
    // layout consistency with q60: every doc's planned (seq_id, n_seqs)
    // span is exactly the set of sequences its tokens landed in
    val plan = Curation.queries("q60_sequence_packing")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(4)))).toMap
    val docSeqs = stream.zipWithIndex.groupBy(_._1._1)
      .map { case (id, xs) => id -> xs.map(_._2 / 2048L).distinct.sorted }
    docSeqs.foreach { case (id, ss) =>
      val (sid, nseqs) = plan(id)
      assert(ss.toSeq == (sid until sid + nseqs).toSeq,
        s"doc $id: planned [$sid, ${sid + nseqs}) vs landed ${ss.toSeq}")
    }
    // the fixed-group contract: every sequence except the last is FULL
    val lastSeq = seqs.keys.max
    seqs.foreach { case (sid, (nt, _, _, _, _)) =>
      if (sid != lastSeq) assert(nt == 2048, s"seq $sid not full: $nt")
    }
  }

  test("q60 two-phase prefix-sum packing equals the plain global cumsum") {
    val got = SparkEntry.queries("q60_sequence_packing")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).length.toLong)).sortBy(_._1)
    var cum = 0L
    docs.foreach { case (id, n) =>
      val start = cum; cum += n
      val seqId = start / 2048
      val expect = (n, seqId, start % 2048, (cum - 1) / 2048 - seqId + 1)
      assert(got(id) == expect, s"doc $id: got=${got(id)} expect=$expect")
    }
    // boundary sanity: every document either fits its sequence or spans
    // exactly the sequences its token range covers
    assert(got.values.forall { case (n, _, off, spans) => off + n <= spans * 2048 })
  }

  test("q61 chunking recomputes per document: coverage, overlap, hashes") {
    val got = SparkEntry.queries("q61_doc_chunking")(spark, sfDir).collect()
      .groupBy(_.getLong(0))
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
    docs.foreach { r =>
      val id = r.getLong(0)
      val ts = r.getString(1).split(" ", -1)
      val n = ts.length
      val nChunks = 1 + math.max(0, (n - 48 + 32 - 1) / 32)
      val rows = got(id).sortBy(_.getInt(1))
      assert(rows.length == nChunks, s"doc $id: ${rows.length} chunks, expect $nChunks")
      rows.foreach { c =>
        val (cid, start, len) = (c.getInt(1), c.getInt(2), c.getInt(3))
        assert(start == cid * 32 + 1 && len == math.min(48, n - start + 1) && len > 0)
        val text = ts.slice(start - 1, start - 1 + 48).mkString(" ")
        val md = java.security.MessageDigest.getInstance("MD5")
        val hash = md.digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
        assert(c.getString(4) == hash, s"doc $id chunk $cid hash mismatch")
      }
      // full coverage: last chunk reaches the document end
      assert(rows.last.getInt(2) + rows.last.getInt(3) - 1 == n)
    }
  }

  test("q72 composed verdict agrees with its standalone component queries") {
    val got = SparkEntry.queries("q72_curation_verdict")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    val ruleMask = SparkEntry.queries("q65_quality_rules")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getInt(8)).toMap
    val repKeep = SparkEntry.queries("q55_repetition")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(5)).toMap // absent = too short = pass
    val surKeep = SparkEntry.queries("q67_surprisal")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val canon = docs.groupBy(_._2).values.flatMap { g =>
      val c = g.map(_._1).min; g.map(d => d._1 -> c)
    }.toMap
    docs.foreach { case (id, _) =>
      val expect =
        if (id != canon(id)) "exact_dup"
        else if (ruleMask(id) != 0) "rules"
        else if (!repKeep.getOrElse(id, true)) "repetition"
        else if (!surKeep(id)) "surprisal"
        else "kept"
      assert(got(id) == ((expect, expect == "kept")),
        s"doc $id: got=${got(id)} expect=$expect")
    }
    // the verdict must discriminate (sf0.001 plants no exact dups, so
    // only rules/kept are guaranteed here; the sf0.01 oracle exercises
    // the full precedence chain)
    assert(got.values.map(_._1).toSet.size >= 2,
      s"verdict reasons degenerate: ${got.values.map(_._1).toSet}")
  }

  test("q73 drift monitor matches an integer parts-per-billion recomputation") {
    val got = SparkEntry.queries("q73_drift_monitor")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5), r.getLong(6)))
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val counts = scala.collection.mutable.Map[(String, Long), Long]().withDefaultValue(0L)
    docs.foreach { case (id, text) =>
      text.split(" ", -1).foreach(t => counts((t, id % 2)) += 1)
    }
    val vocab = counts.keys.map(_._1).toSeq.distinct
    val n1 = counts.collect { case ((_, 0L), c) => c }.sum
    val n2 = counts.collect { case ((_, 1L), c) => c }.sum
    val expect = vocab.map { t =>
      val (c1, c2) = (counts((t, 0L)), counts((t, 1L)))
      val (s1, s2) = (c1 * 1000000000L / n1, c2 * 1000000000L / n2)
      (t, c1, c2, s1, s2, math.abs(s1 - s2))
    }.sortBy { case (t, _, _, _, _, d) => (-d, t) }.take(20)
      .zipWithIndex.map { case ((t, c1, c2, s1, s2, d), i) => (i + 1, t, c1, c2, s1, s2, d) }
    assert(got.toSeq == expect, s"got=${got.toSeq.take(4)}…\nexpect=${expect.take(4)}…")
  }

  test("q76 resampling keeps the dominant stratum whole and tracks its weights") {
    val rows = SparkEntry.queries("q76_mix_resample")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3), r.getBoolean(4)))
    // weights must be exactly q53's
    val w53 = SparkEntry.queries("q53_domain_mix")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    rows.foreach { case (id, lang, src, w, _) =>
      assert(w == w53((lang, src)), s"doc $id weight $w != q53 ${w53((lang, src))}")
    }
    // the weight-1 stratum keeps every document (u < 2^60 always)
    val full = rows.filter(_._4 == 1.0)
    assert(full.nonEmpty && full.forall(_._5), "dominant stratum must keep everything")
    // down-weighted strata actually shed documents
    val damped = rows.filter(_._4 < 0.9)
    assert(damped.nonEmpty && damped.exists(!_._5), "damped strata must drop documents")
    // per-stratum keep rate is within a loose binomial band of the
    // weight — only meaningful where the stratum has real mass
    rows.groupBy(r => (r._2, r._3)).filter(_._2.size >= 20).foreach { case ((lang, src), g) =>
      val rate = g.count(_._5).toDouble / g.size
      assert(math.abs(rate - g.head._4) < 0.35,
        s"stratum ($lang,$src): keep rate $rate vs weight ${g.head._4}")
    }
  }

  test("q74 HLL sketch matches a driver-side register recomputation and bounds its error") {
    val got = SparkEntry.queries("q74_hll_distinct")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val docs = Tables.documents(spark, sfDir).select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    docs.groupBy(_._1).foreach { case (lang, rows) =>
      val regs = Array.fill(16)(0)
      rows.foreach { case (_, text) =>
        val hex = md.digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
        val hv = java.lang.Long.parseLong(hex, 16)
        val bucket = (hv >>> 56).toInt
        val rem = hv & ((1L << 56) - 1)
        val mm = if (rem == 0) 57 else 57 - (64 - java.lang.Long.numberOfLeadingZeros(rem))
        regs(bucket) = math.max(regs(bucket), mm)
      }
      val s = regs.map(m => 1L << (57 - m)).sum
      val est = BigDecimal(6.73e-1 * 256 * 1.44115188075855872e17 / s)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
      val nExact = rows.map(_._2).distinct.size.toLong
      val (gN, gV, gE) = got(lang)
      assert(gN == nExact, s"$lang exact: $gN != $nExact")
      assert(gV == regs.count(_ == 0).toLong, s"$lang empty registers")
      assert(gE == est, s"$lang estimate: $gE != $est")
      // m=16 gives sigma ~26%; 2.5 sigma is a generous but real bound
      assert(math.abs(gE - nExact) / nExact < 0.65,
        s"$lang estimate $gE too far from exact $nExact")
    }
  }

  test("q88 classifier keeps curated-like docs, drops junk, and falls back to the prior") {
    // the stock corpus is vocabulary-uniform (no token correlates with
    // source), so the catalog run only proves exactness; discrimination
    // needs a planted source-correlated corpus: curated docs speak
    // "good/signal", junk docs "junk/noise", both share stopwords, and
    // one doc is all below-MinDf singletons (must fall back to the prior)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cls_test").toString
    val rows =
      (0L until 10L).map(i => (i, "good good good signal the a", "en", "src0")) ++
      (10L until 20L).map(i => (i, "junk junk junk noise the a", "en", "src9")) ++
      Seq((20L, "zzz1 zzz2 zzz3", "en", "src9"))
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val out = Curation.queries("q88_quality_classifier")(spark, dir)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
      val prior = 10L * 1000000L / 21L
      (0L until 10L).foreach { i =>
        assert(out(i)._3 && out(i)._2 > prior, s"curated doc $i: ${out(i)}") }
      (10L until 20L).foreach { i =>
        assert(!out(i)._3 && out(i)._2 < prior, s"junk doc $i: ${out(i)}") }
      assert(out(20L) == ((0L, prior, true)),
        s"all-singleton doc must score the prior: ${out(20L)}")
    } finally graft.Caches.release()
  }

  test("q111 novelty audit equals a plain-Scala 8-gram overlap replay") {
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def u60(x: String): Long = java.lang.Long.parseLong(md5hex(x).take(15), 16)
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
      .filter(_._2.length >= 8)
    def grams(ts: Array[String]): Set[String] =
      (0 to ts.length - 8).map(i => md5hex(ts.slice(i, i + 8).mkString(" "))).toSet
    val (ref, cand) = docs.partition(d => u60(s"ref:${d._1}") % 10 < 3)
    val refSet = ref.flatMap(d => grams(d._2)).toSet
    val got = Curation.queries("q111_novelty_audit")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))).toMap
    assert(got.keySet == cand.map(_._1).toSet, "candidate doc set differs")
    cand.foreach { case (id, ts) =>
      val g = grams(ts)
      val seen = g.count(refSet.contains).toLong
      val nov = 1000000L * (g.size - seen) / g.size
      assert(got(id) == ((g.size.toLong, seen, nov, nov < 500000L)),
        s"doc $id: got=${got(id)} expect=(${g.size},$seen,$nov)")
    }
    // the audit must find real overlap somewhere (exact dups spanning
    // the reference boundary exist in the fixture corpus)
    assert(got.values.exists(_._2 > 0), "no overlapping doc found")
  }

  test("q112 split fills exact per-stratum quotas and ranks by the md5 permutation") {
    def u60(x: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(15), 16)
    val got = Curation.queries("q112_exact_split")(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getString(2)), r.getLong(3), r.getString(4)))
    // ranks replay the global md5 order within each stratum
    got.groupBy(_._2).foreach { case (stratum, rows) =>
      val n = rows.length.toLong
      val byKey = rows.sortBy(r => (u60(s"split:${r._1}"), r._1))
      byKey.zipWithIndex.foreach { case (r, i) =>
        assert(r._3 == i + 1L, s"$stratum doc ${r._1}: rank ${r._3} != ${i + 1}")
      }
      // exact quotas: n div 10 test, n div 10 val, remainder train
      val bySplit = rows.groupBy(_._4).view.mapValues(_.size.toLong).toMap
      assert(bySplit.getOrElse("test", 0L) == n / 10, s"$stratum test quota")
      assert(bySplit.getOrElse("val", 0L) == n / 10, s"$stratum val quota")
      assert(bySplit.getOrElse("train", 0L) == n - 2 * (n / 10), s"$stratum train")
    }
    // every stratum with a full quota unit must actually be split
    val strata = got.groupBy(_._2).values
    assert(strata.filter(_.length >= 10).forall(_.exists(_._4 == "test")))
    assert(strata.exists(_.length >= 10), "no stratum large enough to exercise the split")
  }

  test("q113 overlap matrix: exact Jaccard and the KMV sketch both replay; zero-overlap coherence") {
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def u60(x: String): Long = java.lang.Long.parseLong(md5hex(x).take(15), 16)
    val docs = Tables.documents(spark, sfDir).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1)))
      .filter(_._2.length >= 8)
    val sets: Map[String, Set[Long]] = docs.groupBy(_._1).map { case (src, v) =>
      src -> v.flatMap { case (_, ts) =>
        (0 to ts.length - 8).map(i => u60(ts.slice(i, i + 8).mkString(" "))) }.toSet }
    def sig(s: Set[Long]): Vector[Long] = {
      val thresh = if (s.size <= 256) Long.MaxValue
                   else (1152921504606846976L / s.size) * 256
      s.filter(_ < thresh).toVector.sorted.take(32)
    }
    val sigs = sets.map { case (k, v) => k -> sig(v) }
    val got = Curation.queries("q113_source_overlap")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val srcs = sets.keys.toSeq.sorted
    for { i <- srcs.indices; j <- (i + 1) until srcs.size } {
      val (a, b) = (srcs(i), srcs(j))
      val (sa, sb) = (sets(a), sets(b))
      val inter = (sa & sb).size.toLong
      val exact = 1000000L * inter / (sa.size + sb.size - inter)
      val uni = (sigs(a) ++ sigs(b)).distinct.sorted
      val kk = math.min(32, uni.size)
      val common = uni.take(kk)
        .count(h => sigs(a).contains(h) && sigs(b).contains(h)).toLong
      val est = 1000000L * common / kk
      assert(got((a, b)) == ((sa.size.toLong, sb.size.toLong, inter, est, exact)),
        s"pair ($a,$b): got=${got((a, b))} expect=(${sa.size},${sb.size},$inter,$est,$exact)")
    }
    // the sketch can only testify to overlap that exists, and the
    // fixture corpus must actually contain some
    assert(got.values.forall { case (_, _, inter, est, _) => inter > 0 || est == 0 })
    assert(got.values.exists(_._3 > 0), "no overlapping source pair in the corpus")
  }

  test("q118 padding report replays both batchings; bucketing never loses") {
    def u60(x: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(15), 16)
    val lens = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).length.toLong,
        u60(s"shard:${r.getLong(0)}")))
    def rep(grpOf: ((Long, Long, Long)) => Long): Map[Int, (Long, Long, Long, Long)] = {
      val ordered = lens.groupBy(grpOf).toSeq.flatMap { case (g, v) =>
        v.sortBy(d => (d._3 >> 54, d._3, d._1)).zipWithIndex
          .map { case (d, i) => (g, i.toLong, d._2) } // (grp, pos0, len)
      }
      Seq(64, 256).map { b =>
        val batches = ordered.groupBy(r => (r._1, r._2 / b)).values
        val real = batches.map(_.map(_._3).sum).sum
        val padded = batches.map(v => v.map(_._3).max * v.size).sum
        b -> ((batches.size.toLong, real, padded,
          1000000L * (padded - real) / padded))
      }.toMap
    }
    val expect = Map("random" -> rep(d => d._3 % 16),
      "length_bucketed" -> rep(d => d._2 / 16))
    val got = Curation.queries("q118_padding_report")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    for { s <- Seq("random", "length_bucketed"); b <- Seq(64, 256) }
      assert(got((s, b)) == expect(s)(b), s"($s, $b): got=${got((s, b))} expect=${expect(s)(b)}")
    // same corpus under both strategies; bucketing can only reduce waste
    Seq(64, 256).foreach { b =>
      assert(got(("random", b))._2 == got(("length_bucketed", b))._2)
      assert(got(("length_bucketed", b))._4 <= got(("random", b))._4)
    }
  }

  test("q105 materialization expands the q104 plan with the deterministic fractional draw") {
    val got = Curation.queries("q105_epoch_materialize")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(4)).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def u60(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(15), 16)
    // driver-side replay of the q104 plan arithmetic + per-copy draws
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getString(2)),
        r.getString(3).split(" ", -1).length.toLong))
    val strata = docs.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    val wi = strata.map { case (k, nt) => k -> math.sqrt(nt.toDouble).toLong }
    val sumWi = wi.values.sum
    val budget = strata.values.sum * 2
    val em = strata.map { case (k, nt) =>
      k -> math.min(wi(k) * (budget / sumWi) * 1000 / nt, 4000L) }
    val expect = docs.flatMap { case (id, k, _) =>
      val e = em(k); val full = e / 1000; val frac = e % 1000
      (0L to full).flatMap { i =>
        val keep = i < full || u60(s"ep:$id:$i") < frac * 1152921504606846L
        if (keep) Some((id, i) -> u60(s"sh:$id:$i") % 16) else None
      }
    }.toMap
    assert(got == expect, s"got ${got.size} copies, expect ${expect.size}")
    // the materialization must actually exercise both branches: full
    // epochs for every doc of a multi-epoch stratum, and a proper-subset
    // fractional top-up somewhere in the plan
    assert(em.values.exists(_ >= 1000), "no stratum earns a full epoch")
    val fracStrata = em.filter { case (_, e) => e % 1000 != 0 }
    assert(fracStrata.nonEmpty, "no stratum has a fractional epoch")
    // the fractional draw is a proper subset globally (a small stratum
    // with a high fraction may legitimately keep all of its docs)
    val (topup, eligible) = fracStrata.toSeq.map { case (k, e) =>
      val ids = docs.filter(_._2 == k).map(_._1)
      (ids.count(id => got.contains((id, e / 1000))), ids.length)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    assert(topup > 0 && topup < eligible,
      s"fractional draw degenerate: $topup of $eligible kept")
  }

  test("q156 curriculum phases equal a plain-Scala prefix-sum replay on a mixed-difficulty corpus") {
    import spark.implicits._
    // 18 docs over a two-tier vocabulary: docs heavy in the common pool
    // score low millibits (easy), docs of unique rares score high, and
    // lengths vary so phase boundaries land mid-difficulty-band — the
    // assignment must follow the TOKEN prefix sum, not the doc count
    val rnd = new scala.util.Random(7)
    val docs = (0L until 18L).map { id =>
      val n = 4 + rnd.nextInt(9) // 4..12 tokens
      val toks = (0 until n).map { j =>
        if (rnd.nextInt(3) < 2) s"c${rnd.nextInt(4)}" else s"r${id}_$j"
      }
      (id, toks.mkString(" "))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_curr").toFile
    dir.deleteOnExit()
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val got = SparkEntry.queries("q156_curriculum_plan")(spark, dir.getAbsolutePath)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // replay: integer-log2 self-surprisal, then the global token cumsum
    // in (millibits, doc_id) order with phase cuts at 20% / 50%
    val allToks = docs.flatMap(_._2.split(" "))
    val freq = allToks.groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }
    val total = allToks.size.toLong
    def bits(t: String): Long = 63 - java.lang.Long.numberOfLeadingZeros(total / freq(t))
    val mb = docs.map { case (id, t) =>
      val ts = t.split(" ")
      (id, ts.length.toLong, ts.map(bits).sum * 1000L / ts.length)
    }.sortBy(d => (d._3, d._1))
    val tt = mb.map(_._2).sum
    var cum = 0L
    val assigned = mb.map { case (_, n, m) =>
      val phase = if (cum < tt * 20 / 100) 1 else if (cum < tt * 50 / 100) 2 else 3
      cum += n
      (phase, n, m)
    }
    val want = assigned.groupBy(_._1).toSeq.sortBy(_._1).map { case (ph, xs) =>
      (ph, xs.size.toLong, xs.map(_._2).sum, xs.map(_._3).min, xs.map(_._3).max)
    }
    assert(got == want, s"curriculum mismatch:\n got=$got\nwant=$want")
    // non-vacuous: all three phases exist and difficulty is monotone
    assert(got.map(_._1) == Seq(1, 2, 3))
    assert(got(0)._5 <= got(1)._4 && got(1)._5 <= got(2)._4,
      "phases are not difficulty-ordered")
  }

  test("q173 two-phase budgeted selection equals the plain global greedy per stratum") {
    val out = Curation.queries("q173_quality_budget_select")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4), r.getLong(5), r.getLong(6), r.getBoolean(7)))
    assert(out.nonEmpty)
    // plain-Scala greedy replay per stratum from the relation's own
    // (n_tokens, quality) columns: sort by (quality DESC, doc_id),
    // cumulate tokens, select while the prefix STARTS inside the target
    out.groupBy(t => (t._2, t._3)).foreach { case (stratum, members) =>
      val target = members.head._7
      assert(members.forall(_._7 == target), s"$stratum disagrees on target")
      var cum = 0L
      members.sortBy(t => (-t._5, t._1)).foreach { t =>
        assert(t._6 == cum, s"doc ${t._1}: cum_before ${t._6} != replay $cum")
        assert(t._8 == (cum < target), s"doc ${t._1}: selected flag diverged")
        cum += t._4
      }
    }
    // the budget binds somewhere and selects the quality head, not all
    assert(out.exists(_._8) && out.exists(!_._8), "budget must bind")
    val sel = out.filter(_._8).map(_._5).min
    val rej = out.filter(!_._8).map(_._5).max
    // within any stratum the worst selected quality >= best rejected
    out.groupBy(t => (t._2, t._3)).foreach { case (stratum, members) =>
      if (members.exists(_._8) && members.exists(!_._8))
        assert(members.filter(_._8).map(_._5).min >= members.filter(!_._8).map(_._5).max,
          s"$stratum selection is not quality-monotone")
    }
    assert(sel >= 0.0 && rej <= 1.0)
  }

  test("q178 agreement matrix recomposes exactly from the parent selectors' own outputs") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def verdictOf(q: String, keepIdx: Int): Map[Long, Boolean] =
      Curation.queries.getOrElse(q,
        graft.SparkEntry.queries(q))(spark, sfDir)
        .collect().map(r => r.getLong(0) -> r.getBoolean(keepIdx)).toMap
    val lm = verdictOf("q93_bigram_surprisal", 4)
    val cls = verdictOf("q88_quality_classifier", 3)
    val dsir = verdictOf("q170_dsir_select", 4)
    val surp = verdictOf("q67_surprisal", 4)
    graft.Caches.release()
    val qual = docs.map { case (id, text) =>
      val ts = text.split(" ", -1)
      val nStop = ts.count(Set("the", "a", "is"))
      val q = BigDecimal((1.0 - nStop.toDouble / ts.length) *
        math.min(1.0, ts.length / 50.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      id -> (q >= BigDecimal("0.5"))
    }
    val names = Seq("bigram_lm", "classifier", "dsir", "quality", "surprisal")
    val wide = docs.keys.map { id =>
      id -> Map(
        "bigram_lm" -> lm.getOrElse(id, true),
        "classifier" -> cls.getOrElse(id, true),
        "dsir" -> dsir.getOrElse(id, true),
        "quality" -> qual(id),
        "surprisal" -> surp.getOrElse(id, true))
    }.toMap
    val expect = (for {
      (a, i) <- names.zipWithIndex; b <- names.drop(i)
    } yield {
      val rows = wide.values.toSeq
      val bk = rows.count(m => m(a) && m(b)).toLong
      val bd = rows.count(m => !m(a) && !m(b)).toLong
      val dis = rows.count(m => m(a) != m(b)).toLong
      val uniq = if (a == b)
        rows.count(m => !m(a) && names.filterNot(_ == a).forall(m(_))).toLong else 0L
      (a, b, rows.size.toLong, bk, bd, dis, (bk + bd) * 1000000L / rows.size, uniq)
    }).toSet
    val got = Curation.queries("q178_selector_agreement")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet
    assert(got == expect, "matrix diverged from the parent-output recomposition")
    assert(got.exists(r => r._1 != r._2 && r._6 > 0), "some pair must disagree")
    assert(got.exists(r => r._1 == r._2 && r._8 > 0), "some selector must drop uniquely")
  }

  test("q170 DSIR separates target-like from junk raw docs and replays in plain Scala") {
    import spark.implicits._
    // Two disjoint vocabularies: curated docs (src0, the CuratedSrcs
    // slice) draw from pool A; raw docs are half A-like, half junk-B.
    // DSIR must rank every A-like raw doc above every junk doc, and the
    // above-average cut must fall between the two clusters.
    val poolA = (0 until 12).map(i => s"alpha$i")
    val poolB = (0 until 12).map(i => s"junk$i")
    def docOf(pool: Seq[String], off: Int, n: Int): String =
      (0 until n).map(j => pool((off + j) % pool.size)).mkString(" ")
    val docs =
      (0L until 30L).map(id => (id, docOf(poolA, id.toInt, 16), "src0")) ++
      (100L until 110L).map(id => (id, docOf(poolA, id.toInt, 14), "web")) ++
      (200L until 210L).map(id => (id, docOf(poolB, id.toInt, 14), "web"))
    val dir = java.nio.file.Files.createTempDirectory("graft_dsir").toFile
    dir.deleteOnExit()
    docs.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val out = Curation.queries("q170_dsir_select")(spark, dir.getAbsolutePath)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(out.map(_._1).toSeq == ((100L until 110L) ++ (200L until 210L)).toSeq,
      "exactly the raw docs, ordered")
    val (alike, junk) = out.partition(_._1 < 200L)
    assert(alike.map(_._4).min > junk.map(_._4).max,
      "every target-like doc must out-rank every junk doc on w_mb")
    assert(alike.forall(_._5) && junk.forall(!_._5),
      "above-average cut must fall between the two clusters")
    // plain-Scala replay: same hashing, same add-one integer-log2 model
    val B = 1024L
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def bucket(f: String): Long = (BigInt(md5hex(f).take(15), 16) % B).toLong
    def featsOf(text: String): Seq[Long] = {
      val ts = text.split(" ", -1).toSeq
      (ts ++ ts.zip(ts.drop(1)).map { case (a, b) => s"$a $b" }).map(bucket)
    }
    val cur = docs.filter(_._3 == "src0").flatMap(d => featsOf(d._2))
    val raw = docs.filter(_._3 != "src0").flatMap(d => featsOf(d._2))
    val (cT, cR) = (cur.groupBy(identity).view.mapValues(_.size.toLong).toMap,
      raw.groupBy(identity).view.mapValues(_.size.toLong).toMap)
    val (tT, tR) = (cur.size + B, raw.size + B)
    def bits(t: Long, c: Long): Long = java.lang.Long.toBinaryString(t / (c + 1)).length - 1L
    val expect = docs.filter(_._3 != "src0").map { d =>
      val fs = featsOf(d._2)
      val w = fs.map(b => bits(tR, cR.getOrElse(b, 0L)) - bits(tT, cT.getOrElse(b, 0L))).sum
      (d._1, fs.size.toLong, w, 1000L * w / fs.size)
    }
    assert(out.map(r => (r._1, r._2, r._3, r._4)).toSeq == expect.toSeq,
      "q170 weights diverge from the plain-Scala model replay")
  }
}
