package graft

import graft.queries.{Dedup, Similarity, TextPipeline}
import org.apache.spark.sql.functions._

/** Cross-checks between the exact baselines and their bucketed scale-path
  * variants — the LSH analog of the reference's "two plans, same answer"
  * harness (D3). */
class PipelineSpec extends SparkTestBase {

  test("MinHash-LSH candidates achieve full recall of exact Jaccard >= 0.9 pairs") {
    val exact = Dedup.queries("q32_ngram_jaccard")(spark, sfDir)
      .filter(col("jaccard") >= 0.9)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.queries("q33_minhash_lsh")(spark, sfDir)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test corpus should contain planted near-dups")
    val missed = exact -- lsh
    // 16 hashes / 4 bands: P(candidate | j=0.9) = 1-(1-0.9^4)^4 ≈ 0.98/pair
    assert(missed.size <= math.max(1, exact.size / 10),
      s"LSH missed too many true pairs: $missed")
  }

  test("q172 containment join equals brute force and catches the subsumed doc q32 misses") {
    import spark.implicits._
    // Planted fixture: doc 3 (16 tokens) is quoted WHOLE inside doc 9
    // (76 tokens) — containment 1.0 but symmetric Jaccard ≈ 15/75 far
    // below 0.8, so the q32 pair set must MISS it while q172 finds it.
    val quoted = (0 until 16).map(i => s"q$i").mkString(" ")
    val docs = Seq(
      (3L, quoted),
      (9L, (0 until 30).map(i => s"pre$i").mkString(" ") + " " + quoted + " " +
        (0 until 30).map(i => s"post$i").mkString(" "))) ++
      (20L until 26L).map(id => (id, (0 until 40).map(j => s"u${id}x$j").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft_contain").toFile
    dir.deleteOnExit()
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val fx = Dedup.queries("q172_containment_dedup")(spark, dir.getAbsolutePath)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    assert(fx.map(t => (t._1, t._2)).toSet == Set((3L, 9L)), s"got ${fx.toSeq}")
    assert(fx.head._3 == 1.0, "whole-quote containment must be exactly 1.0")
    val j32 = Dedup.queries("q32_ngram_jaccard")(spark, dir.getAbsolutePath)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!j32.contains((3L, 9L)), "fixture must be in symmetric Jaccard's blind spot")
    // driver corpus: the prefix-filtered join must equal BRUTE FORCE
    // over all ordered pairs (no false negatives from the prefix or
    // positional bounds, none from the early-exit merge)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val sets = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map { r =>
        val ts = r.getString(1).split(" ", -1)
        r.getLong(0) -> ts.zip(ts.drop(1))
          .map { case (a, b) => BigInt(md5hex(s"$a $b").take(15), 16).toLong }.toSet
      }.filter(_._2.nonEmpty)
    val brute = (for {
      (d1, s1) <- sets if s1.size >= 4
      (d2, s2) <- sets if d1 != d2
      inter = (s1 & s2).size
      c = BigDecimal(inter.toDouble / s1.size).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      if c >= BigDecimal("0.9")
    } yield (d1, d2, inter.toLong, s1.size.toLong, s2.size.toLong)).toSet
    val out = Dedup.queries("q172_containment_dedup")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(out == brute, "prefix-filtered containment join diverged from brute force")
    assert(brute.nonEmpty, "driver corpus should contain containment pairs")
  }

  test("exact dedup finds exactly the re-ingested fifth") {
    val dups = Dedup.queries("q31_exact_dedup")(spark, sfDir)
    val total = Tables.documents(spark, sfDir).count()
    assert(dups.count() == (total + 4) / 5)
    assert(dups.filter(col("n_copies") =!= 2).isEmpty)
  }

  test("within-class top-k is the brute-force ranking restricted to the class") {
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val wc = Similarity.queries("q38_knn_within_class")(spark, sfDir).collect()
    assert(wc.nonEmpty)
    wc.foreach { r =>
      assert(emb(r.getLong(0)) == emb(r.getLong(1)), "neighbor crossed class boundary")
    }
    // cosines agree with brute-force where both scored the pair
    val bf = Similarity.queries("q36_ann_bruteforce")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    wc.foreach { r =>
      bf.get((r.getLong(0), r.getLong(1))).foreach { c =>
        assert(math.abs(c - r.getDouble(2)) < 1e-9)
      }
    }
  }

  test("q110 hard negatives are the cross-class brute-force top-3 exactly") {
    val rows = Tables.embeddings(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getSeq[Float](1).toArray))
    // replay the catalog's integer quantization + cosine exactly
    val quant = rows.map { case (id, lab, v) =>
      (id, lab, v.map(x => math.round(x.toDouble * 1e7))) }
    val expect = quant.filter(_._1 < 8).flatMap { case (qid, qlab, qv) =>
      val n2q = math.sqrt(qv.map(x => x * x).sum.toDouble)
      quant.filter(_._2 != qlab).map { case (id, lab, v) =>
        val dot = qv.zip(v).map { case (a, b) => a * b }.sum
        (id, lab, dot.toDouble / (n2q * math.sqrt(v.map(x => x * x).sum.toDouble)))
      }.sortBy(t => (-t._3, t._1)).take(3)
        .zipWithIndex.map { case ((id, lab, cos), i) => (qid, i + 1) -> ((id, lab, cos)) }
    }.toMap
    val got = Similarity.queries("q110_hard_negatives")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(4)) ->
        ((r.getLong(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(got.keySet == expect.keySet, "anchor/rank key sets differ")
    val labOf = rows.map(r => r._1 -> r._2).toMap
    got.foreach { case (k, (id, lab, cos)) =>
      val (eid, elab, ecos) = expect(k)
      assert(id == eid && lab == elab && math.abs(cos - ecos) < 1e-6,
        s"$k: got=($id,$lab,$cos) expect=($eid,$elab,$ecos)")
      // every mined negative truly crosses the class boundary
      assert(labOf(k._1) != lab && labOf(id) == lab)
    }
  }

  test("q119 agreement matrix equals the detector-output replay") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val exact = docs.groupBy(_._2).values.filter(_.length >= 2)
      .flatMap(_.map(_._1)).toSet
    val mh = SparkEntry.queries("q33_minhash_lsh")(spark, sfDir).collect()
      .filter(_.getDouble(2) >= 0.8)
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val sh = SparkEntry.queries("q35_simhash_pairs")(spark, sfDir).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val expect = docs.map(_._1).groupBy(id => (exact(id), mh(id), sh(id)))
      .map { case (k, v) =>
        k -> ((v.length.toLong, 1000000L * v.length / docs.length)) }
    val got = SparkEntry.queries("q119_detector_matrix")(spark, sfDir).collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1), r.getBoolean(2)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    assert(got == expect, s"got=$got expect=$expect")
    // the matrix partitions the corpus exactly
    assert(got.values.map(_._1).sum == docs.length.toLong)
  }

  test("q120 IVF health report equals a full assignment replay") {
    val rows = Tables.embeddings(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray
        .map(x => math.round(x.toDouble * 1e7))))
    val pivots = rows.filter(_._1 % 61 == 3)
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    val sizes = rows.map { case (_, v) =>
      pivots.map { case (cell, pv) => (cell, cos(v, pv)) }
        .minBy { case (cell, c) => (-c, cell) }._1
    }.groupBy(identity).map(_._2.length.toLong).toVector
    val (nCells, nVec) = (sizes.size.toLong, sizes.sum)
    val (mx, sz2) = (sizes.max, sizes.map(s => s * s).sum)
    val expect = (pivots.length.toLong, nCells, nVec, mx,
      1000L * nVec / nCells, sz2 / nVec,
      1000L * (sz2 / nVec) / (nVec / nCells), 1000000L * mx / nVec)
    val r = Similarity.queries("q120_ivf_health")(spark, sfDir).collect().head
    val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
    assert(got == expect, s"got=$got expect=$expect")
    // structural sanity: no cell without a pivot, balance near 1 on
    // data-sampled pivots (truncation can dip a hair under 1000)
    assert(got._2 <= got._1 && got._7 >= 900L)
  }

  test("q121 PQ health agrees with q63's per-vector codes and error total") {
    val q63r = Similarity.queries("q63_pq_codes")(spark, sfDir).collect()
      .map(r => (r.getString(1).split("-").map(_.toInt), r.getLong(2)))
    val n = q63r.length.toLong
    val got = Similarity.queries("q121_pq_health")(spark, sfDir).collect()
      .map(r => r.getAs[Number](0).intValue -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    (0 until 8).foreach { s =>
      val counts = q63r.map(_._1(s)).groupBy(identity).map(_._2.length.toLong)
      val expect = (n, counts.size.toLong, 1000000L * counts.size / 16,
        1000000L * counts.max / n)
      val (gn, gc, gu, gt, _) = got(s)
      assert((gn, gc, gu, gt) == expect, s"sub $s: got=${got(s)} expect=$expect")
    }
    // the truncated per-sub means must reconstruct q63's total error to
    // within the M·n truncation bound
    val total = q63r.map(_._2).sum
    val approx = got.values.map(_._5 * n).sum
    assert(approx <= total && total - approx < 8 * n,
      s"error accounting: total=$total approx=$approx")
  }

  test("q122 nprobe curve is monotone and its p=2 point matches the q48/q36 stacks") {
    val got = Similarity.queries("q122_nprobe_curve")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    // more probes can only scan more and recall at least as much
    (2L to 4L).foreach { p =>
      assert(got(p)._2 >= got(p - 1)._2 && got(p)._3 >= got(p - 1)._3, s"p=$p")
    }
    // the p=2 point IS q48's configuration: recall@3 of q48's served
    // top-3 against q36's exact top-3 must reproduce the curve exactly
    val exact3 = Similarity.queries("q36_ann_bruteforce")(spark, sfDir).collect()
      .filter(_.getInt(3) <= 3).map(r => (r.getLong(0), r.getLong(1))).toSet
    val served3 = Similarity.queries("q48_ann_ivf")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nQ = got(2L)._1
    val hits = served3.count(exact3.contains).toLong
    assert(got(2L)._2 == 1000000L * hits / (3 * nQ),
      s"p=2 recall ${got(2L)._2} != replay ${1000000L * hits / (3 * nQ)}")
  }

  test("q117 coreset fills per-cluster quotas with the most central members") {
    val rows = Similarity.queries("q117_cluster_coreset")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(rows.nonEmpty)
    val total = rows.length.toLong
    rows.groupBy(_._2).foreach { case (cid, v) =>
      val nC = v.length.toLong
      val quota = math.min(nC, total / 16)
      assert(v.forall(_._5 == quota), s"cluster $cid quota column")
      // ranks are exactly the (dist2, vec_id) order 1..n_c
      val byOrder = v.sortBy(r => (r._3, r._1))
      byOrder.zipWithIndex.foreach { case (r, i) =>
        assert(r._4 == i + 1L, s"cluster $cid vec ${r._1}: rank ${r._4} != ${i + 1}")
      }
      val (kept, dropped) = v.partition(_._6)
      assert(kept.length.toLong == quota, s"cluster $cid kept ${kept.length} != $quota")
      // centrality: every kept member is at least as close as any dropped
      if (kept.nonEmpty && dropped.nonEmpty)
        assert(kept.map(_._3).max <= dropped.map(_._3).min, s"cluster $cid centrality")
    }
    // the budget must actually bind somewhere (a cluster larger than quota)
    assert(rows.groupBy(_._2).values.exists(v => v.exists(!_._6)))
  }

  test("IVF: probed-cell results agree with brute force and beat random recall") {
    val bf = Similarity.queries("q36_ann_bruteforce")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Similarity.queries("q48_ann_ivf")(spark, sfDir).collect()
    assert(ivf.nonEmpty)
    // every IVF cosine that brute force also scored must match exactly
    ivf.foreach { r =>
      bf.get((r.getLong(0), r.getLong(1))).foreach { c =>
        assert(math.abs(c - r.getDouble(2)) < 1e-9)
      }
    }
    // rank is dense 1..k per query
    ivf.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.map(_.getInt(3)).sorted.toSeq == (1 to rows.length), s"query $q ranks")
    }
  }

  test("recall@k eval: q86 equals the q36/q71 intersection computed independently") {
    // the eval operator's contract, recomputed through the registered
    // public surface: hits(q) = |top-3 of the exact ranking ∩ the
    // IVF-PQ-served top-3| — q86 must agree row for row.
    val exact3 = Similarity.queries("q36_ann_bruteforce")(spark, sfDir)
      .filter(col("rank") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = Similarity.queries("q71_ivfpq_search")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = Similarity.queries("q86_ann_recall")(spark, sfDir).collect()
    assert(recall.length == exact3.map(_._1).size, "one row per query vector")
    recall.foreach { r =>
      val qid = r.getLong(0)
      val expected = exact3.collect { case (q, v) if q == qid => v }
        .intersect(served.collect { case (q, v) if q == qid => v }).size
      assert(r.getLong(1) == expected, s"query $qid hits")
      assert(math.abs(r.getDouble(2) - math.round(expected / 3.0 * 1e6) / 1e6) < 1e-12,
        s"query $qid recall")
    }
  }

  test("ANN: bucketed results are consistent with brute-force cosine order") {
    val bf = Similarity.queries("q36_ann_bruteforce")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.queries("q37_ann_lsh")(spark, sfDir).collect()
    // every LSH-reported cosine that brute force also scored must match
    lsh.foreach { r =>
      bf.get((r.getLong(0), r.getLong(1))).foreach { c =>
        assert(math.abs(c - r.getDouble(2)) < 1e-9)
      }
    }
  }

  test("cosine near-dup: perfect precision, bounded recall vs exact all-pairs") {
    val rows = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e7) AS BIGINT)) AS q")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    def cos(a: Array[Long], b: Array[Long]): Double = {
      var d = 0L; var na = 0L; var nb = 0L; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    val exact = (for {
      i <- rows.indices.iterator; j <- (i + 1) until rows.size
      c = cos(rows(i)._2, rows(j)._2) if math.rint(c * 1e6) / 1e6 >= 0.35
    } yield (math.min(rows(i)._1, rows(j)._1), math.max(rows(i)._1, rows(j)._1))).toSet
    val lsh = Similarity.queries("q39_cosine_neardup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision 1 by construction: every reported pair is exactly verified
    assert((lsh -- exact).isEmpty, s"false positives: ${(lsh -- exact).take(5)}")
    // recall floor for 6 tables x 5 planes at cos>=0.35 (OR-construction)
    assert(exact.isEmpty || lsh.size.toDouble / exact.size >= 0.25,
      s"recall ${lsh.size}/${exact.size} below floor")
  }

  test("LSH bucket cap: 1000 planted identical docs yield no mega-bucket pairs") {
    import spark.implicits._
    val planted = (1L to 1000L).map(i =>
      (i, "the same boilerplate text repeated verbatim across the whole corpus over and over"))
    val normal = Seq(
      (2001L, "alpha beta gamma delta epsilon zeta iota kappa"),
      (2002L, "alpha beta gamma delta epsilon zeta iota lambda"),
      (2003L, "omicron rho sigma tau upsilon phi chi psi"))
    val docs = (planted ++ normal).toDF("doc_id", "text")
    // Identical texts agree on EVERY band key → one 1000-member bucket
    // per band, all above BucketCap → dropped, so the observable pair
    // set contains NO pair of planted ids (exact duplicates are q31's
    // job) and the candidate explosion (4 × C(1000,2) ≈ 2M pairs
    // uncapped) never materializes.
    val pairs = Dedup.minhashPairsOf(docs).collect()
    assert(!pairs.exists(r => r.getLong(0) <= 1000L && r.getLong(1) <= 1000L),
      "a planted-duplicate pair leaked through the bucket cap")
    assert(pairs.length <= 4, s"unexpected candidate blowup: ${pairs.length}")
    // q44's composition: the exact-hash prepass collapses the planted
    // group to one canonical BEFORE LSH, so near-dup detection still
    // sees (one copy of) the boilerplate text.
    val canon = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), first(col("text")).as("text"))
      .select("doc_id", "text")
    assert(canon.count() == 4)
    // after the prepass only ONE planted id (the canonical, min id = 1)
    // can appear in any LSH pair — ids 2..1000 were deduplicated away
    val canonPairs = Dedup.minhashPairsOf(canon).collect()
    canonPairs.foreach { r =>
      Seq(r.getLong(0), r.getLong(1)).foreach { id =>
        assert(id == 1L || id > 1000L, s"deduped doc $id leaked into LSH: $r")
      }
    }
  }

  test("connected components: transitive min-id labeling over pair chains") {
    import spark.implicits._
    // chain 1-2-3 (no 1-3 edge), pair 10-11, triangle 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("d1", "d2")
    val comp = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connected components: exact on 40 randomized graphs vs reference union-find") {
    import spark.implicits._
    // Deterministic LCG so failures replay; graphs mix duplicate edges,
    // self-loops, skewed degrees, and both orientations — everything the
    // contraction passes and label loop must absorb without changing the
    // answer. Reference = classic driver-side union-find.
    var seed = 0x5eed5eedL
    def rnd(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound) + bound).toInt % bound
    }
    for (trial <- 1 to 40) {
      val n = 5 + rnd(56)                       // nodes 0..n-1 (sparse ids below)
      val m = 1 + rnd(3 * n)
      val edges = (1 to m).map { _ =>
        val a = rnd(n).toLong * (1 + trial % 3) // non-contiguous ids on some trials
        val b = rnd(n).toLong * (1 + trial % 3)
        (a, b)
      }
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val expect = parent.keys.map(k => k -> find(k)).toMap
      val got = Dedup.components(edges.toDF("d1", "d2").repartition(1 + rnd(7)))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"trial $trial (n=$n, m=$m) diverged from union-find")
    }
  }

  test("semantic dedup: exactly one kept representative per near-dup group") {
    val out = Similarity.queries("q50_semantic_dedup")(spark, sfDir).collect()
    assert(out.length == Tables.embeddings(spark, sfDir).count())
    val byGroup = out.groupBy(_.getLong(1))
    byGroup.foreach { case (root, members) =>
      // the canonical is a member of its own group and the only keeper
      assert(members.count(_.getBoolean(3)) == 1, s"group $root keepers != 1")
      val keeper = members.find(_.getBoolean(3)).get
      assert(keeper.getLong(0) == root, s"group $root kept a non-canonical")
      assert(root == members.map(_.getLong(0)).min, s"group $root canonical not min id")
      members.foreach(m => assert(m.getLong(2) == members.length, "group_size mismatch"))
    }
    // every q39 pair is within one group (the grouping covers the pairs)
    val comp = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    Similarity.queries("q39_cosine_neardup")(spark, sfDir).collect().foreach { p =>
      assert(comp(p.getLong(0)) == comp(p.getLong(1)),
        s"pair (${p.getLong(0)}, ${p.getLong(1)}) split across groups")
    }
  }

  test("q171 elects the max-quality keeper per component and agrees with q46's grouping") {
    import spark.implicits._
    // Planted fixture: doc 0 = 200 clean tokens + a 10-stopword tail
    // (quality dented), doc 7 = the same 200 tokens clean (higher
    // quality, HIGHER id) — near-dups at shingle Jaccard ≈ 0.94, so the
    // quality election must MOVE the keeper off the min-id canonical.
    // Background docs carry unique vocabulary (no accidental pairs).
    val shared = (0 until 200).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, shared + " the the the the the the the the the the"),
      (7L, shared)) ++
      (20L until 28L).map(id => (id, (0 until 60).map(j => s"u${id}x$j").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft_keeper").toFile
    dir.deleteOnExit()
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val fx = Dedup.queries("q171_quality_keeper")(spark, dir.getAbsolutePath)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5), r.getBoolean(6)))
    assert(fx.map(_._1).toSet == Set(0L, 7L), "exactly the planted pair is grouped")
    fx.foreach { r =>
      assert(r._2 == 0L && r._3 == 7L && r._4 == 2L, s"election wrong: $r")
      assert(r._6 == (r._1 == 7L) && r._7, s"keeper flags wrong: $r")
    }
    // driver corpus: grouping identical to q46; election invariants hold
    val q46 = Dedup.queries("q46_neardup_components")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val out = Dedup.queries("q171_quality_keeper")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5), r.getBoolean(6)))
    assert(out.map(r => (r._1, r._2, r._4)).toSet == q46,
      "q171 grouping diverged from q46")
    out.groupBy(_._2).foreach { case (root, members) =>
      val keeperId = members.head._3
      assert(members.forall(_._3 == keeperId), s"group $root disagrees on keeper")
      assert(members.count(_._6) == 1, s"group $root keepers != 1")
      val qMax = members.map(_._5).max
      val expect = members.filter(_._5 == qMax).map(_._1).min
      assert(keeperId == expect, s"group $root keeper is not argmax(quality, min id)")
      members.foreach(m => assert(m._7 == (keeperId != root)))
    }
  }

  test("q176 JL curve: margin fixture keeps full recall, driver corpus errs shrink with K") {
    import spark.implicits._
    // Two orthogonal clusters with maximal margin (cos 1.0 within, 0.0
    // across): JL distortion (~1/sqrt(K)) cannot close a 1.0 gap, so
    // every arm must keep top-5 overlap = 5. Identical vectors project
    // identically, so within-cluster ties break by vec_id on BOTH arms.
    val dim = 64
    def axisVec(axis: Int): Seq[Float] = {
      val a = Array.fill(dim)(0f); a(axis) = 4f; a.toSeq
    }
    val rows = ((0 to 3) ++ (8 to 19)).map(i => (i.toLong, axisVec(0), "a")) ++
      ((4 to 7) ++ (20 to 31)).map(i => (i.toLong, axisVec(32), "b"))
    val dir = java.nio.file.Files.createTempDirectory("graft_jl").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val fx = SparkEntry.queries("q176_jl_projection")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    graft.Caches.release()
    assert(fx.length == 3 * 8, "3 arms x 8 queries")
    fx.foreach { r =>
      assert(r._3 == rows.length - 1, s"n_pairs wrong: $r")
      assert(r._4 == 5L, s"margin fixture must keep full top-5 recall: $r")
    }
    // driver corpus: structural invariants + distortion monotone in K
    val out = SparkEntry.queries("q176_jl_projection")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    graft.Caches.release()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.map(_._1).distinct.sorted.toSeq == Seq(16, 32, 48))
    assert(out.length == 3 * 8 && out.forall(_._3 == n - 1))
    def meanErr(k: Int) = out.filter(_._1 == k).map(_._6).sum / 8.0
    assert(meanErr(48) < meanErr(32) && meanErr(32) < meanErr(16),
      "JL distortion must shrink as K grows")
  }

  test("q177 hubness audit finds a planted hub and its shares replay from the emitted columns") {
    import spark.implicits._
    // hub geometry: hub = 8*e0; chained spokes v_i = 8*e0 + e_{i+1} +
    // 0.5*e_{i+2}. cos(spoke, hub) ≈ 0.992 beats the chain-neighbor
    // cos ≈ 0.9885, which beats the generic spoke pair ≈ 0.981 — every
    // anchor ranks the hub FIRST and spreads its remaining edges along
    // the chain, so no spoke's in-degree can approach the hub's
    val dim = 64
    val hubId = 999L
    def spoke(i: Int): Seq[Float] = {
      val a = Array.fill(dim)(0f); a(0) = 8f; a(i + 1) = 1f; a(i + 2) = 0.5f; a.toSeq
    }
    val hubVec: Seq[Float] = { val a = Array.fill(dim)(0f); a(0) = 8f; a.toSeq }
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(x.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def isAnchor(id: Long): Boolean =
      BigInt(md5hex(s"hub:$id").take(15), 16) % 8 == 0
    // pick spoke ids so the md5 sample is guaranteed dense: 15 ids from
    // the anchor pool + 45 from the complement (hub id excluded)
    val pool = (0L until 2000L).filter(_ != hubId)
    val spokeIds = (pool.filter(isAnchor).take(15) ++ pool.filterNot(isAnchor).take(45))
    val rows = spokeIds.zipWithIndex.map { case (id, i) => (id, spoke(i), "x") } :+
      ((hubId, hubVec, "x"))
    val dir = java.nio.file.Files.createTempDirectory("graft_hub").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val anchorIds = rows.map(_._1).filter(isAnchor)
    assert(anchorIds.size >= 6, s"fixture needs >= 6 sampled anchors, got ${anchorIds.size}")
    val fx = SparkEntry.queries("q177_hubness_audit")(spark, dir).collect()
    graft.Caches.release()
    assert(fx.length == 1)
    val r = fx.head
    assert(r.getLong(1) == anchorIds.size, "anchor sample must match the md5 replay")
    assert(r.getLong(4) == hubId, "the planted hub must win the election")
    val hubDeg = anchorIds.count(_ != hubId).toLong // every non-hub anchor ranks it #1
    assert(r.getLong(3) == hubDeg, s"hub in-degree must equal non-hub anchors: $r")
    assert(r.getLong(5) >= 1, "the hub must count as heavy")
    assert(r.getLong(6) == r.getLong(3) * 1000000L / r.getLong(2), "ppm share replays")
    // driver corpus: one row per label, shares replay from emitted columns
    val out = SparkEntry.queries("q177_hubness_audit")(spark, sfDir).collect()
    graft.Caches.release()
    assert(out.nonEmpty && out.map(_.getInt(0)).distinct.length == out.length)
    out.foreach { o =>
      assert(o.getLong(2) <= o.getLong(1) * 3, "edges cannot exceed anchors x k")
      assert(o.getLong(6) == o.getLong(3) * 1000000L / o.getLong(2))
    }
  }

  test("q174 split is component-atomic and rescues exactly the naive-split leaks") {
    import spark.implicits._
    // find two ids whose NAIVE doc-keyed hashes land on opposite sides,
    // then make them identical texts: the component key must pull them
    // onto ONE side, flagging at least one as rescued
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(x.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def naive(id: Long): String =
      if (BigInt(md5hex(s"lsplit:$id").take(15), 16) < BigInt(1L << 60) / 10) "eval" else "train"
    val evalId = (0L until 300L).find(naive(_) == "eval").get
    val trainId = (0L until 300L).find(naive(_) == "train").get
    val shared = (0 until 60).map(i => s"s$i").mkString(" ")
    val docs = Seq((evalId, shared), (trainId, shared)) ++
      (500L until 506L).map(id => (id, (0 until 40).map(j => s"u${id}x$j").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft_lsplit").toFile
    dir.deleteOnExit()
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val fx = Dedup.queries("q174_leakage_safe_split")(spark, dir.getAbsolutePath)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getString(3), r.getBoolean(4)))).toMap
    val root = math.min(evalId, trainId)
    assert(fx(evalId)._1 == root && fx(trainId)._1 == root, "pair must share a component")
    assert(fx(evalId)._2 == fx(trainId)._2, "component members split apart")
    assert(fx(evalId)._2 == naive(root), "component split must key on the root")
    assert(Seq(evalId, trainId).count(id => fx(id)._4) == 1,
      "exactly one of the planted pair is rescued")
    fx.filter(_._1 >= 500L).foreach { case (id, v) =>
      assert(v._1 == id && v._2 == v._3 && !v._4, s"singleton $id must keep its naive split")
    }
    // driver corpus: component-atomicity + naive verdict honesty
    val out = Dedup.queries("q174_leakage_safe_split")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getBoolean(4)))
    assert(out.length == Tables.documents(spark, sfDir).count())
    out.groupBy(_._2).foreach { case (_, members) =>
      assert(members.map(_._3).distinct.length == 1, "component split apart")
    }
    out.foreach { t =>
      assert(t._4 == naive(t._1), s"doc ${t._1}: naive_split is not the doc-keyed hash")
      assert(t._5 == (t._3 != t._4))
    }
  }

  test("q175 mirror matrix equals a plain-Scala recomputation from q46's components") {
    // per (source_a <= source_b): components spanning the pair and the
    // co-membership pair mass, recomputed from q46's labels + sources
    val comp = Dedup.queries("q46_neardup_components")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val src = Tables.documents(spark, sfDir).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val bySrc = comp.groupBy(_._2).toSeq.flatMap { case (root, members) =>
      members.groupBy(m => src(m._1)).map { case (s, ms) => (root, s, ms.length.toLong) }
    }
    val expect = (for {
      (root, sa, ca) <- bySrc
      (root2, sb, cb) <- bySrc if root2 == root && sa <= sb
      pairs = if (sa == sb) ca * (ca - 1) / 2 else ca * cb
      if !(sa == sb && ca < 2)
    } yield ((sa, sb), pairs)).groupBy(_._1)
      .map { case (k, vs) => (k._1, k._2, vs.length.toLong, vs.map(_._2).sum) }.toSet
    val got = Dedup.queries("q175_mirror_matrix")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expect, "mirror matrix diverged from the component replay")
    assert(got.nonEmpty, "driver corpus should contain near-dup components")
  }

  test("unified multimodal decode: every doc decodes through its modality's real codec") {
    import graft.functions.Multimodal
    val out = Multimodal.decodeAll(spark, sfDir).collect().map(f => f.doc_id -> f).toMap
    val n = Tables.documents(spark, sfDir).count()
    assert(out.size == n.toInt, "one decoded row per document")
    out.values.foreach { f =>
      f.doc_id % 3 match {
        case 0 =>
          assert(f.media_type == "image")
          assert((f.width, f.height) == Multimodal.imageDims(f.doc_id),
            s"PNG-decoded dims for doc ${f.doc_id}")
          assert(f.n_frames == 1 && f.fingerprint.length == 64)
        case 1 =>
          assert(f.media_type == "audio")
          assert(f.width == Multimodal.audioLen(f.doc_id) && f.height == 1,
            s"WAV-decoded sample count for doc ${f.doc_id}")
          assert(f.n_frames == 1 && f.fingerprint.length == 32)
        case _ =>
          assert(f.media_type == "video")
          assert((f.width, f.height) == Multimodal.videoDims(f.doc_id),
            s"AVI-decoded frame dims for doc ${f.doc_id}")
          assert(f.n_frames == Multimodal.videoFrames(f.doc_id),
            s"idx1 frame count for doc ${f.doc_id}")
          assert(f.fingerprint.length == 128)
      }
      assert(f.fingerprint.forall(c => c == '0' || c == '1'))
    }
  }

  test("media feature extraction: histogram sums to payload size, entropy bounds hold") {
    import spark.implicits._
    import graft.functions.Multimodal
    val media = Seq(
      Multimodal.MediaRow(1L, "image", Array.fill[Byte](64)(0x41)),          // constant -> entropy 0
      Multimodal.MediaRow(2L, "audio", (0 until 256).map(_.toByte).toArray), // uniform bytes -> max bin entropy 4.0
      Multimodal.MediaRow(3L, "video", "hello world".getBytes("UTF-8")))
    val out = Multimodal.extractFeatures(media.toDS()).collect().map(f => f.doc_id -> f).toMap
    out.values.foreach { f => assert(f.bins.sum == f.n_bytes) }
    assert(out(1L).entropy == 0.0)
    assert(math.abs(out(2L).entropy - 4.0) < 1e-9) // 16 bins equally likely
    assert(out(3L).entropy > 0.0 && out(3L).entropy <= 4.0)
  }

  test("resize planning: aspect preserved, never upscaled, never zero") {
    import spark.implicits._
    import graft.functions.Multimodal
    val feats = Seq(
      Multimodal.MediaFeatures(1L, "image", 32, 32, 1, "a"),    // fits: unchanged
      Multimodal.MediaFeatures(2L, "image", 128, 64, 1, "b"),   // width-bound
      Multimodal.MediaFeatures(3L, "image", 50, 200, 1, "c"),   // height-bound
      Multimodal.MediaFeatures(4L, "image", 255, 33, 1, "d"))   // extreme ratio
    val out = Multimodal.resizePlan(feats.toDS(), maxW = 64, maxH = 64)
      .collect().map(r => r.doc_id -> (r.out_w, r.out_h)).toMap
    assert(out(1L) == (32, 32))
    assert(out(2L) == (64, 32))
    assert(out(3L) == (16, 64))
    assert(out(4L) == (64, 8))
    out.values.foreach { case (w, h) => assert(w >= 1 && h >= 1 && w <= 64 && h <= 64) }
  }

  test("q125 resample: decoded downscale replays the integer area-average formula for every image") {
    import graft.functions.Multimodal
    val out = SparkEntry.queries("q125_image_resize")(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = Multimodal.imageDims(id)
      assert((r.getInt(1), r.getInt(2)) == (w, h), s"decoded dims for doc $id")
      val (ow, oh) = Multimodal.fitBox(w, h, 32, 32)
      assert((r.getInt(3), r.getInt(4)) == (ow, oh), s"fitted dims for doc $id")
      assert(ow <= 32 && oh <= 32 && ow >= 1 && oh >= 1)
      // full-raster replay from the pixel formula: the codec path had to
      // recover every source pixel for these means to match
      val sums = new Array[Long](ow * oh)
      val cnts = new Array[Long](ow * oh)
      for (y <- 0 until h; x <- 0 until w) {
        val ci = (y * oh / h) * ow + x * ow / w
        sums(ci) += Multimodal.imageLuma(id, x, y)
        cnts(ci) += 1
      }
      val means = (0 until ow * oh).map(i => sums(i) / cnts(i))
      assert(r.getLong(5) == 1000L * means.sum / (ow * oh), s"mean luma for doc $id")
      val expectHash = java.security.MessageDigest.getInstance("MD5")
        .digest(means.mkString("-").getBytes("US-ASCII"))
        .map(b => f"$b%02x").mkString
      assert(r.getString(6) == expectHash, s"resized raster hash for doc $id")
    }
  }

  test("q126 resample: decoded decimation replays the truncated block-mean formula for every clip") {
    import graft.functions.Multimodal
    val out = SparkEntry.queries("q126_audio_resample")(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getLong(0)
      val (rate, n) = (Multimodal.audioRate(id), Multimodal.audioLen(id))
      assert((r.getInt(1), r.getInt(2), r.getInt(3)) == (rate, 4000, n))
      val k = rate / 4000
      val nOut = n / k
      assert(r.getInt(4) == nOut, s"output length for doc $id")
      // full-signal replay from the sample formula: the WAV decode had
      // to recover every source sample for these means to match
      val means = (0 until nOut).map { o =>
        (0 until k).map(j => Multimodal.audioSample(id, o * k + j).toLong).sum / k
      }
      assert(r.getInt(5) == means.map(math.abs).max, s"peak for doc $id")
      assert(r.getLong(6) == means.map(math.abs).sum, s"sum_abs for doc $id")
      val expectHash = java.security.MessageDigest.getInstance("MD5")
        .digest(means.mkString("-").getBytes("US-ASCII"))
        .map(b => f"$b%02x").mkString
      assert(r.getString(7) == expectHash, s"resampled signal hash for doc $id")
    }
  }

  test("real image decode: PNG round-trip recovers formula pixels exactly") {
    import graft.functions.Multimodal
    val out = Multimodal.decodeImages(Multimodal.synthesizeImages(spark, sfDir))
      .collect().map(f => f.doc_id -> f).toMap
    assert(out.nonEmpty)
    out.values.foreach { f =>
      val (w, h) = Multimodal.imageDims(f.doc_id)
      assert((f.width, f.height) == (w, h), s"decoded dims for doc ${f.doc_id}")
      assert(f.n_px == w.toLong * h)
      assert(f.bins.sum == f.n_px, "histogram covers every decoded pixel")
      // expected histogram straight from the pixel formula — the decode
      // had to recover these values from compressed PNG bytes
      val exp = new Array[Long](16)
      for (y <- 0 until h; x <- 0 until w) exp(Multimodal.imageLuma(f.doc_id, x, y) >> 4) += 1
      assert(f.bins.toSeq == exp.toSeq, s"luma histogram for doc ${f.doc_id}")
    }
    // payloads are genuine PNG containers, not a re-labeled text column
    val payload = Multimodal.synthesizeImages(spark, sfDir).head().payload
    assert(payload.take(8).toSeq == Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
  }

  test("real image decode reads the raster, not the input bytes: independent image decodes correctly") {
    import spark.implicits._
    import graft.functions.Multimodal
    // an image built in the test, unknown to the synthesizer: 4x2, two
    // mid-gray columns then six white pixels
    val img = new java.awt.image.BufferedImage(4, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4)
      img.setRGB(x, y, if (x == 0) 0x808080 else 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val out = Multimodal.decodeImages(
      Seq(Multimodal.MediaRow(99L, "image", bos.toByteArray)).toDS()).head()
    assert((out.width, out.height, out.n_px) == (4, 2, 8L))
    assert(out.bins(8) == 2 && out.bins(15) == 6 && out.bins.sum == 8)
  }

  test("real audio decode: WAV round-trip recovers formula samples exactly") {
    import graft.functions.Multimodal
    val out = Multimodal.decodeAudio(Multimodal.synthesizeAudio(spark, sfDir)).collect()
    assert(out.nonEmpty)
    out.foreach { f =>
      val n = Multimodal.audioLen(f.doc_id)
      val rate = Multimodal.audioRate(f.doc_id)
      assert(f.sample_rate == rate && f.n_samples == n.toLong, s"header for doc ${f.doc_id}")
      assert(f.duration_us == n.toLong * 1000000L / rate)
      // expected statistics straight from the sample formula — the decode
      // had to recover these values through the JDK's WAV parser
      val samples = (0 until n).map(Multimodal.audioSample(f.doc_id, _))
      assert(f.peak == samples.map(math.abs).max, s"peak for doc ${f.doc_id}")
      assert(f.sum_sq == samples.map(s => s.toLong * s).sum, s"energy for doc ${f.doc_id}")
      assert(f.zero_crossings == samples.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)),
        s"zero crossings for doc ${f.doc_id}")
    }
    // payloads are genuine RIFF/WAVE containers, not re-labeled text
    val payload = Multimodal.synthesizeAudio(spark, sfDir).head().payload
    assert(new String(payload.take(4), "US-ASCII") == "RIFF")
    assert(new String(payload.slice(8, 12), "US-ASCII") == "WAVE")
  }

  test("real audio decode reads the container, not the input bytes: independent WAV decodes correctly") {
    import spark.implicits._
    import graft.functions.Multimodal
    // a WAV written by the JDK's OWN encoder (not encodeWav): 4 samples
    // at 8 kHz — [100, -200, 300, 0]
    val samples = Array[Short](100, -200, 300, 0)
    val bytes = new Array[Byte](8)
    java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .asShortBuffer().put(samples)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, 4)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val out = Multimodal.decodeAudio(
      Seq(Multimodal.MediaRow(99L, "audio", bos.toByteArray)).toDS()).head()
    assert((out.sample_rate, out.n_samples) == (8000, 4L))
    assert(out.peak == 300 && out.sum_sq == 100L * 100 + 200L * 200 + 300L * 300)
    assert(out.zero_crossings == 2) // 100→-200 and -200→300; 300→0 is not a crossing
  }

  test("real video decode: AVI round-trip samples the right frames and recovers formula pixels") {
    import graft.functions.Multimodal
    val out = Multimodal.decodeVideoFrames(Multimodal.synthesizeVideos(spark, sfDir))
      .collect().groupBy(_.doc_id)
    assert(out.nonEmpty)
    out.foreach { case (id, frames) =>
      val (w, h) = Multimodal.videoDims(id)
      val n = Multimodal.videoFrames(id)
      val step = math.max(1, n / 4)
      val want = (0 until n by step).take(4)
      assert(frames.map(_.frame_idx).toSeq.sorted == want, s"sampled schedule for doc $id")
      frames.foreach { fr =>
        assert((fr.width, fr.height, fr.n_frames) == (w, h, n))
        val lumas = for (y <- 0 until h; x <- 0 until w)
          yield Multimodal.videoLuma(id, fr.frame_idx, x, y)
        assert(fr.sum_luma == lumas.map(_.toLong).sum, s"doc $id frame ${fr.frame_idx}")
        assert(fr.min_luma == lumas.min && fr.max_luma == lumas.max)
      }
    }
    // payloads are genuine RIFF/AVI containers
    val payload = Multimodal.synthesizeVideos(spark, sfDir).head().payload
    assert(new String(payload.take(4), "US-ASCII") == "RIFF")
    assert(new String(payload.slice(8, 12), "US-ASCII") == "AVI ")
  }

  test("q49 audio/video pipelines: decoded histograms match the sample/pixel formulas") {
    import graft.functions.Multimodal
    val aud = Multimodal.audioPipeline(spark, sfDir).collect()
    assert(aud.nonEmpty)
    aud.foreach { r =>
      val n = Multimodal.audioLen(r.doc_id)
      assert((r.width, r.height) == (n, 1) && r.n_bytes == 2L * n)
      assert((r.out_w, r.out_h) == Multimodal.fitBox(n, 1, 64, 64))
      val bins = new Array[Long](16)
      (0 until n).foreach(i => bins((Multimodal.audioSample(r.doc_id, i) + 32768) >> 12) += 1)
      assert(r.bins.toSeq == bins.toSeq, s"audio bins for doc ${r.doc_id}")
    }
    val vid = Multimodal.videoPipeline(spark, sfDir).collect()
    assert(vid.nonEmpty)
    vid.foreach { r =>
      val (w, h) = Multimodal.videoDims(r.doc_id)
      val nf = Multimodal.videoFrames(r.doc_id)
      val fs = (0 until nf by math.max(1, nf / 4)).take(4)
      assert((r.width, r.height) == (w, h))
      assert(r.n_bytes == fs.size.toLong * w * h)
      val bins = new Array[Long](16)
      for (f <- fs; y <- 0 until h; x <- 0 until w)
        bins(Multimodal.videoLuma(r.doc_id, f, x, y) >> 4) += 1
      assert(r.bins.toSeq == bins.toSeq, s"video bins for doc ${r.doc_id}")
    }
  }

  test("real video decode follows the idx1 index, not physical chunk order") {
    import spark.implicits._
    import graft.functions.Multimodal
    // a 2x2 2-frame AVI built in the test with frames stored in REVERSE
    // physical order: logical frame 0 (all-luma-10) is the SECOND chunk
    // in movi, frame 1 (all-luma-200) the first; idx1 points each logical
    // frame at its actual chunk. A decoder that walks movi sequentially
    // reports 200 for frame 0 — following the index reports 10.
    def le(i: Int): Array[Byte] =
      java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(i).array()
    def cc(s: String) = s.getBytes("US-ASCII")
    val frameBytes = 16 // 2 rows of (2*3 padded to 8) bytes
    def dib(luma: Int): Array[Byte] =
      (0 until 2).flatMap(_ => Seq.fill(6)(luma.toByte) ++ Seq(0.toByte, 0.toByte)).toArray
    val strf = le(40) ++ le(2) ++ le(2) ++
      Array[Byte](1, 0, 24, 0) ++ le(0) ++ le(frameBytes) ++ le(0) ++ le(0) ++ le(0) ++ le(0)
    val hdrl = cc("avih") ++ le(56) ++ Array.fill(56)(0.toByte) ++
      (cc("LIST") ++ le(4 + 8 + 56 + 8 + strf.length) ++ cc("strl") ++
        cc("strh") ++ le(56) ++ cc("vids") ++ cc("DIB ") ++ Array.fill(48)(0.toByte) ++
        cc("strf") ++ le(strf.length) ++ strf)
    val movi = cc("movi") ++
      cc("00db") ++ le(frameBytes) ++ dib(200) ++ // physically first: logical frame 1
      cc("00db") ++ le(frameBytes) ++ dib(10)     // physically second: logical frame 0
    val idx = cc("00db") ++ le(0x10) ++ le(4 + 8 + frameBytes) ++ le(frameBytes) ++ // frame 0 -> 2nd chunk
      cc("00db") ++ le(0x10) ++ le(4) ++ le(frameBytes)                             // frame 1 -> 1st chunk
    val body = cc("AVI ") ++
      cc("LIST") ++ le(4 + hdrl.length) ++ cc("hdrl") ++ hdrl ++
      cc("LIST") ++ le(movi.length) ++ movi ++
      cc("idx1") ++ le(idx.length) ++ idx
    val avi = cc("RIFF") ++ le(body.length) ++ body
    val out = Multimodal.decodeVideoFrames(
      Seq(Multimodal.MediaRow(7L, "video", avi)).toDS()).collect().sortBy(_.frame_idx)
    assert(out.length == 2 && out.forall(f => f.width == 2 && f.height == 2))
    assert(out(0).min_luma == 10 && out(0).max_luma == 10, "frame 0 must come from the indexed chunk")
    assert(out(1).min_luma == 200 && out(1).max_luma == 200)
  }

  test("langid marker join predicts a language for marker-bearing docs") {
    val out = TextPipeline.queries("q41_langid")(spark, sfDir)
    assert(out.count() == Tables.documents(spark, sfDir).count())
    // every doc got a prediction (possibly 'und'), none null
    assert(out.filter(col("pred_lang").isNull).isEmpty)
  }

  test("k-means clusters match a plain-Scala Lloyd recomputation") {
    val got = SparkEntry.queries("q59_kmeans_clusters")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // independent: same algorithm in driver-side Scala over the raw table
    val vecs = Tables.embeddings(spark, sfDir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(v => math.rint(v.toDouble * 10000).toLong).toArray)
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]) = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val byId = vecs.toMap
    def assign(cents: Map[Long, Array[Long]]) = vecs.toSeq.map { case (id, a) =>
      val (cid, dd) = cents.toSeq.map { case (c, ca) => (c, d2(a, ca)) }
        .minBy { case (c, dd) => (dd, c) }
      (id, cid, dd)
    }
    // mirror the query's unrolled structure: assign → update → assign
    val c0 = vecs.filter(_._1 < 8).map { case (id, a) => id -> a }.toMap
    val a1 = assign(c0)
    val c1 = a1.groupBy(_._2).map { case (c, members) =>
      val arrs = members.map(m => byId(m._1))
      c -> Array.tabulate(64)(p => arrs.map(_(p)).sum / arrs.length) // truncating div, matches `div`
    }
    val fin = assign(c1).map { case (_, cid, dd) => (cid, dd) }
    val expect = fin.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (c, ms) => (c, ms.size.toLong, ms.map(_._2).sum) }
    assert(got.toSeq == expect, s"got=${got.toSeq}\nexpect=$expect")
  }

  test("product quantization codes match a plain-Scala per-subspace Lloyd recomputation") {
    val got = SparkEntry.queries("q63_pq_codes")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val vecs = Tables.embeddings(spark, sfDir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(v => math.rint(v.toDouble * 10000).toLong).toArray)
      .sortBy(_._1)
    def subv(a: Array[Long], s: Int) = a.slice(s * 8, s * 8 + 8)
    def dd2(a: Array[Long], b: Array[Long]) = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val perSub = (0 until 8).map { s =>
      // independent per-subspace Lloyd: assign → floor-mean update → assign
      val data = vecs.map { case (id, a) => id -> subv(a, s) }
      val byId = data.toMap
      def assign(cents: Map[Long, Array[Long]]) = data.map { case (id, a) =>
        val (cid, dd) = cents.toSeq.map { case (c, ca) => (c, dd2(a, ca)) }
          .minBy { case (c, dd) => (dd, c) }
        (id, cid, dd)
      }
      val c0 = data.filter(_._1 < 16).map { case (id, a) => id -> a }.toMap
      val c1 = assign(c0).groupBy(_._2).map { case (c, ms) =>
        val arrs = ms.map(m => byId(m._1))
        c -> Array.tabulate(8)(p => arrs.map(_(p)).sum / arrs.length)
      }
      s -> assign(c1).map { case (id, cid, dd) => id -> ((cid, dd)) }.toMap
    }.toMap
    vecs.foreach { case (id, _) =>
      val code = (0 until 8).map(s => perSub(s)(id)._1).mkString("-")
      val qerr = (0 until 8).map(s => perSub(s)(id)._2).sum
      assert(got(id) == ((code, qerr)), s"vec $id: got=${got(id)} expect=${(code, qerr)}")
    }
  }

  /** Driver-side PQ machinery shared by the q64/q71 specs: quantized
    * vectors, and per-subspace (codes, trained codebook) — the same
    * assign → floor-mean → assign as the q63 spec. */
  private lazy val pqRef: (Array[(Long, Array[Long])], Map[Int, (Map[Long, Long], Map[Long, Array[Long]])]) = {
    val vecs = Tables.embeddings(spark, sfDir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(v => math.rint(v.toDouble * 10000).toLong).toArray)
      .sortBy(_._1)
    def subv(a: Array[Long], s: Int) = a.slice(s * 8, s * 8 + 8)
    def dd2(a: Array[Long], b: Array[Long]) = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val perSub = (0 until 8).map { s =>
      val data = vecs.map { case (id, a) => id -> subv(a, s) }
      val byId = data.toMap
      def assign(cents: Map[Long, Array[Long]]) = data.map { case (_, a) =>
        cents.toSeq.map { case (c, ca) => (c, dd2(a, ca)) }.minBy { case (c, dd) => (dd, c) }
      }
      val c0 = data.filter(_._1 < 16).map { case (id, a) => id -> a }.toMap
      val c1 = assign(c0).zip(data).groupBy(_._1._1).map { case (c, ms) =>
        val arrs = ms.map(m => byId(m._2._1))
        c -> Array.tabulate(8)(p => arrs.map(_(p)).sum / arrs.length)
      }
      // final codes against the trained codebook + the codebook itself
      val codes = data.map { case (id, a) =>
        id -> c1.toSeq.map { case (c, ca) => (c, dd2(a, ca)) }.minBy { case (c, dd) => (dd, c) }._1
      }.toMap
      s -> ((codes, c1))
    }.toMap
    (vecs, perSub)
  }

  /** ADC distance Σ_s ‖q_s − c_{code_s(v)}‖² from the reference model. */
  private def adcDist(q: Array[Long], vid: Long): Long = {
    def subv(a: Array[Long], s: Int) = a.slice(s * 8, s * 8 + 8)
    def dd2(a: Array[Long], b: Array[Long]) = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    (0 until 8).map { s =>
      val (codes, c1) = pqRef._2(s)
      dd2(subv(q, s), c1(codes(vid)))
    }.sum
  }

  test("PQ-ADC search matches a plain-Scala distance-table recomputation") {
    val got = SparkEntry.queries("q64_pq_adc")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val (vecs, _) = pqRef
    val ids = vecs.map(_._1)
    val expect = ids.filter(_ < 8).flatMap { qid =>
      val q = vecs.find(_._1 == qid).get._2
      val scored = ids.filter(_ != qid).map(vid => (vid, adcDist(q, vid)))
        .sortBy { case (vid, adist) => (adist, vid) }.take(3)
      scored.zipWithIndex.map { case ((vid, adist), i) => (qid, vid, adist, i + 1) }
    }
    assert(got.toSeq == expect.toSeq, s"got=${got.toSeq.take(6)}…\nexpect=${expect.take(6)}…")
  }

  test("q68 threshold ties resolve by vec_id rank exactly (crafted tie corpus)") {
    // Engineered Lloyd outcome: seed 0 at the origin, seeds 1..7 far on
    // distinct axes, and 40 members of cluster 0 placed symmetrically on
    // dim 0 — 20 at ±0.25 (dist² A) and 20 at ±0.5 (dist² B > A) — so
    // the centroid floor-mean stays at the origin and distances are
    // exact. n = 41 ⇒ t = ⌊41·97/100⌋ = 39, ranks 22..41 all hold B:
    // the threshold value IS a 20-way tie, c_lt = 21, and the outliers
    // are the tie rows with vec_id rank > 18 — precisely the two
    // largest vec_ids of the B ring. Clusters 1..7 are singletons,
    // exercising the t = 0 and constant-distance shortcuts in the same
    // run.
    val dim = 64
    def vec(axis: Int, v: Float): Array[Float] = {
      val a = Array.fill(dim)(0f); if (axis >= 0) a(axis) = v; a
    }
    val rows =
      Seq((0L, vec(-1, 0f))) ++                      // seed 0: origin
      (1 to 7).map(k => (k.toLong, vec(k, 8f))) ++   // far seeds
      (8 to 17).map(i => (i.toLong, vec(0, 0.25f))) ++
      (18 to 27).map(i => (i.toLong, vec(0, -0.25f))) ++
      (28 to 37).map(i => (i.toLong, vec(0, 0.5f))) ++
      (38 to 47).map(i => (i.toLong, vec(0, -0.5f)))
    val dir = java.nio.file.Files.createTempDirectory("graft_q68_tie").toString
    import spark.implicits._
    rows.toSeq.map { case (id, e) => (id, e.toSeq, "x") }
      .toDF("vec_id", "embedding", "label")
      .repartition(2).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val got = SparkEntry.queries("q68_embed_outliers")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    graft.Caches.release()
    val A = 2500L * 2500L; val B = 5000L * 5000L
    // cluster 0: med is the rank-21 value = A; only vec_ids 46, 47 are
    // outliers (tie ranks 19 and 20 of the B ring, ordered by vec_id)
    (8 to 47).foreach { i =>
      val (cid, d2, med, out) = got(i.toLong)
      assert(cid == 0L && med == A, s"vec $i landed ($cid, med $med)")
      assert(d2 == (if (i <= 27) A else B), s"vec $i dist $d2")
      assert(out == (i >= 46), s"vec $i outlier=$out")
    }
    // seed 0 sits at the centroid; singleton clusters flag nothing
    assert(got(0L) == ((0L, 0L, A, false)))
    (1 to 7).foreach(k => assert(got(k.toLong) == ((k.toLong, 0L, 0L, false)), s"seed $k"))
  }

  test("persisted PQ index: artifact-served search equals the retraining ADC path") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    // cold: q79 builds the artifact itself, then serves from it
    val cold = rows("q79_pq_index_search")
    assert(cold == rows("q64_pq_adc"),
      "artifact-served ranking diverged from the retraining path")
    // warm: the artifact persists, the build short-circuits, results hold
    assert(rows("q79_pq_index_search") == cold)
    // the build entry's codes agree with q63's (same training, same argmin)
    val built = SparkEntry.queries("q78_pq_index_build")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    SparkEntry.queries("q63_pq_codes")(spark, sfDir).collect().foreach { r =>
      assert(built(r.getLong(0)) == r.getString(1),
        s"stored code for vec ${r.getLong(0)} diverges from q63")
    }
  }

  test("persisted PQ index storage contract: half-built index rebuilt, fingerprint keys the data, root configurable") {
    import graft.queries.Similarity
    val hfs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val root = java.nio.file.Files.createTempDirectory("graft_idx_test").toString
    val prev = sys.props.get("graft.index.dir")
    try {
      sys.props("graft.index.dir") = root
      val want = SparkEntry.queries("q79_pq_index_search")(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
      val path = new org.apache.hadoop.fs.Path(Similarity.pqIndexPath(spark, sfDir))
      // the root knob was honored and the marker published
      assert(path.toString.startsWith(root), s"index at $path ignores configured root")
      assert(hfs.exists(new org.apache.hadoop.fs.Path(path, "_COMPLETE")))
      // sabotage: drop the marker and corrupt the codes — a half-built
      // (marker-less) artifact must be rebuilt, never served
      hfs.delete(new org.apache.hadoop.fs.Path(path, "_COMPLETE"), false)
      hfs.delete(new org.apache.hadoop.fs.Path(path, "codes"), true)
      hfs.mkdirs(new org.apache.hadoop.fs.Path(path, "codes"))
      val rebuilt = SparkEntry.queries("q79_pq_index_search")(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
      assert(rebuilt == want, "marker-less index was served instead of rebuilt")
      assert(hfs.exists(new org.apache.hadoop.fs.Path(path, "_COMPLETE")), "rebuild did not republish")
      // staleness: a regenerated corpus under the SAME dir path must key
      // to a DIFFERENT index (fingerprint covers file lengths/mtimes)
      val dataCopy = java.nio.file.Files.createTempDirectory("graft_idx_data").toString
      val emb = new java.io.File(s"$sfDir/embeddings.parquet")
      val copyTo = new java.io.File(s"$dataCopy/embeddings.parquet")
      if (emb.isDirectory) {
        copyTo.mkdirs()
        emb.listFiles().foreach(f => java.nio.file.Files.copy(f.toPath,
          new java.io.File(copyTo, f.getName).toPath))
      } else java.nio.file.Files.copy(emb.toPath, copyTo.toPath)
      val k1 = Similarity.pqDataFingerprint(spark, dataCopy)
      assert(Similarity.pqDataFingerprint(spark, dataCopy) == k1, "fingerprint not stable")
      // "regenerate" in place: same dir, same bytes, new mtime
      val touched = if (copyTo.isDirectory) copyTo.listFiles().head else copyTo
      assert(touched.setLastModified(touched.lastModified() + 60000))
      assert(Similarity.pqDataFingerprint(spark, dataCopy) != k1,
        "fingerprint blind to a regenerated corpus under the same path")
    } finally {
      prev match { case Some(v) => sys.props("graft.index.dir") = v
                   case None    => sys.props.remove("graft.index.dir") }
    }
  }

  test("IVF-PQ search is the ADC ranking restricted to the probed coarse cells") {
    val got = SparkEntry.queries("q71_ivfpq_search")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // coarse layer reference: 1e7-quantized cosine against the stride
    // pivots — same IEEE expression both engines evaluate
    val vecs7 = Tables.embeddings(spark, sfDir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(v => math.rint(v.toDouble * 1e7).toLong).toArray)
      .sortBy(_._1)
    val pivots = vecs7.filter { case (id, _) => id % 61 == 3 }
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) * math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    def rankedCells(a: Array[Long]) =
      pivots.map { case (cell, pa) => (cell, cos(a, pa)) }
        .sortBy { case (cell, c) => (-c, cell) }
    val cellOf = vecs7.map { case (id, a) => id -> rankedCells(a).head._1 }.toMap
    val (vecs, _) = pqRef
    val byId = vecs.toMap
    val expect = vecs7.filter(_._1 < 8).flatMap { case (qid, a7) =>
      val probed = rankedCells(a7).take(2).map(_._1).toSet
      val cand = vecs7.map(_._1).filter(v => v != qid && probed(cellOf(v)))
      cand.map(vid => (vid, adcDist(byId(qid), vid)))
        .sortBy { case (vid, d) => (d, vid) }.take(3)
        .zipWithIndex.map { case ((vid, d), i) => (qid, vid, d, i + 1) }
    }
    assert(got.toSeq == expect.toSeq, s"got=${got.toSeq.take(6)}…\nexpect=${expect.take(6)}…")
  }

  test("embedding outliers: median is a real member distance, verdict is the exact top-3% rank test") {
    val rows = SparkEntry.queries("q68_embed_outliers")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (cid, ms) =>
      val med = ms.head._4
      assert(ms.forall(_._4 == med), s"cluster $cid has inconsistent medians")
      // the median must be an actual member's distance at the discrete rank
      val sorted = ms.map(_._3).sorted
      assert(sorted((ms.length - 1) / 2) == med,
        s"cluster $cid: med=$med is not the rank-selected member distance")
      // recompute the rank verdict: top 3% by (dist2, vec_id), strictly above median
      val n = ms.length
      val ranked = ms.sortBy(m => (m._3, m._1)).zipWithIndex
      ranked.foreach { case ((vid, _, d2, m, out), i) =>
        val expect = (i + 1) * 100 > n * 97 && d2 > m
        assert(out == expect, s"vec $vid verdict mismatch (rank ${i + 1}/$n)")
      }
    }
    // the test must discriminate: some outliers, but never a majority
    val nOut = rows.count(_._5)
    assert(nOut > 0 && nOut * 2 < rows.length, s"degenerate outlier rate: $nOut/${rows.length}")
  }

  test("q94 aHash pairs match a formula-side replay (decode round-trip + dedup semantics)") {
    // Independent path: the replay computes every aHash from the PIXEL
    // FORMULA (never decoding a PNG), the query computes them from real
    // decoded rasters — agreement certifies the codec round-trip and the
    // band/cap/hamming pipeline at once.
    def dims(id: Long) = (8 + (id % 120).toInt, 8 + ((id * 7) % 120).toInt)
    def ahash(id: Long): String = {
      val (w, h) = dims(id)
      val sums = new Array[Long](64); val cnts = new Array[Long](64)
      for (y <- 0 until h; x <- 0 until w) {
        val b = (y * 8 / h) * 8 + (x * 8 / w)
        sums(b) += (id * 31 + x * 7 + y * 13) % 256
        cnts(b) += 1
      }
      val tot = sums.sum; val n = w.toLong * h
      (0 until 64).map(i => if (sums(i) * n >= tot * cnts(i)) '1' else '0').mkString
    }
    val ids = Tables.documents(spark, sfDir).select("doc_id").collect()
      .map(_.getLong(0)).filter(_ % 3 == 0).sorted
    val hs = ids.map(id => id -> ahash(id)).toMap
    val buckets = scala.collection.mutable.Map.empty[(Int, String), Vector[Long]]
    for (id <- ids; b <- 0 until 8) {
      val k = (b, hs(id).substring(b * 8, b * 8 + 8))
      buckets(k) = buckets.getOrElse(k, Vector.empty) :+ id
    }
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    val candPairs: Set[(Long, Long)] = buckets.values.toSeq
      .filter(v => v.length >= 2 && v.length <= 64)
      .flatMap(v => v.sorted.combinations(2).map(p => (p(0), p(1))))
      .toSet
    val expect: Set[(Long, Long, Int)] = candPairs
      .filter { case (a, b) => ham(hs(a), hs(b)) <= 6 }
      .map { case (a, b) => (a, b, ham(hs(a), hs(b))) }
    val got = SparkEntry.queries("q94_image_phash_dedup")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expect, s"aHash pair mismatch: got=${got.size} expect=${expect.size}")
  }

  test("q95 envelope pairs match a formula-side replay (WAV round-trip + dedup semantics)") {
    def ehash(id: Long): String = {
      val n = 256 + ((id * 13) % 1024).toInt
      val sums = new Array[Long](32); val cnts = new Array[Long](32)
      for (i <- 0 until n) {
        val s = ((id * 31 + i.toLong * 7919) % 65536) - 32768
        val f = i * 32 / n
        sums(f) += math.abs(s); cnts(f) += 1
      }
      val tot = sums.sum
      (0 until 32).map(f => if (sums(f) * n >= tot * cnts(f)) '1' else '0').mkString
    }
    val ids = Tables.documents(spark, sfDir).select("doc_id").collect()
      .map(_.getLong(0)).filter(_ % 3 == 1).sorted
    val hs = ids.map(id => id -> ehash(id)).toMap
    val buckets = scala.collection.mutable.Map.empty[(Int, String), Vector[Long]]
    for (id <- ids; b <- 0 until 4) {
      val k = (b, hs(id).substring(b * 8, b * 8 + 8))
      buckets(k) = buckets.getOrElse(k, Vector.empty) :+ id
    }
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    val candPairs: Set[(Long, Long)] = buckets.values.toSeq
      .filter(v => v.length >= 2 && v.length <= 64)
      .flatMap(v => v.sorted.combinations(2).map(p => (p(0), p(1))))
      .toSet
    val expect: Set[(Long, Long, Int)] = candPairs
      .filter { case (a, b) => ham(hs(a), hs(b)) <= 3 }
      .map { case (a, b) => (a, b, ham(hs(a), hs(b))) }
    val got = SparkEntry.queries("q95_audio_envelope_dedup")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expect, s"envelope pair mismatch: got=${got.size} expect=${expect.size}")
  }

  test("q97 signatures match a formula replay; period-aligned videos group together") {
    import spark.implicits._
    def vdims(id: Long) = (16 + (id % 16).toInt, 16 + ((id * 3) % 16).toInt)
    def sig(id: Long): String = {
      val (w, h) = vdims(id)
      val n = 4 + ((id * 7) % 12).toInt
      Seq(0, n / 2).map { f =>
        val sums = new Array[Long](64); val cnts = new Array[Long](64)
        for (y <- 0 until h; x <- 0 until w) {
          val b = (y * 8 / h) * 8 + (x * 8 / w)
          sums(b) += ((id * 31 + f * 17 + x * 7 + y * 13) % 256)
          cnts(b) += 1
        }
        val tot = sums.sum; val np = w.toLong * h
        (0 until 64).map(i => if (sums(i) * np >= tot * cnts(i)) '1' else '0').mkString
      }.mkString
    }
    val got = SparkEntry.queries("q97_video_fingerprint")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    got.foreach { case (id, s) =>
      assert(s == sig(id), s"video $id signature diverges from the formula replay")
    }
    // planted period-aligned pair (31·3840 ≡ 0 mod 256, dims/frames cycle
    // at 16 and 12 — same signature by construction) must share a group
    val dir = java.nio.file.Files.createTempDirectory("graft_vid").toFile
    dir.deleteOnExit()
    Seq((2L, "x", "s"), (3842L, "y", "s"), (5L, "z", "s"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", lit(1L))
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val grouped = SparkEntry.queries("q97_video_fingerprint")(spark, dir.getAbsolutePath)
      .collect().map(r => r.getLong(0) -> (r.getLong(5), r.getInt(6))).toMap
    assert(grouped(2L) == ((2L, 2)) && grouped(3842L) == ((2L, 2)),
      s"period pair must group under min doc_id: $grouped")
    assert(grouped(5L)._2 == 1, "unrelated video must stay a singleton")
  }

  test("checked image decode routes corrupt payloads to the dead letter, not a stage failure") {
    import spark.implicits._
    import graft.functions.Multimodal
    val goodPng = Multimodal.encodePng(9L)
    val rows = Seq(
      Multimodal.MediaRow(9L, "image", goodPng),
      Multimodal.MediaRow(10L, "image", goodPng.take(20)),          // truncated container
      Multimodal.MediaRow(11L, "image", Array[Byte](1, 2, 3, 4)),   // junk bytes
      Multimodal.MediaRow(12L, "image", Array.empty[Byte]))         // empty blob
    val out = Multimodal.imageAHashesChecked(spark.createDataset(rows)).collect()
      .map(r => r.doc_id -> r).toMap
    // the good row hashes exactly as the unchecked path would
    val plain = Multimodal.imageAHashes(
      spark.createDataset(Seq(Multimodal.MediaRow(9L, "image", goodPng)))).head()
    assert(out(9L).decode_ok && out(9L).ahash == plain.ahash
      && out(9L).width == plain.width && out(9L).height == plain.height)
    // every corrupt payload is flagged with a reason, none kills the stage
    Seq(10L, 11L, 12L).foreach { id =>
      assert(!out(id).decode_ok && out(id).ahash.isEmpty && out(id).err.nonEmpty,
        s"doc $id: ${out(id)}")
    }
    // and the flagged half rides the K8 dead-letter taxonomy
    val dead = graft.incremental.Sinks.deadLetter(
      Multimodal.imageAHashesChecked(spark.createDataset(rows)).toDF()
        .filter(!col("decode_ok")).select("doc_id", "err"),
      flag = -2, description = "undecodable media payload")
    val deadRows = dead.collect()
    assert(deadRows.length == 3 && deadRows.forall(_.getAs[Int]("flag") == -2))
  }

  test("image bomb: huge header-declared dims dead-letter without allocating the raster") {
    import spark.implicits._
    import graft.functions.Multimodal
    // take a genuine PNG and rewrite its IHDR to declare a 60000×60000
    // raster (3.6 Gpx ≈ 14 GiB ARGB) with a VALID chunk CRC — the shape
    // of an adversarial crawl payload: ImageIO.read would OOM on the
    // raster allocation before its decoder ever sees a pixel error
    val bomb = Multimodal.encodePng(9L).clone()
    def putInt(off: Int, v: Int): Unit = {
      bomb(off) = (v >>> 24).toByte; bomb(off + 1) = (v >>> 16).toByte
      bomb(off + 2) = (v >>> 8).toByte; bomb(off + 3) = v.toByte
    }
    putInt(16, 60000) // IHDR width  (signature 8 + len 4 + type 4)
    putInt(20, 60000) // IHDR height
    val crc = new java.util.zip.CRC32()
    crc.update(bomb, 12, 17) // chunk type + 13 data bytes
    putInt(29, crc.getValue.toInt)
    val out = Multimodal.imageAHashesChecked(spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "image", bomb)))).head()
    assert(!out.decode_ok && out.err.contains("oversized"), out.toString)
  }

  test("checked decoders never throw on arbitrary bytes (fuzz, incl. cross-container confusion)") {
    import spark.implicits._
    import graft.functions.Multimodal
    val rnd = new scala.util.Random(42) // deterministic fuzz corpus
    val junk = (0 until 60).map { _ =>
      val b = new Array[Byte](rnd.nextInt(200)); rnd.nextBytes(b); b
    }
    val png = Multimodal.encodePng(3L)
    val wav = Multimodal.encodeWav(4L)
    val avi = Multimodal.encodeAvi(5L)
    // truncation ladder per container + the WRONG-modality full
    // containers (a WAV fed to the image decoder must flag, not throw)
    val prefixes = Seq(png, wav, avi).flatMap(c =>
      Seq(1, 4, 12, 20, 40, c.length - 1).map(c.take))
    val all = (junk ++ prefixes) :+ png :+ wav :+ avi
    def rows(tp: String) = spark.createDataset(
      all.zipWithIndex.map { case (b, i) => Multimodal.MediaRow(i.toLong, tp, b) })
    val img = Multimodal.imageAHashesChecked(rows("image")).collect()
    val aud = Multimodal.audioEnvelopeHashesChecked(rows("audio")).collect()
    val vid = Multimodal.videoSignaturesChecked(rows("video")).collect()
    // every input yields exactly one row — nothing killed a stage
    assert(img.length == all.size && aud.length == all.size && vid.length == all.size)
    // the genuine container decodes through its own path...
    assert(img.find(_.doc_id == all.size - 3).get.decode_ok, "real PNG flagged")
    assert(aud.find(_.doc_id == all.size - 2).get.decode_ok, "real WAV flagged")
    assert(vid.find(_.doc_id == all.size - 1).get.decode_ok, "real AVI flagged")
    // ...random bytes never do (a junk blob passing the PNG/RIFF
    // signature checks has probability ~2^-64), and wrong-modality
    // containers flag instead of confusing the decoder
    val junkIds = junk.indices.map(_.toLong).toSet
    assert(img.filter(r => junkIds(r.doc_id)).forall(!_.decode_ok))
    assert(aud.filter(r => junkIds(r.doc_id)).forall(!_.decode_ok))
    assert(vid.filter(r => junkIds(r.doc_id)).forall(!_.decode_ok))
    assert(!img.find(_.doc_id == all.size - 2).get.decode_ok, "WAV decoded as image")
    assert(!vid.find(_.doc_id == all.size - 2).get.decode_ok, "WAV decoded as video")
    assert(!aud.find(_.doc_id == all.size - 3).get.decode_ok, "PNG decoded as audio")
  }

  test("checked audio decode routes corrupt payloads to the dead letter, not a stage failure") {
    import spark.implicits._
    import graft.functions.Multimodal
    val goodWav = Multimodal.encodeWav(10L)
    val stereo = goodWav.clone()
    stereo(22) = 2 // format chunk nChannels: the unexpected-format path
    val rows = Seq(
      Multimodal.MediaRow(10L, "audio", goodWav),
      Multimodal.MediaRow(11L, "audio", goodWav.take(30)),          // truncated container
      Multimodal.MediaRow(12L, "audio", Array[Byte](1, 2, 3, 4)),   // junk bytes
      Multimodal.MediaRow(13L, "audio", Array.empty[Byte]),         // empty blob
      Multimodal.MediaRow(14L, "audio", stereo))                    // wrong format
    val out = Multimodal.audioEnvelopeHashesChecked(spark.createDataset(rows)).collect()
      .map(r => r.doc_id -> r).toMap
    val plain = Multimodal.audioEnvelopeHashes(
      spark.createDataset(Seq(Multimodal.MediaRow(10L, "audio", goodWav)))).head()
    assert(out(10L).decode_ok && out(10L).ehash == plain.ehash
      && out(10L).n_samples == plain.n_samples)
    Seq(11L, 12L, 13L, 14L).foreach { id =>
      assert(!out(id).decode_ok && out(id).ehash.isEmpty && out(id).err.nonEmpty,
        s"doc $id: ${out(id)}")
    }
    val dead = graft.incremental.Sinks.deadLetter(
      Multimodal.audioEnvelopeHashesChecked(spark.createDataset(rows)).toDF()
        .filter(!col("decode_ok")).select("doc_id", "err"),
      flag = -2, description = "undecodable media payload")
    assert(dead.collect().length == 4 && dead.collect().forall(_.getAs[Int]("flag") == -2))
  }

  test("checked video decode routes corrupt payloads to the dead letter, not a stage failure") {
    import spark.implicits._
    import graft.functions.Multimodal
    val goodAvi = Multimodal.encodeAvi(11L)
    // dims bomb: rewrite the strf BITMAPINFOHEADER to declare 60000×60000
    // frames — the BMP reader would allocate the raster from the header
    def findStrf(b: Array[Byte]): Int = {
      val pat = "strf".getBytes("US-ASCII")
      b.indices.find(i => i + 4 <= b.length && pat.indices.forall(j => b(i + j) == pat(j))).get
    }
    val bomb = goodAvi.clone()
    val strfData = findStrf(bomb) + 8 // past fourcc + size
    def putLe(off: Int, v: Int): Unit = {
      bomb(off) = v.toByte; bomb(off + 1) = (v >>> 8).toByte
      bomb(off + 2) = (v >>> 16).toByte; bomb(off + 3) = (v >>> 24).toByte
    }
    putLe(strfData + 4, 60000) // biWidth
    putLe(strfData + 8, 60000) // biHeight
    val rows = Seq(
      Multimodal.MediaRow(11L, "video", goodAvi),
      Multimodal.MediaRow(12L, "video", goodAvi.take(40)),          // truncated container
      Multimodal.MediaRow(13L, "video", Array[Byte](1, 2, 3, 4)),   // junk bytes
      Multimodal.MediaRow(14L, "video", Array.empty[Byte]),         // empty blob
      Multimodal.MediaRow(15L, "video", bomb))                      // dims bomb
    val out = Multimodal.videoSignaturesChecked(spark.createDataset(rows)).collect()
      .map(r => r.doc_id -> r).toMap
    val plain = Multimodal.videoSignatures(
      spark.createDataset(Seq(Multimodal.MediaRow(11L, "video", goodAvi)))).head()
    assert(out(11L).decode_ok && out(11L).sig == plain.sig
      && out(11L).n_frames == plain.n_frames)
    Seq(12L, 13L, 14L, 15L).foreach { id =>
      assert(!out(id).decode_ok && out(id).sig.isEmpty && out(id).err.nonEmpty,
        s"doc $id: ${out(id)}")
    }
    assert(out(15L).err.contains("oversized"), out(15L).toString)
    val dead = graft.incremental.Sinks.deadLetter(
      Multimodal.videoSignaturesChecked(spark.createDataset(rows)).toDF()
        .filter(!col("decode_ok")).select("doc_id", "err"),
      flag = -2, description = "undecodable media payload")
    assert(dead.collect().length == 4 && dead.collect().forall(_.getAs[Int]("flag") == -2))
  }

  test("q158 embedding drift equals an integer centroid replay on a planted-shift fixture") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_edrift").toFile
    dir.deleteOnExit()
    // label 0: the intake vector is shifted on dim 2 only (a planted
    // single-feature bug); label 1: intake sits inside the corpus
    // cloud. vec_id % 5 = 4 marks intake (the catalog convention).
    val rows = Seq(
      (0L, Array(0.10f, 0.20f), 0), (1L, Array(0.12f, 0.22f), 0),
      (4L, Array(0.11f, 0.31f), 0),
      (2L, Array(-0.30f, 0.40f), 1), (3L, Array(-0.32f, 0.44f), 1),
      (9L, Array(-0.31f, 0.42f), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/embeddings.parquet")
    val got = SparkEntry.queries("q158_embedding_drift")(spark, dir.getAbsolutePath)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // plain integer replay: quantize, truncating floor-mean, Σ delta²
    def qz(v: Float): Long = math.round(v.toDouble * 10000.0)
    def drift(label: Int): (Int, Long, Long, Long, Long) = {
      val corp = rows.filter(r => r._3 == label && r._1 % 5 != 4).map(_._2)
      val int = rows.filter(r => r._3 == label && r._1 % 5 == 4).map(_._2)
      val deltas = (0 until 2).map { d =>
        corp.map(v => qz(v(d))).sum / corp.length -
          int.map(v => qz(v(d))).sum / int.length
      }
      (label, corp.length.toLong, int.length.toLong,
        deltas.map(x => x * x).sum, deltas.map(math.abs).max)
    }
    val want = Seq(drift(0), drift(1))
    assert(got == want, s"drift mismatch:\n got=$got\nwant=$want")
    // non-vacuous: the planted dim-2 shift dominates label 0's report
    assert(got.head._5 >= 900L && got.head._5 <= 1100L,
      s"planted ~0.1 single-dim shift not visible: ${got.head}")
  }

  test("q163 layout report equals a plain-Scala replay of both packings") {
    val got = SparkEntry.queries("q163_semantic_pack_layout")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // exact replay from the engine's own Lloyd assignments + raw lengths
    val cids = Similarity.kmAssignments(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val nts = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).length.toLong)).toSeq
    val L = 2048L
    def replay(name: String, ordered: Seq[(Long, Long, Long)]): (String, Long, Long, Long) = {
      var cum = 0L
      val spans = ordered.map { case (_, nt, cid) =>
        val st = cum; cum += nt; (cid, st, cum)
      }
      val perSeqCid = spans.flatMap { case (cid, st, e) =>
        (st / L to (e - 1) / L).map { seq =>
          ((seq, cid), math.min(e, (seq + 1) * L) - math.max(st, seq * L))
        }
      }.groupBy(_._1).map { case (k, xs) => (k, xs.map(_._2).sum) }
      val perSeq = perSeqCid.groupBy(_._1._1).map { case (_, xs) =>
        (xs.size.toLong, xs.values.max, xs.values.sum)
      }.toSeq
      (name, perSeq.size.toLong,
        perSeq.map(_._1).sum * 1000 / perSeq.size,
        perSeq.map(_._2).sum * 1000000 / perSeq.map(_._3).sum)
    }
    val docs = nts.map { case (id, nt) => (id, nt, cids(id)) }
    val want = Seq(
      replay("arrival", docs.sortBy(_._1)),
      replay("semantic", docs.sortBy(d => (d._3, d._1))))
    assert(got == want, s"layout report mismatch:\n got=$got\nwant=$want")
    // the structural claims: layout permutes, never resizes; and the
    // semantic layout strictly buys locality on this corpus
    assert(got(0)._2 == got(1)._2, "layouts disagree on sequence count")
    assert(got(1)._4 > got(0)._4 && got(1)._3 < got(0)._3,
      s"semantic layout bought no locality: $got")
  }
}
