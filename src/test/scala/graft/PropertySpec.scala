package graft

import java.sql.Timestamp
import graft.incremental.{Intervals, SchemaReconcile}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generator properties for the algebraic pieces: interval
  * chunking partitions its range, the schema truth table partitions
  * column sets, and pivot/unpivot round-trip (the R1/R3 inverse pair).
  * Cases are drawn from seeded generators so runs are reproducible. */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  /** Draw `n` deterministic samples from `gen` and check each. */
  private def forAllN[A](gen: Gen[A], n: Int = 50)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    var drawn = 0
    var attempts = 0
    while (drawn < n && attempts < n * 20) {
      gen.apply(Gen.Parameters.default, seed) match {
        case Some(a) => f(a); drawn += 1
        case None =>
      }
      seed = seed.next
      attempts += 1
    }
    assert(drawn == n, s"generator too sparse: $drawn/$n")
  }

  private val tsGen: Gen[Timestamp] =
    Gen.choose(1577836800000L, 1893456000000L).map(new Timestamp(_)) // 2020..2030

  test("Intervals.chunks covers (start, end] exactly, in order, without overlap") {
    val gen = for {
      start <- tsGen
      span <- Gen.choose(1L, 3L * 86400L * 1000L)
      step <- Gen.choose(60L, 2L * 86400L)
    } yield (start, span, step)
    forAllN(gen) { case (start, spanMs, step) =>
      val end = new Timestamp(start.getTime + spanMs)
      val cs = Intervals.chunks(start, end, step, maxChunks = Int.MaxValue)
      assert(cs.head._1 == start && cs.last._2 == end)
      cs.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) => assert(e1 == s2) // contiguous, no gap/overlap
        case _ =>
      }
      cs.foreach { case (s, e) =>
        assert(e.getTime - s.getTime <= step * 1000L && s.before(e))
      }
    }
  }

  test("columnState: add/del partition the symmetric difference; ret iff del empty") {
    val cols = Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e", "f")).map(_.distinct)
    forAllN(Gen.zip(cols, cols)) { case (source, sink) =>
      val st = SchemaReconcile.columnState(source, sink)
      assert(st.add.toSet == (source.toSet -- sink.toSet))
      assert(st.del.toSet == (sink.toSet -- source.toSet))
      assert(st.ret == st.del.isEmpty)
      assert(st.add.toSet.intersect(st.del.toSet).isEmpty)
    }
  }

  test("prefix + positional filtering never loses a Jaccard >= 0.8 pair (q32's lemma)") {
    // Pure-Scala mirror of q32's candidate generation: rank each doc's
    // tokens by (global df, token), keep the first n − ⌈4n/5⌉ + 1, pair
    // docs sharing a prefix token, apply the positional bound
    // min(n1−i, n2−j)+1 ≥ ⌈4(n1+n2)/9⌉. The property: every pair with
    // true Jaccard ≥ 0.8 survives — the filters are pure pruning.
    def candidates(docs: Map[Long, Set[Long]]): Set[(Long, Long)] = {
      val df = docs.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
      val prefix = docs.map { case (id, toks) =>
        val n = toks.size
        val plen = n - ((4 * n + 4) / 5) + 1
        id -> toks.toSeq.sortBy(t => (df(t), t)).take(plen).zipWithIndex
          .map { case (t, i) => (t, i + 1) }
      }
      val matches = for {
        (a, pa) <- prefix.toSeq; (b, pb) <- prefix.toSeq if a < b
        (t1, i) <- pa; (t2, j) <- pb if t1 == t2
      } yield ((a, b), math.min(docs(a).size - i, docs(b).size - j) + 1)
      matches.groupBy(_._1).collect { case ((a, b), ms)
        if ms.map(_._2).max >= (4 * (docs(a).size + docs(b).size) + 8) / 9 => (a, b)
      }.toSet
    }
    val docGen: Gen[Map[Long, Set[Long]]] = for {
      nDocs <- Gen.choose(3, 12)
      base <- Gen.listOfN(nDocs, Gen.choose(5, 30).flatMap(sz =>
        Gen.listOfN(sz, Gen.choose(0L, 60L)).map(_.toSet).suchThat(_.size >= 5)))
      // plant a near-dup of doc 0: drop one token, add one
      drop <- Gen.oneOf(base.head.toSeq)
      add <- Gen.choose(100L, 110L)
    } yield (base.zipWithIndex.map { case (s, i) => i.toLong -> s } :+
      (nDocs.toLong -> (base.head - drop + add))).toMap
    forAllN(docGen, n = 40) { docs =>
      def jac(a: Set[Long], b: Set[Long]) =
        a.intersect(b).size.toDouble / a.union(b).size
      val truePairs = (for {
        a <- docs.keys; b <- docs.keys if a < b && jac(docs(a), docs(b)) >= 0.8
      } yield (a, b)).toSet
      val missed = truePairs -- candidates(docs)
      assert(missed.isEmpty, s"prefix filter lost true pairs: $missed")
    }
  }

  test("containment prefix never loses a C >= 0.9 pair, under ANY token order (q172/q179's lemma)") {
    // The bound the containment family rests on: if C(A→B) = |A∩B|/|A|
    // ≥ 0.9, then A and B share a token among A's first n1 − ⌈0.9·n1⌉
    // + 1 in ANY fixed total order of A's tokens — so the df-ranked
    // batch prefix (q172/q179) and the df-free stream prefix
    // (Streams.containScore) are BOTH pure pruning. The property tests
    // three orders per corpus: plain value, global-df rarest-first,
    // and an adversarial rarest-LAST order.
    def candidates(docs: Map[Long, Set[Long]],
                   orderOf: Long => Seq[Long]): Set[(Long, Long)] =
      (for {
        a <- docs.keys; b <- docs.keys if a != b
        n1 = docs(a).size if n1 >= 4
        plen = n1 - ((9 * n1 + 9) / 10) + 1
        if orderOf(a).take(plen).exists(docs(b).contains)
      } yield (a, b)).toSet
    val docGen: Gen[Map[Long, Set[Long]]] = for {
      nDocs <- Gen.choose(3, 10)
      base <- Gen.listOfN(nDocs, Gen.choose(5, 30).flatMap(sz =>
        Gen.listOfN(sz, Gen.choose(0L, 40L)).map(_.toSet).suchThat(_.size >= 5)))
      // plant a contained doc: a strict subset of doc 0
      keep <- Gen.choose(5, 10)
    } yield (base.zipWithIndex.map { case (s, i) => i.toLong -> s } :+
      (nDocs.toLong -> base.head.take(math.min(keep, base.head.size)))).toMap
    forAllN(docGen, n = 40) { docs =>
      val df = docs.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
      val orders: Seq[Long => Seq[Long]] = Seq(
        a => docs(a).toSeq.sorted,
        a => docs(a).toSeq.sortBy(t => (df(t), t)),
        a => docs(a).toSeq.sortBy(t => (-df(t), t)))
      val truePairs = (for {
        a <- docs.keys; b <- docs.keys
        if a != b && docs(a).size >= 4 &&
          docs(a).intersect(docs(b)).size * 10 >= docs(a).size * 9
      } yield (a, b)).toSet
      orders.zipWithIndex.foreach { case (ord, i) =>
        val missed = truePairs -- candidates(docs, ord)
        assert(missed.isEmpty, s"order #$i lost true containment pairs: $missed")
      }
    }
  }

  test("fitBox never upscales, always fits the box, preserves aspect within integer floor") {
    import graft.functions.Multimodal.fitBox
    val gen = for {
      w <- Gen.choose(1, 4096)
      h <- Gen.choose(1, 4096)
      mw <- Gen.choose(1, 256)
      mh <- Gen.choose(1, 256)
    } yield (w, h, mw, mh)
    forAllN(gen, n = 500) { case (w, h, mw, mh) =>
      val (ow, oh) = fitBox(w, h, mw, mh)
      assert(ow >= 1 && oh >= 1, s"degenerate output for ($w,$h)->($mw,$mh)")
      assert(ow <= w && oh <= h, s"upscaled ($w,$h)->($ow,$oh)")
      assert((ow <= mw && oh <= mh) || (ow, oh) == (w, h),
        s"($ow,$oh) escapes the ($mw,$mh) box")
      // aspect within one integer-floor step: |ow·h − oh·w| ≤ max(w, h)
      assert(math.abs(ow.toLong * h - oh.toLong * w) <= math.max(w, h),
        s"aspect drifted: ($w,$h) -> ($ow,$oh) in ($mw,$mh)")
      // idempotence: an already-fitted raster is a fixed point
      assert(fitBox(ow, oh, mw, mh) == ((ow, oh)), "fitBox not idempotent")
    }
  }

  test("components labels every node with its true connected-component minimum") {
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    val edgeGen = Gen.choose(2, 12).flatMap(m =>
      Gen.listOfN(m, Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L))))
      .map(_.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.distinct)
      .suchThat(_.nonEmpty)
    forAllN(edgeGen, n = 5) { edges => // Spark loop per sample — keep the draw count low
      val got = graft.queries.Dedup.components(edges.toDF("d1", "d2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFind(edges)
      // union-find roots are component minima by construction here
      // (max always points at min), so the maps must agree exactly
      assert(got == want, s"edges=$edges got=$got want=$want")
    }
  }

  test("components: symmetric star emission handles cross-partition chains exactly") {
    // Focused pin for the round-21 contractLocal(symmetric = true)
    // rewrite: the label loop's edges are now emitted WITH their (n, r)
    // mirrors inside the contraction pass instead of a downstream
    // stars ∪ reverse(stars) union. The mirror rows are what let a
    // label flow AGAINST star direction, so the shape that would break
    // first is a long chain whose edges are scattered across many
    // partitions (every partition contracts a different fragment, and
    // convergence needs labels to cross fragment boundaries both ways).
    // A wrong/missing mirror converges to wrong roots or not at all.
    val chain = (0L until 64L).sliding(2).map(s => (s(0), s(1))).toSeq
    val clique = for (a <- 100L to 104L; b <- (a + 1) to 104L) yield (a, b)
    val pair = Seq((200L, 201L))
    val edges = (chain ++ clique ++ pair).toDF("d1", "d2")
      .repartition(16) // scatter fragments: forces multi-partition stars
    val got = graft.queries.Dedup.components(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want =
      (0L until 64L).map(_ -> 0L).toMap ++
      (100L to 104L).map(_ -> 100L).toMap ++ Map(200L -> 200L, 201L -> 200L)
    assert(got == want, s"got=$got")
  }

  test("pivot then unpivot round-trips the long EAV relation (R1/R3 inverses)") {
    import org.apache.spark.sql.functions.{col, first}
    val attrs = Seq("p1", "p2", "p3")
    val rowsGen = Gen.listOfN(30,
      for {
        id <- Gen.choose(1, 8)
        attr <- Gen.oneOf(attrs)
        v <- Gen.choose(-1000, 1000)
      } yield (id, attr, v.toDouble))
      .map(_.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq) // unique (id, attr)
      .suchThat(_.nonEmpty)
    forAllN(rowsGen, n = 10) { rows =>
      val long = rows.toDF("id", "attr", "v")
      val wide = long.groupBy("id").pivot("attr", attrs).agg(first("v"))
      val back = wide.unpivot(Array(col("id")), attrs.map(col).toArray, "attr", "v")
        .filter(col("v").isNotNull)
      assert(back.exceptAll(long).isEmpty && long.exceptAll(back).isEmpty)
    }
  }

  test("native as-of join matches driver-side brute force on random feeds") {
    // random keys/timestamps with heavy collision rates: duplicate right
    // timestamps (tiebreak path), keys with no right rows (null path),
    // keys only on the right (drain path), empty sides
    val feedGen = for {
      nl <- Gen.choose(0, 40)
      nr <- Gen.choose(0, 40)
      ls <- Gen.listOfN(nl, for {
        k <- Gen.choose(1L, 6L); ts <- Gen.choose(0L, 30L)
      } yield (k, ts))
      rs <- Gen.listOfN(nr, for {
        k <- Gen.choose(1L, 8L); ts <- Gen.choose(0L, 30L); v <- Gen.choose(0, 1000)
      } yield (k, ts, v.toDouble))
    } yield (ls, rs)
    forAllN(feedGen, n = 15) { case (ls, rs) =>
      val left = ls.zipWithIndex.map { case ((k, ts), i) => (k, ts, i.toLong) }
        .toDF("k", "ts", "lid")
      val right = rs.zipWithIndex.map { case ((k, ts, v), i) => (k, ts, i.toLong, v) }
        .toDF("rk", "rts", "rid", "rv")
      val got = plans.AsofJoin(spark, left, right, "k", "rk", "ts", "rts", "rid")
        .collect()
        .map(r => r.getLong(2) -> (if (r.isNullAt(5)) -1L else r.getLong(5))).toMap
      val rSeq = rs.zipWithIndex.map { case ((k, ts, _), i) => (k, ts, i.toLong) }
      val expect = ls.zipWithIndex.map { case ((k, ts), i) =>
        val cands = rSeq.filter(r => r._1 == k && r._2 < ts)
        i.toLong -> (if (cands.isEmpty) -1L else cands.maxBy(r => (r._2, r._3))._3)
      }.toMap
      assert(got == expect, s"left=$ls right=$rs")
    }
  }

  test("unigram Viterbi: total coverage, round-trip, optimality vs brute force on random vocabularies") {
    import graft.functions.Unigram
    val wordGen = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val vocabGen = for {
      pieces <- Gen.listOf(Gen.choose(1, 4).flatMap(l =>
        Gen.listOfN(l, Gen.oneOf('a', 'b', 'c')).map(_.mkString)))
      scores <- Gen.listOfN(pieces.length, Gen.choose(-80, -1))
    } yield pieces.zip(scores.map(_ / 10.0)).toMap
    val gen = Gen.zip(wordGen, vocabGen)
    forAllN(gen, n = 120) { case (w, vocab) =>
      val unk = Unigram.unkScoreOf(vocab)
      val enc = Unigram.viterbi(w, vocab, unk)
      // total coverage + detokenize round-trip, any word, any vocab
      assert(enc.mkString == w, s"round-trip broke: $w / $vocab -> $enc")
      // every emitted piece is a vocab piece or an unk single char
      enc.foreach(p => assert(vocab.contains(p) || p.length == 1,
        s"non-piece emitted: $p"))
      // optimality: DP score equals the brute-force best over all
      // segmentations (words are short enough to enumerate)
      def score(seg: Seq[String]) =
        seg.map(p => vocab.getOrElse(p, if (p.length == 1) unk else Double.NegativeInfinity)).sum
      def segs(s: String): Seq[Seq[String]] =
        if (s.isEmpty) Seq(Seq.empty)
        else (1 to math.min(Unigram.MaxPieceLen, s.length)).flatMap { l =>
          val (h, t) = s.splitAt(l)
          if (vocab.contains(h) || h.length == 1) segs(t).map(h +: _) else Seq.empty
        }
      if (w.nonEmpty) {
        val best = segs(w).map(score).max
        assert(math.abs(score(enc) - best) < 1e-9,
          s"viterbi sub-optimal on $w: got ${score(enc)}, best $best ($vocab)")
      } else assert(enc.isEmpty)
    }
  }
}
