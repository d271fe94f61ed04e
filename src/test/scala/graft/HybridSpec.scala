package graft

import graft.queries.{Corpus, LexIndex, Similarity}

/** The served hybrid fusion (q135) and its takedown twin (q138): the
  * RRF integer arithmetic replayed in plain Scala from the two served
  * arms, the lexical arm's exactness (it must equal q129's), the
  * q86-style recall of the served fusion against the exact fusion (the
  * measured ADC gap the q135 header promises), and the end-to-end
  * takedown mask on both arms. */
class HybridSpec extends SparkTestBase {

  private val K0 = 60; private val ArmK = 10; private val TopK = 5

  /** Collected fused rows: (qid, rank, doc_id, rrf_ppb, lex_rank?, vec_rank?).
    * Memoized — several tests read the same fusion, and each engine run
    * rebuilds nothing but still pays job scheduling (suite-time watch). */
  private val fusedCache =
    scala.collection.mutable.Map.empty[String, Seq[(Int, Int, Long, Long, Option[Int], Option[Int])]]
  private def fused(name: String): Seq[(Int, Int, Long, Long, Option[Int], Option[Int])] =
    fusedCache.getOrElseUpdate(name,
      SparkEntry.queries(name)(spark, sfDir).collect().map { r =>
        (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getInt(4)),
          if (r.isNullAt(5)) None else Some(r.getInt(5)))
      }.toSeq)

  /** Plain-Scala RRF over two arm relations — the q129/q135 fusion
    * contract: integer ppb contributions 1e9 div (k0 + rank), doc_id
    * tiebreak, fused top-k. */
  private def replayFuse(lex: Map[Int, Seq[(Long, Int)]],
                         vec: Map[Int, Seq[(Long, Int)]],
                         k0: Int = K0): Seq[(Int, Int, Long, Long, Option[Int], Option[Int])] =
    Corpus.Bm25Queries.map(_._1).flatMap { qid =>
      val l = lex.getOrElse(qid, Nil).toMap
      val v = vec.getOrElse(qid, Nil).toMap
      (l.keySet ++ v.keySet).toSeq.map { doc =>
        val ppb = l.get(doc).map(r => 1000000000L / (k0 + r)).getOrElse(0L) +
          v.get(doc).map(r => 1000000000L / (k0 + r)).getOrElse(0L)
        (doc, ppb, l.get(doc), v.get(doc))
      }.sortBy { case (doc, ppb, _, _) => (-ppb, doc) }.take(TopK)
        .zipWithIndex.map { case ((doc, ppb, lr, vr), i) => (qid, i + 1, doc, ppb, lr, vr) }
    }

  /** The lexical arm cut from a collected BM25-scored relation: self
    * row dropped, (score desc, doc_id) order, depth ArmK. */
  private def lexArmOf(scored: Array[org.apache.spark.sql.Row]): Map[Int, Seq[(Long, Int)]] =
    scored.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (qid, rows) =>
        qid -> rows.filter(_._2 != qid.toLong)
          .sortBy { case (_, doc, sc) => (-sc, doc) }.take(ArmK)
          .zipWithIndex.map { case ((_, doc, _), i) => (doc, i + 1) }.toSeq
      }

  private def vecArmOf(ranks: Array[org.apache.spark.sql.Row]): Map[Int, Seq[(Long, Int)]] =
    ranks.map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).map { case (qid, rows) =>
        qid -> rows.map { case (_, doc, rk) => (doc, rk) }.toSeq
      }

  test("q135 equals a plain-Scala RRF replay of its two served arms") {
    val lex = lexArmOf(LexIndex.servedScored(spark,
      Seq(LexIndex.fullIndex(spark, sfDir)))
      .select("qid", "doc_id", "score").collect())
    val vec = vecArmOf(Similarity.adcRanks(spark, sfDir,
      Corpus.Bm25Queries.map(_._1), ArmK).collect())
    assert(fused("q135_served_hybrid") == replayFuse(lex, vec))
  }

  test("q135's lexical arm is exact: its lex_rank rows equal q129's") {
    // the vector arm is approximate BY DESIGN (ADC); the lexical arm is
    // proven bit-identical to fresh BM25 (q131's oracle), so every
    // (qid, doc) the two fusions share must carry the SAME lex_rank
    def lexRanks(name: String) = fused(name)
      .collect { case (qid, _, doc, _, Some(lr), _) => (qid, doc) -> lr }.toMap
    val exact = lexRanks("q129_hybrid_fusion")
    val served = lexRanks("q135_served_hybrid")
    val shared = exact.keySet.intersect(served.keySet)
    assert(shared.nonEmpty, "fusions share no lex-ranked rows — nothing compared")
    shared.foreach { k =>
      assert(exact(k) == served(k), s"lex_rank drifted at $k: ${exact(k)} vs ${served(k)}")
    }
  }

  test("served-fusion recall vs the exact fusion (q86-style) — the measured ADC gap") {
    val exact = fused("q129_hybrid_fusion").groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._3).toSet }
    val served = fused("q135_served_hybrid").groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._3).toSet }
    assert(exact.keySet == served.keySet)
    val recalls = exact.keys.toSeq.sorted.map { q =>
      val r = (exact(q) intersect served(q)).size.toDouble / TopK
      assert(r >= 0.0 && r <= 1.0); r
    }
    // both fusions emit full top-5 lists per query
    assert(exact.values.forall(_.size == TopK) && served.values.forall(_.size == TopK))
    // the deployed ranking stays useful: the measured gap on this
    // fixture is avg 0.56 (per-q 0.6/0.6/0.4/0.6/0.6) — the lexical arm
    // is exact, so every miss is a vector-arm ADC rank swap; the floor
    // guards against a collapse, not the honest approximation
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.5, f"served-fusion recall collapsed: avg=$avg%.2f per-q=$recalls")
    assert(recalls.forall(_ >= 0.2), s"a query lost nearly all exact picks: $recalls")
  }

  test("q141 k0 curve equals a plain-Scala sweep over the exact arms") {
    val lex = lexArmOf(LexIndex.servedScored(spark,
      Seq(LexIndex.fullIndex(spark, sfDir)))
      .select("qid", "doc_id", "score").collect()) // ≡ fresh BM25 (q131's proof)
    val vec = vecArmOf(Similarity.bruteRanks(spark, sfDir,
      Corpus.Bm25Queries.map(_._1), ArmK)
      .select("qid", "vec_id", "vrank").collect())
    val grid = Seq(10, 30, 60, 120)
    val byK0 = grid.map(k => k -> replayFuse(lex, vec, k)).toMap
    val base = byK0(K0).map(r => (r._1, r._3)).toSet
    val nRows = TopK * Corpus.Bm25Queries.size
    val expect = grid.map { k =>
      val rows = byK0(k)
      (k.toLong,
        1000000L * rows.count(r => base((r._1, r._3))) / nRows,
        1000000L * rows.count(_._6.isEmpty) / rows.size,
        1000000L * rows.count(r => r._5.nonEmpty && r._6.nonEmpty) / rows.size,
        1000000L * rows.count(_._5.isEmpty) / rows.size)
    }
    val got = SparkEntry.queries("q141_rrf_k0_curve")(spark, sfDir).collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == expect, s"curve mismatch:\n got=$got\n exp=$expect")
    assert(got.map(r => r._1 -> r._2).toMap.apply(K0.toLong) == 1000000L)
    // STRUCTURAL theorem the curve's composition column encodes: k0
    // only reorders docs the arms SHARE. On disjoint arms each doc's
    // one contribution 1e9/(k0+r) shifts identically, so zero overlap
    // FORCES perfect agreement at every k0 — which is what this fixture
    // exhibits (both arms never name the same (qid, doc)):
    got.foreach { r =>
      if (r._4 == 0L) assert(r._2 == 1000000L,
        s"k0=${r._1}: disjoint arms yet agreement ${r._2} — fusion arithmetic broken")
    }
    // and the knob IS live exactly on overlap mass — a hand-built
    // shared pair flips between grid points: X = (lex 1, vec 9) beats
    // Y = (lex 4, vec 5) at k0 = 10 (the rank-1 term dominates) and
    // loses from k0 = 30 on (flat contributions favor Y's better sum)
    val lexH = Map(1 -> Seq((100L, 1), (200L, 4)))
    val vecH = Map(1 -> Seq((100L, 9), (200L, 5)))
    def order(k0: Int) = replayFuse(lexH, vecH, k0).map(_._3)
    assert(order(10) == Seq(100L, 200L), s"k0=10 order: ${order(10)}")
    Seq(30, 60, 120).foreach { k =>
      assert(order(k) == Seq(200L, 100L), s"k0=$k order: ${order(k)}")
    }
  }

  test("q138 masks the SAME takedown list on both arms, end to end") {
    val rows = fused("q138_hybrid_takedown")
    assert(rows.nonEmpty)
    // no removed doc surfaces anywhere in the fused serving output
    assert(rows.forall(_._3 % 7 != 3), s"a tombstoned doc is still served: $rows")
    // and the result IS the fusion of the two tombstoned arms (replay)
    val lex = lexArmOf(LexIndex.servedScored(spark,
      Seq(LexIndex.fullIndex(spark, sfDir)),
      Seq(LexIndex.fullTombstone(spark, sfDir)))
      .select("qid", "doc_id", "score").collect())
    val vec = vecArmOf(Similarity.adcRanks(spark, sfDir,
      Corpus.Bm25Queries.map(_._1), ArmK,
      Seq(Similarity.fullPqTombstone(spark, sfDir))).collect())
    assert(rows == replayFuse(lex, vec))
    // the mask bites: q135 serves at least one doc q138 must not
    val before = fused("q135_served_hybrid")
    assert(before.exists(_._3 % 7 == 3),
      "fixture has no removed doc in the unmasked fusion — mask untested")
  }
}
