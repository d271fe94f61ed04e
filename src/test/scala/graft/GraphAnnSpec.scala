package graft

import graft.queries.Similarity

/** The graph-ANN contracts the DuckDB oracle proves only by value
  * equality: the structural invariants of the build and the greedy
  * search. (q184/q185 are fully oracle-checked — unlike production HNSW,
  * the order-free IVF-candidate construction makes the graph replayable
  * relationally — so this spec pins the SHAPE claims: bounded degree, no
  * self-edges, bounded frontiers, monotone beam improvement, non-vacuous
  * recall.)
  */
class GraphAnnSpec extends SparkTestBase {

  private val GraphM = Similarity.GraphM
  private val GraphEntries = Similarity.GraphEntries
  private val GraphBeam = Similarity.GraphBeam
  private val GraphK = Similarity.GraphK

  /** Exact cosine from the raw embeddings, replicating the quantized
    * integer pipeline (round(v·1e7) per coordinate). */
  private lazy val vecs: Map[Long, Array[Long]] =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(v => math.round(v.toDouble * 1e7)).toArray)
      .toMap

  private def cos(a: Long, b: Long): Double = {
    val (x, y) = (vecs(a), vecs(b))
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    for (i <- x.indices) {
      dot += x(i).toDouble * y(i); nx += x(i).toDouble * x(i); ny += y(i).toDouble * y(i)
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  test("build: out-degree <= M, no self-edges, every src has a neighbor list") {
    val adj = Similarity.graphAdj(spark, sfDir).collect()
    try {
      assert(adj.nonEmpty, "empty adjacency")
      assert(!adj.exists(r => r.getLong(0) == r.getLong(1)), "self edge")
      val deg = adj.groupBy(_.getLong(0)).view.mapValues(_.length)
      assert(deg.values.max <= GraphM, s"out-degree ${deg.values.max} > $GraphM")
    } finally Caches.release()
  }

  test("search: bounded frontiers, monotone best-cos per round, bounded serve") {
    val fronts = Similarity.graphFrontiers(spark, sfDir)
    try {
      val f0 = fronts.head
      assert(f0.groupBy(_._1).values.map(_.size).max <= GraphEntries)
      fronts.tail.foreach { f =>
        assert(f.groupBy(_._1).values.map(_.size).max <= GraphBeam)
      }
      // greedy beam with the frontier riding along: the best candidate
      // per query can never regress between rounds
      def best(rows: Seq[(Long, Long)]): Map[Long, Double] =
        rows.groupBy(_._1).view
          .mapValues(_.map { case (q, v) => cos(q, v) }.max).toMap
      fronts.sliding(2).foreach { case Seq(a, b) =>
        val (ba, bb) = (best(a), best(b))
        ba.keys.foreach { q =>
          assert(bb(q) >= ba(q) - 1e-12,
            s"query $q best-cos regressed: ${ba(q)} -> ${bb(q)}")
        }
      case _ => ()
      }
    } finally Caches.release()
  }

  test("q186 sweep: production row equals q185's total hits; recall non-decreasing in budget") {
    val sweep = SparkEntry.queries("q186_graph_tuning")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val q185hits = SparkEntry.queries("q185_graph_recall")(spark, sfDir).collect()
      .map(_.getLong(1)).sum
    Caches.release()
    assert(sweep.length == 3)
    val prodRow = sweep.find(x => (x._1, x._2, x._3) ==
      ((Similarity.GraphEntries, Similarity.GraphBeam, Similarity.GraphRounds))).get
    assert(prodRow._4 == q185hits,
      s"sweep's production row (${prodRow._4}) != q185's total hits ($q185hits) — the arms drifted")
    // Greedy beam search carries no monotonicity guarantee — a larger
    // budget can route a query into a different local neighborhood — so
    // a 1-hit dip is tolerated (fixture noise), while a real regression
    // (a config losing ≥ 2 hits to a SMALLER budget) still fails.
    val byBudget = sweep.sortBy(x => (x._1, x._2, x._3)).map(_._4)
    assert(byBudget.zip(byBudget.tail).forall { case (a, b) => b >= a - 1 },
      s"recall collapsed under a larger search budget: ${byBudget.mkString(",")}")
  }

  test("batched relational walk ≡ driver walk, production and off-production configs") {
    // The Q-gate (graphServedFrontier) is a physical-plan decision only:
    // both walks must produce the SAME final frontier, per query, at any
    // config. Pinned at the production config and one off-production
    // config so a drift in either arm's arithmetic or tie-breaks fails.
    for ((e, b, r) <- Seq(
        (Similarity.GraphEntries, Similarity.GraphBeam, Similarity.GraphRounds),
        (4, 8, 3))) {
      val driver = Similarity.graphFrontiers(spark, sfDir, e, b, r).last.toSet
      val batched = Similarity.graphFrontiersBatched(spark, sfDir, 8L, e, b, r)
        .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
      Caches.release()
      assert(batched == driver,
        s"batched walk diverged at (e=$e,b=$b,r=$r): " +
          s"only-batched=${(batched -- driver).take(5)} only-driver=${(driver -- batched).take(5)}")
    }
  }

  test("density curve: production row equals q185's hits; recall climbs with density") {
    val curve = SparkEntry.queries("q187_graph_density")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val q185hits = SparkEntry.queries("q185_graph_recall")(spark, sfDir).collect()
      .map(_.getLong(1)).sum
    Caches.release()
    assert(curve.length == 3)
    val prod = curve.find(x => (x._1, x._2) ==
      ((Similarity.GraphBuildProbe, Similarity.GraphPerCell))).get
    assert(prod._4 == q185hits,
      s"density curve's production row (${prod._4}) != q185's total hits ($q185hits)")
    // production is now the DENSEST arm: a denser graph only adds
    // routes, so a sparser arm beating a denser one by ≥ 2 hits is a
    // build bug (a 1-hit greedy dip is fixture noise, tolerated)
    val byM = curve.sortBy(_._3).map(_._4)
    assert(byM.zip(byM.tail).forall { case (sparse, dense) => dense >= sparse - 1 },
      s"recall fell with density: ${curve.sortBy(_._3).mkString(",")}")
  }

  test("recall row: hits bounded by k, recall in [0,1], search beats nothing") {
    val rows = SparkEntry.queries("q185_graph_recall")(spark, sfDir).collect()
    try {
      assert(rows.length == 8)
      rows.foreach { r =>
        val hits = r.getLong(1)
        assert(hits >= 0 && hits <= GraphK)
        assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
      }
      assert(rows.map(_.getLong(1)).sum >= 20,
        s"graph recall collapsed: ${rows.map(_.getLong(1)).sum}/24 hits " +
          "(stratified-edge navigability regressed — see the q184 build comment)")
      // per-query FLOOR, not just the average: a fixture regen must not
      // hide one query's recall collapse inside a passing aggregate —
      // every query keeps ≥ 2 of its 3 exact neighbors at the registered
      // config (the sf1 twin of this floor is GraphRecallProbe's
      // min_hits row in BASELINE.md)
      val floor = rows.map(_.getLong(1)).min
      assert(floor >= 2,
        s"a query's recall collapsed to $floor/3 hits at the registered config: " +
          rows.map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(","))
    } finally Caches.release()
  }
}
