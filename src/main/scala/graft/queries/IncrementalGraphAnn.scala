package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Artifacts, QueryModule}

/** q188/q189 — the INCREMENTAL GRAPH-ANN serving family (the q84/q87
  * move on the q184 graph index — the catalog's eighth persisted
  * serving family). A 100 TB vector store does not rebuild its
  * navigable graph when a day's embeddings arrive: the COARSE LAYER IS
  * FROZEN at build time (exactly q87's frozen-codebook contract — the
  * pivots are the index's trained state), a batch computes its own
  * out-edges against the frozen cells by the SAME cell-stratified build
  * rule the base graph used, and the new edges UNION into the serve —
  * no base vector is re-read, no base edge recomputed (reference
  * anchor: the watermark-driven incremental contract of
  * /root/reference/nikon_ETL.py:425-499 — only new slices touch
  * persisted state).
  *
  * Artifact layout (fingerprinted, marker-last, q78 publication), one
  * generation per ingest:
  *  - `pivots/`  — (cell, pa, pn2): the FROZEN coarse layer — base
  *    vectors on the q48 stride rule. Never grows on ingest.
  *  - `vectors/` — (vec_id, qa, n2): every served vector's quantized
  *    array + squared norm (the walk's scoring relation).
  *  - `members/` — (vec_id, cell): assignment to the frozen cells
  *    (crank = 1 against `pivots/`) — the candidate pool the NEXT
  *    batch's edges draw from.
  *  - `adj/`     — (src, dst): the navigable graph.
  *
  * INGEST: the staged batch (embeddings with vec_id % 5 = 4; base is
  * the complement — the family's fixture split) is assigned and probed
  * against the FROZEN pivots; its out-edges are the per-(node, probed
  * cell) top-[[Similarity.GraphPerCell]] co-members among base ∪ batch
  * members of those cells — the q184 build rule verbatim, pointed at
  * the artifact's member relation instead of a corpus rescan. Each
  * batch edge also unions in REVERSED (the back-link every
  * incremental graph-ANN index needs: batch out-edges alone would
  * leave new content unreachable from base entry points — the walk
  * could never route INTO a batch node). Reverse rows are ADDITIVE
  * adjacency state: no base row is rewritten, which is exactly what
  * makes takedown subtractive (below).
  *
  * SERVE: the q184 walk (entries from the frozen pivots, greedy beam,
  * GraphRounds rounds, exact integer cosine, ties (cos desc, vec_id))
  * over the ARTIFACT relations only — Similarity.walkTrace, the same
  * driver-walk core the q184 serve uses, reading `vectors/` and
  * `adj/`. The query workload arrives as a STAGED file (quantized at
  * stage time), so the serving plan never scans the embeddings table
  * (PlanSpec no-rescan). The DuckDB oracle replays build + ingest +
  * walk from the raw embeddings end to end — a hash match proves the
  * artifact algebra serves exactly what a from-scratch frozen-pivot
  * computation would.
  *
  * TAKEDOWN (q189): edges are per-vector rows, so removal is EXACTLY
  * subtractive (the q157 positional contract): tombstone the priced
  * ids; the serve drops adjacency rows with a tombstoned endpoint,
  * tombstoned vectors from scoring, and tombstoned cells from the
  * entry frontier. No rewrite, no re-admission path — and the removed
  * vector can neither be SERVED nor RELAY a walk (dropping its
  * through-edges is the conservative compliance reading: removed
  * content stops influencing results entirely).
  */
object IncrementalGraphAnn extends QueryModule {
  import Similarity.{GraphBeam, GraphBuildProbe, GraphEntries, GraphK,
    GraphPerCell, GraphRounds, NumQueries, PivotPhase, PivotStride}

  /** Data fingerprint + the BUILD CONFIG: a graph artifact is only
    * reusable by the config that built it — a registered-density change
    * must repath (and so rebuild), never serve a stale sparser graph
    * against a denser oracle replay. Walk knobs are serve-time, but the
    * entry budget shapes the staged-query contract too, so the whole
    * operating point keys the path. */
  private def fp(s: SparkSession, dir: String): String =
    s"${Similarity.pqDataFingerprint(s, dir)}:M${Similarity.GraphM}" +
      s"P${GraphBuildProbe}E${GraphEntries}B${GraphBeam}R$GraphRounds"

  private[graft] def indexPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/gann-${Artifacts.key(s"gann#${fp(s, dir)}")}"
  private[graft] def genPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/gann-gen1-${Artifacts.key(s"ganngen1#${fp(s, dir)}")}"
  private[graft] def eraPath(s: SparkSession, dir: String, tag: String): String =
    s"${Artifacts.root}/gann-era$tag-${Artifacts.key(s"gannera$tag#${fp(s, dir)}")}"
  private[graft] def compPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/gann-comp-${Artifacts.key(s"ganncomp#${fp(s, dir)}")}"
  private[graft] def batchPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/gann-batch-${Artifacts.key(s"gannbatch#${fp(s, dir)}")}"
  private[graft] def queryPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/gann-q-${Artifacts.key(s"gannq#${fp(s, dir)}")}"
  private[graft] def tombBase(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/gann-tomb-${Artifacts.key(s"ganntomb#${fp(s, dir)}")}"

  /** All vectors, rolled up: (vec_id, qa, n2) — the q184 quantization. */
  private def allVecs(s: SparkSession, dir: String): DataFrame =
    Similarity.corpusVecs(s, dir).select("vec_id", "qa", "n2")

  /** Affinity of `vecs` against the FROZEN pivot relation: (vec_id,
    * cell, crank) with the shared (cos desc, cell) tie-break — the
    * exact ranked_cells arithmetic the oracle replays. */
  private def affinityTo(vecs: DataFrame, pivots: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(pivots))
      .withColumn("dot", expr("graft_dot(qa, pa)"))
      .withColumn("cos", Similarity.cosine(col("dot"), col("n2"), col("pn2")))
      .withColumn("crank", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cos").desc, col("cell"))))
      .select("vec_id", "cell", "crank")

  /** Cell-stratified out-edges for `nodes` (vec_id, qa, n2, + their
    * affinity rows) against candidate `pool` members: per-(node, probed
    * cell) top-perCell by exact cosine — the q184 build rule. */
  private def edgesOf(nodes: DataFrame, nodeAff: DataFrame,
                      pool: DataFrame, scoreVecs: DataFrame): DataFrame = {
    val probes = nodeAff.filter(col("crank") <= GraphBuildProbe).select("vec_id", "cell")
    val cand = probes.join(pool, "cell")
      .filter(col("vec_id") =!= col("nbr"))
      .select("vec_id", "cell", "nbr")
    cand
      .join(nodes.select(col("vec_id"), col("qa").as("qa1"), col("n2").as("n21")), "vec_id")
      .join(scoreVecs.select(col("vec_id").as("nbr"), col("qa").as("qa2"), col("n2").as("n22")), "nbr")
      .withColumn("dot", expr("graft_dot(qa1, qa2)"))
      .withColumn("cos", Similarity.cosine(col("dot"), col("n21"), col("n22")))
      .withColumn("nrank", row_number().over(
        Window.partitionBy("vec_id", "cell").orderBy(col("cos").desc, col("nbr"))))
      .filter(col("nrank") <= GraphPerCell)
      .select(col("vec_id").as("src"), col("nbr").as("dst"))
  }

  /** Offline: the base generation — frozen pivots, base vectors/members,
    * and the base graph (probes × base members, the q184 rule). */
  private[graft] def buildIndex(s: SparkSession, dir: String): String =
    buildGenIndex(s, dir, Intake.corpus(col("vec_id")), indexPath(s, dir))

  /** One generation built over the vectors selected by `pred` — the
    * era-granular build q190's retention window composes; its pivots
    * are ITS trained coarse layer (each era is a self-contained index,
    * the sharded-ANN shape — cross-era edges never exist, so a window
    * serve is scatter-gather over era walks, not a union walk). */
  private[graft] def buildGenIndex(s: SparkSession, dir: String,
                                   pred: org.apache.spark.sql.Column,
                                   outPath: String): String =
    Artifacts.publish(s, outPath) { tmp =>
      val base = allVecs(s, dir).filter(pred)
      base.cache()
      val pivots = base.filter(col("vec_id") % PivotStride === PivotPhase)
        .select(col("vec_id").as("cell"), col("qa").as("pa"), col("n2").as("pn2"))
      pivots.write.mode("overwrite").parquet(s"$tmp/pivots")
      base.write.mode("overwrite").parquet(s"$tmp/vectors")
      val aff = affinityTo(base, pivots).cache()
      val members = aff.filter(col("crank") === 1).select("vec_id", "cell")
      members.write.mode("overwrite").parquet(s"$tmp/members")
      edgesOf(base, aff, members.select(col("vec_id").as("nbr"), col("cell")), base)
        .write.mode("overwrite").parquet(s"$tmp/adj")
      aff.unpersist(); base.unpersist()
    }

  /** Stage the day's batch (quantized at stage time, like the shard
    * docs of the text families) and the query workload. */
  private[graft] def stageBatch(s: SparkSession, dir: String): String =
    Artifacts.publish(s, batchPath(s, dir)) { tmp =>
      allVecs(s, dir).filter(Intake.arrivals(col("vec_id")))
        .write.mode("overwrite").parquet(s"$tmp/vecs")
    }
  private[graft] def stageQueries(s: SparkSession, dir: String): String =
    Artifacts.publish(s, queryPath(s, dir)) { tmp =>
      allVecs(s, dir).filter(col("vec_id") < NumQueries)
        .write.mode("overwrite").parquet(s"$tmp/vecs")
    }

  /** Fold the staged batch into a new generation: batch assigned and
    * probed against the FROZEN pivots; its out-edges drawn from base ∪
    * batch members of the probed cells; reversed copies union in (the
    * back-links that make the new content reachable). Vectors/members
    * union; pivots copy FROZEN. */
  private[graft] def ingest(s: SparkSession, idxPath: String,
                            bPath: String, outPath: String): String =
    Artifacts.publish(s, outPath) { tmp =>
      val pivots = s.read.parquet(s"$idxPath/pivots")
      val baseVecs = s.read.parquet(s"$idxPath/vectors")
      val baseMembers = s.read.parquet(s"$idxPath/members")
      val batch = s.read.parquet(s"$bPath/vecs").cache()
      val bAff = affinityTo(batch, pivots).cache()
      val bMembers = bAff.filter(col("crank") === 1).select("vec_id", "cell")
      val vectors = baseVecs.unionByName(batch)
      val members = baseMembers.unionByName(bMembers)
      val bEdges = edgesOf(batch, bAff,
        members.select(col("vec_id").as("nbr"), col("cell")), vectors).cache()
      s.read.parquet(s"$idxPath/adj")
        .unionByName(bEdges)
        .unionByName(bEdges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .write.mode("overwrite").parquet(s"$tmp/adj")
      vectors.write.mode("overwrite").parquet(s"$tmp/vectors")
      members.write.mode("overwrite").parquet(s"$tmp/members")
      pivots.write.mode("overwrite").parquet(s"$tmp/pivots")
      bEdges.unpersist(); bAff.unpersist(); batch.unpersist()
    }

  /** Anti-join `df` against the tombstone on each of `cols`, then
    * RE-SELECT the original column order: a USING join moves its key
    * first, and the driver walk reads rows positionally. */
  private def dropTomb(df: DataFrame, tomb: Option[DataFrame],
                       cols: Seq[String]): DataFrame =
    tomb.fold(df)(t => cols.foldLeft(df)((d, c) =>
      d.join(broadcast(t.select(col("doc_id").as(c))), Seq(c), "left_anti"))
      .select(df.columns.map(col).toIndexedSeq: _*))

  /** One generation's final walk frontier (qid, vec_id) under optional
    * tombstones, reading the ARTIFACT and staged queries only — q184's
    * entry/beam/round/tie arithmetic verbatim, through whichever
    * physical walk `batched` selects: the driver walk
    * (Similarity.walkTrace — measured faster below the
    * GraphDriverWalkMaxQ crossover) or the batched relational rounds
    * (Similarity.walkBatchedCore — the bulk-workload arm; bit-identical
    * frontiers either way, IncrementalGraphSpec). */
  private def eraFrontier(s: SparkSession, idxPath: String, qvecs: DataFrame,
                          tomb: Option[DataFrame], batched: Boolean): DataFrame = {
    import s.implicits._
    val vectors = dropTomb(s.read.parquet(s"$idxPath/vectors"), tomb, Seq("vec_id"))
    val adj = dropTomb(s.read.parquet(s"$idxPath/adj"), tomb, Seq("src", "dst"))
    val pivots = s.read.parquet(s"$idxPath/pivots")
    // entry frontier: crank over ALL frozen cells (self included — the
    // oracle's ranked_cells), THEN the self/tombstone exclusions
    val f0rows = qvecs
      .crossJoin(broadcast(pivots))
      .withColumn("dot", expr("graft_dot(qq, pa)"))
      .withColumn("cos", Similarity.cosine(col("dot"), col("n2q"), col("pn2")))
      .withColumn("crank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("cell"))))
      .filter(col("crank") <= GraphEntries && col("qid") =!= col("cell"))
    val f0 = dropTomb(f0rows.select(col("qid"), col("cell"), col("crank")),
      tomb, Seq("cell")).select(col("qid"), col("cell").as("vec_id"))
    if (batched)
      Similarity.walkBatchedCore(vectors, adj, qvecs, f0, GraphBeam, GraphRounds)
    else {
      val f0m = f0.collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq }
      val qv = qvecs.collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Long](1).toArray, r.getLong(2)))).toMap
      Similarity.walkTrace(vectors, adj, qv, f0m, GraphBeam, GraphRounds).last
        .toDF("qid", "vec_id")
    }
  }

  /** Scatter-gather serve over a WINDOW of generations: each live era's
    * graph is walked independently (cross-era edges never exist — each
    * era froze its own coarse layer, the sharded-ANN shape) and the
    * final exact-cosine ranking merges the frontiers globally. With one
    * era this is exactly the single-index serve. Returns the UNROUNDED
    * scored rows (qid, vec_id, cos, rank ≤ GraphK) so q190's audit can
    * compare cosines before display rounding. */
  private def windowScored(s: SparkSession, idxPaths: Seq[String], qPath: String,
                           tombPaths: Seq[String] = Nil,
                           batched: Option[Boolean] = None): DataFrame = {
    val tomb = Artifacts.tombstoned(s, tombPaths)
    val qvecs = s.read.parquet(s"$qPath/vecs")
      .select(col("vec_id").as("qid"), col("qa").as("qq"), col("n2").as("n2q"))
    // the measured Q-gate (Similarity.GraphDriverWalkMaxQ): catalog-sized
    // workloads walk on the driver, bulk workloads through the batched
    // relational rounds — one bounded count on the staged query file
    val useBatched = batched.getOrElse(
      qvecs.count() > Similarity.GraphDriverWalkMaxQ)
    val fronts = idxPaths.map(p => eraFrontier(s, p, qvecs, tomb, useBatched))
      .reduce(_ unionByName _).distinct()
    val vectors = idxPaths.map(p =>
        dropTomb(s.read.parquet(s"$p/vectors"), tomb, Seq("vec_id")))
      .reduce(_ unionByName _).dropDuplicates("vec_id")
    fronts
      .join(vectors, "vec_id")
      .join(broadcast(qvecs), "qid")
      .withColumn("dot", expr("graft_dot(qq, qa)"))
      .withColumn("cos", Similarity.cosine(col("dot"), col("n2q"), col("n2")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= GraphK)
  }

  /** The walk serve over one generation, optionally under tombstones:
    * (qid, vec_id, cosine, rank ≤ GraphK). */
  private[graft] def serve(s: SparkSession, idxPath: String, qPath: String,
                           tombPaths: Seq[String] = Nil): DataFrame =
    windowServe(s, Seq(idxPath), qPath, tombPaths)

  /** [[windowScored]] in display shape. `batched` forces a walk arm
    * (tests); None applies the measured Q-gate. */
  private[graft] def windowServe(s: SparkSession, idxPaths: Seq[String], qPath: String,
                                 tombPaths: Seq[String] = Nil,
                                 batched: Option[Boolean] = None): DataFrame =
    windowScored(s, idxPaths, qPath, tombPaths, batched)
      .select(col("qid"), col("vec_id"), round(col("cos"), 6).as("cosine"), col("rank"))
      .orderBy("qid", "rank")

  /** Publish the takedown tombstone under `outBase`: the request
    * priced against the generation's own vectors roster, keyed
    * `doc_id` as [[dropTomb]] reads it ([[Artifacts.tombstone]]). */
  private[graft] def takedown(s: SparkSession, ids: DataFrame,
                              idxPath: String, outBase: String): String =
    Artifacts.tombstone(s,
      s.read.parquet(s"$idxPath/vectors").select(col("vec_id").as("doc_id")), ids, outBase)

  /** The ingested (serving) generation — build, stage, ingest; each
    * step marker-gated, so repeat calls only read. Shared by q188/q189
    * and the q140 ledger row. */
  private[graft] def servingIndex(s: SparkSession, dir: String): String = {
    val idx = buildIndex(s, dir)
    val b = stageBatch(s, dir)
    ingest(s, idx, b, genPath(s, dir))
  }

  private def q188(s: SparkSession, dir: String): DataFrame = {
    val gen = servingIndex(s, dir)
    serve(s, gen, stageQueries(s, dir))
  }

  private def q189(s: SparkSession, dir: String): DataFrame = {
    val gen = servingIndex(s, dir)
    val t = takedown(s,
      s.read.parquet(s"$gen/vectors").select(col("vec_id").as("doc_id"))
        .filter(Intake.requested(col("doc_id"))),
      gen, tombBase(s, dir))
    serve(s, gen, stageQueries(s, dir), Seq(t))
  }

  // ---------------------------------------------------------------------
  // q190 — GRAPH-ANN RETENTION-WINDOW SERVE (q162/q183's TTL move on the
  // eighth family): per-era generations become the expiry policy. Each
  // era is a SELF-CONTAINED index (its own frozen coarse layer, its own
  // graph — cross-era edges never exist), so the window serve is
  // scatter-gather: walk each LIVE era, merge frontiers by the exact
  // global ranking — exactly how sharded ANN serving retires a shard:
  // drop it from the scatter list, no state rewritten. Fixture eras:
  // corpus parity split (era 0 = even base ids = RETIRED, era 1 = odd =
  // live). The audit bit compliance/quality review wants rides along:
  // `retired_better` — TRUE when the retired era still held a strictly
  // better neighbor than this served row (the recall cost of the expiry,
  // priced per row from era-0's ARTIFACT vectors, never the raw table).
  private def q190(s: SparkSession, dir: String): DataFrame = {
    val id = col("vec_id")
    buildGenIndex(s, dir, Intake.corpus(id) && Intake.era(id, 0), eraPath(s, dir, "0"))
    val g1 = buildGenIndex(s, dir, Intake.corpus(id) && Intake.era(id, 1), eraPath(s, dir, "1"))
    val qP = stageQueries(s, dir)
    val served = windowScored(s, Seq(g1), qP) // era 0 retired
    val qvecs = s.read.parquet(s"$qP/vecs")
      .select(col("vec_id").as("qid"), col("qa").as("qq"), col("n2").as("n2q"))
    val e0best = s.read.parquet(s"${eraPath(s, dir, "0")}/vectors")
      .crossJoin(broadcast(qvecs))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("dot", expr("graft_dot(qq, qa)"))
      .withColumn("c0", Similarity.cosine(col("dot"), col("n2q"), col("n2")))
      .groupBy("qid").agg(max(col("c0")).as("cos0"))
    served.join(e0best, Seq("qid"), "left")
      .withColumn("retired_better",
        coalesce(col("cos") < col("cos0"), lit(false)))
      .select(col("qid"), col("vec_id"), round(col("cos"), 6).as("cosine"),
        col("rank"), col("retired_better"))
      .orderBy("qid", "rank")
  }

  // ---------------------------------------------------------------------
  // q191 — GRAPH-ANN COMPACTION (q134/q137's move on the eighth family):
  // fold the tombstone generations INTO the artifact — vectors, members,
  // adjacency endpoints, and pivot cells all physically dropped — so the
  // serve stops paying the per-query anti-join mask and later intakes
  // assign against the surviving cells only (members whose cell was
  // retired are REASSIGNED to their best surviving cell, crank = 1
  // against the compacted coarse layer, so every surviving vector stays
  // in the candidate pool of future ingests). The serving CONTRACT here
  // is rank-AFTER-drop: a compacted index ranks its entry frontier over
  // the SURVIVING coarse layer — physical removal means the retired
  // pivot vectors are gone (keeping them around to replay the masked
  // serve's rank-then-drop frontier would retain removed content, the
  // opposite of what compaction is for), and the serve recovers the
  // full GraphEntries budget the masked serve loses to dropped entry
  // slots. The masked f0 is a SUBSET of the compacted f0 by
  // construction (a surviving cell's crank only improves when the pool
  // shrinks — IncrementalGraphSpec pins this), so q191 carries its OWN
  // oracle that builds f0 from surviving pivots; it is NOT q189's
  // replay, and the two serves may legitimately differ at the
  // entry-frontier margin.
  private[graft] def compact(s: SparkSession, idxPath: String,
                             tombPaths: Seq[String], outPath: String): String =
    Artifacts.publish(s, outPath) { tmp =>
      val tomb = Artifacts.tombstoned(s, tombPaths)
      val pivots = s.read.parquet(s"$idxPath/pivots")
      val survPiv = dropTomb(pivots, tomb, Seq("cell"))
      survPiv.write.mode("overwrite").parquet(s"$tmp/pivots")
      val survVecs = dropTomb(s.read.parquet(s"$idxPath/vectors"), tomb, Seq("vec_id"))
      survVecs.write.mode("overwrite").parquet(s"$tmp/vectors")
      dropTomb(s.read.parquet(s"$idxPath/adj"), tomb, Seq("src", "dst"))
        .write.mode("overwrite").parquet(s"$tmp/adj")
      val mKeep = dropTomb(s.read.parquet(s"$idxPath/members"), tomb, Seq("vec_id"))
      val retiredCells = tomb.map(t => pivots
        .join(broadcast(t.select(col("doc_id").as("cell"))), Seq("cell"), "left_semi")
        .select("cell"))
      val members = retiredCells.fold(mKeep) { rc =>
        val keep = mKeep.join(broadcast(rc), Seq("cell"), "left_anti")
          .select("vec_id", "cell")
        val orphanVecs = survVecs.join(
          mKeep.join(broadcast(rc), Seq("cell"), "left_semi").select("vec_id"),
          Seq("vec_id"), "left_semi")
        // a tombstone that retires EVERY pivot leaves no coarse layer to
        // absorb orphans — affinityTo against an empty pivot relation
        // would silently drop their membership, violating the
        // full-candidate-pool contract; fail loudly instead (the coarse
        // layer is ~sqrt(N) rows, so the emptiness probe is cheap, and
        // publish() is marker-gated so the served path never re-pays it)
        require(!survPiv.isEmpty,
          "compact(): the tombstone retires the entire coarse layer — " +
            "surviving vectors would lose membership; rebuild instead")
        keep.unionByName(
          affinityTo(orphanVecs, survPiv).filter(col("crank") === 1)
            .select("vec_id", "cell"))
      }
      members.select("vec_id", "cell").write.mode("overwrite").parquet(s"$tmp/members")
    }

  private def q191(s: SparkSession, dir: String): DataFrame = {
    val gen = servingIndex(s, dir)
    val t = takedown(s,
      s.read.parquet(s"$gen/vectors").select(col("vec_id").as("doc_id"))
        .filter(Intake.requested(col("doc_id"))),
      gen, tombBase(s, dir))
    val comp = compact(s, gen, Seq(t), compPath(s, dir))
    serve(s, comp, stageQueries(s, dir))
  }

  /** Oracle CTE chain for the ingested graph state from RAW embeddings
    * (never the artifact — the q84 convention): frozen pivots, base
    * graph, batch edges against the frozen cells, reversed back-links,
    * the UNION-dedup'd serving adjacency `iadj`, plus `vecs` and
    * `ranked_cells` in the names [[Similarity.graphWalkSqlCtes]]
    * expects. Shared by q188/q189/q140. */
  private[graft] def graphStateSqlCtes: String =
    s"""vecs AS (
      |  SELECT vec_id, list(q ORDER BY pos) AS qa, CAST(SUM(q * q) AS BIGINT) AS n2
      |  FROM quant GROUP BY vec_id),
      |pivots AS (
      |  SELECT vec_id AS cell, qa AS pa, n2 AS pn2 FROM vecs
      |  WHERE vec_id % 5 <> 4 AND vec_id % $PivotStride = $PivotPhase),
      |affinity AS (
      |  SELECT v.vec_id, p.cell,
      |         CAST(list_sum([v.qa[i] * p.pa[i] for i in range(1, len(v.qa) + 1)]) AS DOUBLE)
      |           / (SQRT(CAST(v.n2 AS DOUBLE)) * SQRT(CAST(p.pn2 AS DOUBLE))) AS cos
      |  FROM vecs v CROSS JOIN pivots p),
      |ranked_cells AS (
      |  SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS crank
      |  FROM affinity),
      |bprobe AS (SELECT vec_id, cell FROM ranked_cells WHERE vec_id % 5 <> 4 AND crank <= $GraphBuildProbe),
      |bmem AS (SELECT vec_id AS nbr, cell FROM ranked_cells WHERE vec_id % 5 <> 4 AND crank = 1),
      |bcand AS (
      |  SELECT p.vec_id, p.cell, m.nbr
      |  FROM bprobe p JOIN bmem m ON p.cell = m.cell AND p.vec_id <> m.nbr),
      |badjs AS (
      |  SELECT c.vec_id, c.cell, c.nbr,
      |         ${Similarity.graphCosSql("x", "y")} AS cos
      |  FROM bcand c JOIN vecs x ON c.vec_id = x.vec_id JOIN vecs y ON c.nbr = y.vec_id),
      |badj AS (
      |  SELECT vec_id AS src, nbr AS dst FROM (
      |    SELECT vec_id, nbr, ROW_NUMBER() OVER (PARTITION BY vec_id, cell ORDER BY cos DESC, nbr) AS nrank
      |    FROM badjs) WHERE nrank <= $GraphPerCell),
      |nprobe AS (SELECT vec_id, cell FROM ranked_cells WHERE vec_id % 5 = 4 AND crank <= $GraphBuildProbe),
      |amem AS (SELECT vec_id AS nbr, cell FROM ranked_cells WHERE crank = 1),
      |ncand AS (
      |  SELECT p.vec_id, p.cell, m.nbr
      |  FROM nprobe p JOIN amem m ON p.cell = m.cell AND p.vec_id <> m.nbr),
      |nadjs AS (
      |  SELECT c.vec_id, c.cell, c.nbr,
      |         ${Similarity.graphCosSql("x", "y")} AS cos
      |  FROM ncand c JOIN vecs x ON c.vec_id = x.vec_id JOIN vecs y ON c.nbr = y.vec_id),
      |nadj AS (
      |  SELECT vec_id AS src, nbr AS dst FROM (
      |    SELECT vec_id, nbr, ROW_NUMBER() OVER (PARTITION BY vec_id, cell ORDER BY cos DESC, nbr) AS nrank
      |    FROM nadjs) WHERE nrank <= $GraphPerCell),
      |iadj AS MATERIALIZED (
      |  SELECT src, dst FROM badj
      |  UNION
      |  SELECT src, dst FROM nadj
      |  UNION
      |  SELECT dst AS src, src AS dst FROM nadj)""".stripMargin

  private val q188Sql =
    s"""WITH ${Similarity.quantSqlCte},
      |$graphStateSqlCtes,
      |${Similarity.graphWalkSqlCtes("i", GraphEntries, GraphBeam, GraphRounds, adj = "iadj")}
      |SELECT qid, vec_id, ROUND(cos, 6) AS cosine, CAST(rnk AS INT) AS rank FROM (
      |  SELECT qid, vec_id, cos,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
      |  FROM is$GraphRounds)
      |WHERE rnk <= $GraphK
      |ORDER BY qid, rank""".stripMargin

  private val q189Sql =
    s"""WITH ${Similarity.quantSqlCte},
      |$graphStateSqlCtes,
      |gtomb AS (SELECT vec_id FROM embeddings WHERE vec_id % 7 = 3),
      |tadj AS MATERIALIZED (
      |  SELECT src, dst FROM iadj
      |  WHERE src NOT IN (SELECT vec_id FROM gtomb)
      |    AND dst NOT IN (SELECT vec_id FROM gtomb)),
      |${Similarity.graphWalkSqlCtes("t", GraphEntries, GraphBeam, GraphRounds,
          adj = "tadj", f0Where = "cell NOT IN (SELECT vec_id FROM gtomb)")}
      |SELECT qid, vec_id, ROUND(cos, 6) AS cosine, CAST(rnk AS INT) AS rank FROM (
      |  SELECT qid, vec_id, cos,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
      |  FROM ts$GraphRounds)
      |WHERE rnk <= $GraphK
      |ORDER BY qid, rank""".stripMargin

  /** Oracle CTEs for ONE ERA's self-contained index (pivots trained on
    * the era's own vectors, members/edges era-internal, ranked cells for
    * EVERY vector against the era's pivots — the f0 and member relation
    * in one): yields `${p}rc` and `${p}adj`. */
  private def eraStateSqlCtes(p: String, pred: String): String =
    s"""${p}piv AS (
      |  SELECT vec_id AS cell, qa AS pa, n2 AS pn2 FROM vecs
      |  WHERE ($pred) AND vec_id % $PivotStride = $PivotPhase),
      |${p}aff AS (
      |  SELECT v.vec_id, pv.cell,
      |         CAST(list_sum([v.qa[i] * pv.pa[i] for i in range(1, len(v.qa) + 1)]) AS DOUBLE)
      |           / (SQRT(CAST(v.n2 AS DOUBLE)) * SQRT(CAST(pv.pn2 AS DOUBLE))) AS cos
      |  FROM vecs v CROSS JOIN ${p}piv pv),
      |${p}rc AS (
      |  SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS crank
      |  FROM ${p}aff),
      |${p}probe AS (SELECT vec_id, cell FROM ${p}rc WHERE ($pred) AND crank <= $GraphBuildProbe),
      |${p}mem AS (SELECT vec_id AS nbr, cell FROM ${p}rc WHERE ($pred) AND crank = 1),
      |${p}cand AS (
      |  SELECT pr.vec_id, pr.cell, m.nbr
      |  FROM ${p}probe pr JOIN ${p}mem m ON pr.cell = m.cell AND pr.vec_id <> m.nbr),
      |${p}adjs AS (
      |  SELECT c.vec_id, c.cell, c.nbr,
      |         ${Similarity.graphCosSql("x", "y")} AS cos
      |  FROM ${p}cand c JOIN vecs x ON c.vec_id = x.vec_id JOIN vecs y ON c.nbr = y.vec_id),
      |${p}adj AS MATERIALIZED (
      |  SELECT vec_id AS src, nbr AS dst FROM (
      |    SELECT vec_id, nbr, ROW_NUMBER() OVER (PARTITION BY vec_id, cell ORDER BY cos DESC, nbr) AS nrank
      |    FROM ${p}adjs) WHERE nrank <= $GraphPerCell)""".stripMargin

  private val Era1Pred = "vec_id % 5 <> 4 AND vec_id % 2 = 1"

  private val q190Sql =
    s"""WITH ${Similarity.quantSqlCte},
      |vecs AS (
      |  SELECT vec_id, list(q ORDER BY pos) AS qa, CAST(SUM(q * q) AS BIGINT) AS n2
      |  FROM quant GROUP BY vec_id),
      |${eraStateSqlCtes("e1", Era1Pred)},
      |${Similarity.graphWalkSqlCtes("e1w", GraphEntries, GraphBeam, GraphRounds,
          adj = "e1adj", rankedCells = "e1rc")},
      |e0best AS (
      |  SELECT q.vec_id AS qid, MAX(${Similarity.graphCosSql("q", "v")}) AS cos0
      |  FROM vecs q JOIN vecs v ON q.vec_id < $NumQueries AND v.vec_id <> q.vec_id
      |  WHERE v.vec_id % 5 <> 4 AND v.vec_id % 2 = 0
      |  GROUP BY 1)
      |SELECT s.qid, s.vec_id, ROUND(s.cos, 6) AS cosine, CAST(s.rnk AS INT) AS rank,
      |       COALESCE(s.cos < m.cos0, FALSE) AS retired_better
      |FROM (
      |  SELECT qid, vec_id, cos,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
      |  FROM e1ws$GraphRounds) s
      |LEFT JOIN e0best m ON s.qid = m.qid
      |WHERE s.rnk <= $GraphK
      |ORDER BY s.qid, s.rnk""".stripMargin

  // q191's OWN oracle (NOT q189's replay — see the compact() contract):
  // the adjacency/vector masking is identical to q189's (physical drop ≡
  // endpoint mask), but the entry frontier ranks over the SURVIVING
  // pivots only (`crc`), replaying rank-after-drop — the compacted
  // index's full-entry-budget serve from raw embeddings end to end.
  private val q191Sql =
    s"""WITH ${Similarity.quantSqlCte},
      |$graphStateSqlCtes,
      |gtomb AS (SELECT vec_id FROM embeddings WHERE vec_id % 7 = 3),
      |tadj AS MATERIALIZED (
      |  SELECT src, dst FROM iadj
      |  WHERE src NOT IN (SELECT vec_id FROM gtomb)
      |    AND dst NOT IN (SELECT vec_id FROM gtomb)),
      |cpiv AS (SELECT cell, pa, pn2 FROM pivots
      |         WHERE cell NOT IN (SELECT vec_id FROM gtomb)),
      |caff AS (
      |  SELECT v.vec_id, p.cell,
      |         CAST(list_sum([v.qa[i] * p.pa[i] for i in range(1, len(v.qa) + 1)]) AS DOUBLE)
      |           / (SQRT(CAST(v.n2 AS DOUBLE)) * SQRT(CAST(p.pn2 AS DOUBLE))) AS cos
      |  FROM vecs v CROSS JOIN cpiv p WHERE v.vec_id < $NumQueries),
      |crc AS (
      |  SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS crank
      |  FROM caff),
      |${Similarity.graphWalkSqlCtes("c", GraphEntries, GraphBeam, GraphRounds,
          adj = "tadj", rankedCells = "crc")}
      |SELECT qid, vec_id, ROUND(cos, 6) AS cosine, CAST(rnk AS INT) AS rank FROM (
      |  SELECT qid, vec_id, cos,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
      |  FROM cs$GraphRounds)
      |WHERE rnk <= $GraphK
      |ORDER BY qid, rank""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q188_gann_intake" -> (q188 _),
    "q189_gann_takedown" -> (q189 _),
    "q190_gann_retention" -> (q190 _),
    "q191_gann_compact" -> (q191 _),
  )
  override val oracle: Map[String, String] = Map(
    "q188_gann_intake" -> q188Sql,
    "q189_gann_takedown" -> q189Sql,
    "q190_gann_retention" -> q190Sql,
    "q191_gann_compact" -> q191Sql,
  )
}
