package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Artifacts, PrefixSum, QueryModule, Tables}

/** q128 — INCREMENTAL PACKED-SHARD INTAKE: the q84 artifact pattern
  * applied to the PACKING family, completing its production shapes —
  * layout plan (q60), batch materialization (q127), and now the daily
  * intake a training-data pipeline runs most often (reference anchor:
  * the watermark-driven incremental replay contract of
  * /root/reference/nikon_ETL.py:425-499). A 100 TB corpus is packed
  * ONCE; each following day a small document shard arrives and must be
  * appended to the packed token stream WITHOUT re-exploding a single
  * corpus token — only the boundary sequence (the trailing partial
  * one) is ever rewritten.
  *
  * The artifact (fingerprinted, marker-last — [[Artifacts.publish]]):
  *  - `seqs/`  — every FULL training sequence of the corpus pack:
  *    (seq_id, n_tokens = SeqLen, n_docs, first_doc, last_doc,
  *    content_hash). Frozen forever: full sequences are immutable
  *    under append.
  *  - `state/` — ONE row of packing state: `total_tokens` (the frozen
  *    global offset the next shard appends at) and the trailing
  *    PARTIAL sequence's exact token content + doc stats (`tail_text`,
  *    `tail_n_docs`, `tail_first_doc`, `tail_last_doc`; empty when the
  *    corpus total divides SeqLen exactly). Bounded at SeqLen tokens
  *    by construction — the only raw-token state, one sequence long no
  *    matter the corpus size.
  *
  * Serving (q128) reads the artifact and the staged shard ONLY
  * (PlanSpec: no documents scan). The shard's token offsets ride the
  * same two-phase prefix sum as q60/q127 — per-bucket partials, a tiny
  * bucket-offset window, broadcast join back — based at the frozen
  * `total_tokens` (a broadcast state join, so the offset never touches
  * the driver), landing the day's tokens at exactly the positions a
  * full repack would give them. The boundary sequence merges stored
  * tail + new tokens: token counts add, and doc counts add because
  * shard ids are new — the tail's doc set and the shard's are disjoint
  * by construction. Every other output row is either a frozen artifact
  * row or purely shard-born. The full new-generation relation (frozen
  * ∪ rewritten boundary ∪ new) is the query result, and the oracle
  * replays the ENTIRE repack from raw documents — a hash match proves
  * append-at-frozen-offset reproduces the from-scratch pack, boundary
  * stitch included.
  *
  * [[ingest]] folds the day forward: new FULL sequences (the boundary
  * sequence, once filled, freezes too) append to `seqs/`; `state/`
  * advances to the new total and the new trailing partial. The fold is
  * deterministic, so re-running a day against the same input
  * generation is content-identical, and the multi-day chain equals the
  * full-repack ground truth day after day (IncrementalPackSpec).
  *
  * Scale shape: serving COMPUTES over shard tokens only (a day's
  * intake); the corpus-sized `seqs/` relation is read once, as
  * fixed-width hash rows, solely because the query RESULT is the full
  * generation — a deployment appending to a partitioned sequence table
  * would not rewrite or even read it. The one shuffle keys on seq_id
  * with groups fixed at SeqLen by construction (a perfectly uniform
  * exchange); the ordered collect per group is bounded at SeqLen
  * elements via array_sort in the aggregate, never a window.
  */
object IncrementalPack extends QueryModule {

  private[graft] val SeqLen = 2048L
  private val PackBucket = 1000L
  // shard doc ids are re-keyed above every corpus id so pack order
  // (doc_id order) is arrival order: corpus first, then the day
  import Intake.ShardBase

  // "pack3": the roster carries (start_off, n_tokens) alongside the
  // sequence span so the pad-rewrite (q145) can place a removed doc's
  // hole positions from the artifact alone — without ever reading the
  // removed content. The bumped prefix keys past any earlier-layout
  // artifact a completed marker would otherwise serve (fingerprints
  // key the DATA, not the layout; "pack2" added the roster itself).
  private[graft] def indexPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/pack3-${Intake.dataFingerprint(s, dir)}"
  private[graft] def shardPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/pack-shard-${Intake.dataFingerprint(s, dir)}"

  private def corpusDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documentsWide(s, dir).select("doc_id", "text")
      .filter(Intake.corpus(col("doc_id")))

  /** The day's arrivals: the held-out slice, re-keyed into the append
    * id range (a pack intake appends whatever upstream curation
    * admitted — dedup verdicts are q84/q102's business). */
  private def shardDocs(s: SparkSession, dir: String): DataFrame =
    Intake.rekey(Tables.documents(s, dir).select("doc_id", "text")
      .filter(Intake.arrivals(col("doc_id"))), 1)

  /** Per-doc packed offsets of a (doc_id, text, base_off) relation —
    * (doc_id, ts, n_tokens, start_off) via [[withStartOff]]. The
    * shared NARROW front half of [[packedFromOffsets]] (the token
    * explode) and [[docSpansFromOffsets]] (the roster — no explode at
    * all). */
  private def offsetsOf(docs: DataFrame): DataFrame =
    offsetsOfTs(docs.select(col("doc_id"), col("base_off"),
      split(col("text"), " ").as("ts")))

  /** [[offsetsOf]] over an already-tokenized (doc_id, base_off, ts)
    * relation. */
  private def offsetsOfTs(docs: DataFrame): DataFrame =
    withStartOff(docs.select(col("doc_id"), col("base_off"), col("ts"))
      .withColumn("n_tokens", size(col("ts")).cast("long")))
      .select("doc_id", "ts", "n_tokens", "start_off")

  /** Add `start_off` to any (doc_id, base_off, n_tokens, …) relation:
    * `base_off` plus the tokens of every earlier doc_id (pack order);
    * extra columns ride through. Bucket bound: ≤ corpus/PackBucket
    * doc_id ranges. The sum reads its input twice, so the roster-only
    * path (q146) runs it over the artifact's own narrow token counts
    * and joins corpus text in exactly once, downstream (PlanSpec). The
    * offline pack (q60/q127) passes `base_off` 0. */
  private[graft] def withStartOff(rel: DataFrame): DataFrame =
    PrefixSum.running(rel.withColumn("bucket", expr(s"doc_id div $PackBucket")),
        partition = Nil, bucket = Seq("bucket"), order = Seq(col("doc_id")),
        col("n_tokens") -> "start_off")
      .withColumn("start_off", col("base_off") + col("start_off"))
      .drop("bucket")

  /** Pack per-doc offsets into per-sequence rows WITH the exact
    * in-order token content string; the grouped collect is bounded at
    * SeqLen elements per group by construction. */
  private def packedFromOffsets(offs: DataFrame): DataFrame = offs
    .select(col("doc_id"), col("start_off"), posexplode(col("ts")).as(Seq("i", "tok")))
    .withColumn("p", col("start_off") + col("i"))
    .withColumn("seq_id", expr(s"p div $SeqLen"))
    .withColumn("pos", expr(s"p % $SeqLen"))
    .groupBy("seq_id")
    .agg(count(lit(1)).cast("int").as("n_tokens"),
      countDistinct(col("doc_id")).cast("int").as("n_docs"),
      min(col("doc_id")).as("first_doc"),
      max(col("doc_id")).as("last_doc"),
      expr("array_join(transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok), ' ')")
        .as("content"))

  /** Pack a (doc_id, text, base_off) relation into per-sequence rows;
    * token positions start at `base_off` (lit 0 for the offline pack,
    * the frozen broadcast total for serving; q127 packs the corpus
    * this way). */
  private[graft] def packedWithContent(docs: DataFrame): DataFrame =
    packedFromOffsets(offsetsOf(docs))

  /** The doc→sequence-span roster (doc_id, first_seq, last_seq): which
    * sequences hold each doc's tokens — pure arithmetic on the offsets,
    * no explode. This is what a removal request joins (q139): packed
    * token positions are global state, so the artifact must be able to
    * answer "where are this doc's tokens" without re-exploding a
    * single sequence. */
  private def docSpansFromOffsets(offs: DataFrame): DataFrame = offs
    .select(col("doc_id"),
      expr(s"start_off div $SeqLen").as("first_seq"),
      expr(s"(start_off + n_tokens - 1) div $SeqLen").as("last_seq"),
      col("start_off"), col("n_tokens"))

  private def tokenTotal(docs: DataFrame): DataFrame = docs
    .select(size(split(col("text"), " ")).cast("long").as("nt"))
    .agg(coalesce(sum(col("nt")), lit(0L)).as("nt_sum"))

  /** seqs/ + state/ + docspans/ writer shared by the offline build and
    * [[ingest]]: `fullSeqs` are the hash rows to freeze, `packed` the
    * content-bearing rows whose (at most one) partial row becomes the
    * tail, `spans` the doc→sequence-span roster (the removal-request
    * surface — q139). */
  private def writeGeneration(tmp: String,
                              fullSeqs: DataFrame, packed: DataFrame,
                              total: DataFrame, spans: DataFrame): Unit = {
    fullSeqs.write.mode("overwrite").parquet(s"$tmp/seqs")
    spans.write.mode("overwrite").parquet(s"$tmp/docspans")
    val tail = packed.filter(col("n_tokens") < SeqLen)
      .select(col("content").as("tail_text"), col("n_docs").as("tail_n_docs"),
        col("first_doc").as("tail_first_doc"), col("last_doc").as("tail_last_doc"))
    total.join(tail, lit(true), "left")
      .select(col("total_tokens"),
        coalesce(col("tail_text"), lit("")).as("tail_text"),
        coalesce(col("tail_n_docs"), lit(0)).as("tail_n_docs"),
        coalesce(col("tail_first_doc"), lit(-1L)).as("tail_first_doc"),
        coalesce(col("tail_last_doc"), lit(-1L)).as("tail_last_doc"))
      .write.mode("overwrite").parquet(s"$tmp/state")
  }

  private def hashRows(packed: DataFrame): DataFrame = packed
    .select(col("seq_id"), col("n_tokens"), col("n_docs"),
      col("first_doc"), col("last_doc"), md5(col("content")).as("content_hash"))

  /** Offline: pack the corpus once, persist frozen full sequences +
    * the one-row packing state. */
  private[graft] def buildPackState(s: SparkSession, docs: DataFrame, path: String): String =
    Artifacts.publish(s, path) { tmp =>
      Intake.assertRekeyDisjoint(docs, "pack")
      // offsets run twice (token rows + the narrow spans roster): the
      // prefix sum is cheap next to the explode it feeds, and only the
      // per-seq explode result is worth a disk persist
      val offs = offsetsOf(docs.withColumn("base_off", lit(0L)))
      val packed = packedFromOffsets(offs)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      try writeGeneration(tmp,
        hashRows(packed.filter(col("n_tokens") === SeqLen)), packed,
        tokenTotal(docs).select(col("nt_sum").as("total_tokens")),
        docSpansFromOffsets(offs))
      finally packed.unpersist()
    }

  private[graft] def stageShard(s: SparkSession, dir: String): String =
    Artifacts.publish(s, shardPath(s, dir)) { tmp =>
      shardDocs(s, dir).write.mode("overwrite").parquet(s"$tmp/docs")
    }

  /** Online: pack the shard at the frozen offset and stitch the
    * boundary sequence — content kept as a string so [[ingest]] can
    * roll the new trailing partial into the next generation. Reads the
    * state row and the shard relation only. */
  private[graft] def servedTail(s: SparkSession, shard: DataFrame,
                                idxPath: String): DataFrame = {
    val state = s.read.parquet(s"$idxPath/state")
    val newSeqs = packedWithContent(
      shard.crossJoin(broadcast(state.select(col("total_tokens").as("base_off")))))
    // An EMPTY day's shard contributes no row at the boundary seq_id,
    // so the stored partial must survive as its own row — otherwise
    // serve drops it and ingest would persist a state whose tail_text
    // resets to '' while total_tokens stays mid-sequence, corrupting
    // every later day's boundary stitch. A non-empty shard ALWAYS
    // lands its first token at seq_id = total div SeqLen (and every
    // doc splits to ≥ 1 token), so the bare tail is needed EXACTLY
    // when the shard's token total is zero — one narrow guard scan,
    // no duplication of the packing subtree.
    val bareTail = state.filter(col("total_tokens") % SeqLen > 0)
      .crossJoin(broadcast(tokenTotal(shard)))
      .filter(col("nt_sum") === 0)
      .select(expr(s"total_tokens div $SeqLen").as("seq_id"),
        (col("total_tokens") % SeqLen).cast("int").as("n_tokens"),
        col("tail_n_docs").cast("int").as("n_docs"),
        col("tail_first_doc").as("first_doc"),
        col("tail_last_doc").as("last_doc"),
        col("tail_text").as("content"))
    newSeqs.crossJoin(broadcast(state))
      // The tail exists iff the frozen total is mid-sequence. Keyed on
      // the arithmetic, not on tail_text != '': a tail of empty-string
      // tokens (split artifacts) joins to '' yet still occupies
      // positions, and the oracle's string_agg counts it.
      .withColumn("is_b",
        col("seq_id") === expr(s"total_tokens div $SeqLen") &&
          col("total_tokens") % SeqLen > 0)
      .select(col("seq_id"),
        (when(col("is_b"), col("total_tokens") % SeqLen).otherwise(lit(0L)) + col("n_tokens"))
          .cast("int").as("n_tokens"),
        (when(col("is_b"), col("tail_n_docs")).otherwise(lit(0)) + col("n_docs"))
          .cast("int").as("n_docs"),
        when(col("is_b"), col("tail_first_doc")).otherwise(col("first_doc")).as("first_doc"),
        when(col("is_b"), greatest(col("tail_last_doc"), col("last_doc")))
          .otherwise(col("last_doc")).as("last_doc"),
        when(col("is_b"), concat(col("tail_text"), lit(" "), col("content")))
          .otherwise(col("content")).as("content"))
      .unionByName(bareTail)
  }

  /** The full new-generation relation: frozen full sequences ∪ the
    * rewritten boundary ∪ shard-born sequences — q127's exact columns. */
  private[graft] def serve(s: SparkSession, shard: DataFrame, idxPath: String): DataFrame =
    s.read.parquet(s"$idxPath/seqs")
      .unionByName(hashRows(servedTail(s, shard, idxPath)))
      .withColumn("fill_ppm", expr(s"(1000000 * CAST(n_tokens AS BIGINT)) div $SeqLen"))
      .select("seq_id", "n_tokens", "n_docs", "first_doc", "last_doc",
        "fill_ppm", "content_hash")
      .orderBy("seq_id")

  /** Fold the day forward into a new artifact generation: sequences
    * that are now full freeze into `seqs/`; `state/` advances to the
    * new global total and the new trailing partial. Re-running a day
    * against the same input generation is content-identical, and
    * [[Artifacts.publish]] makes a same-path replay a no-op. */
  private[graft] def ingest(s: SparkSession, shard: DataFrame,
                            idxPath: String, outPath: String): String =
    Artifacts.publish(s, outPath) { tmp =>
      val tail = servedTail(s, shard, idxPath)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      try {
        val total = s.read.parquet(s"$idxPath/state").select("total_tokens")
          .crossJoin(tokenTotal(shard))
          .select((col("total_tokens") + col("nt_sum")).as("total_tokens"))
        // roster fold: stored spans stay VALID under append (a doc's
        // tokens never move — that immobility is exactly why removal
        // is a rewrite, q139's design note); the day's docs span from
        // the frozen offset on
        val shardSpans = docSpansFromOffsets(offsetsOf(shard.crossJoin(broadcast(
          s.read.parquet(s"$idxPath/state").select(col("total_tokens").as("base_off"))))))
        // holes never move under append — the pad roster rides along
        padsOf(s, idxPath).write.mode("overwrite").parquet(s"$tmp/pads")
        writeGeneration(tmp,
          s.read.parquet(s"$idxPath/seqs")
            .unionByName(hashRows(tail.filter(col("n_tokens") === SeqLen))),
          tail, total,
          s.read.parquet(s"$idxPath/docspans").unionByName(shardSpans))
      } finally tail.unpersist()
    }

  private def q128(s: SparkSession, dir: String): DataFrame = {
    val idx = buildPackState(s, corpusDocs(s, dir), indexPath(s, dir))
    val shard = stageShard(s, dir)
    serve(s, s.read.parquet(s"$shard/docs"), idx)
  }

  // The oracle replays the ENTIRE pack from raw documents — corpus and
  // re-keyed shard as one doc_id-ordered stream through the plain
  // global cumsum — never seeing the artifact: a hash match proves the
  // frozen-offset append (boundary stitch included) reproduces the
  // from-scratch repack row for row.
  private val q128Sql =
    s"""WITH all_docs AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4
      |  UNION ALL
      |  SELECT doc_id + $ShardBase AS doc_id, text FROM documents WHERE doc_id % 5 = 4),
      |n AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM all_docs),
      |c AS (
      |  SELECT doc_id, ts,
      |         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS start_off
      |  FROM n),
      |tok AS (
      |  SELECT doc_id, start_off + u.i - 1 AS p, ts[u.i] AS tok
      |  FROM c, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i) u),
      |seqs AS (
      |  SELECT p // $SeqLen AS seq_id, p % $SeqLen AS pos, doc_id, tok FROM tok)
      |SELECT seq_id,
      |       CAST(COUNT(*) AS INT) AS n_tokens,
      |       CAST(COUNT(DISTINCT doc_id) AS INT) AS n_docs,
      |       MIN(doc_id) AS first_doc,
      |       MAX(doc_id) AS last_doc,
      |       (1000000 * COUNT(*)) // $SeqLen AS fill_ppm,
      |       md5(string_agg(tok, ' ' ORDER BY pos)) AS content_hash
      |FROM seqs GROUP BY seq_id ORDER BY seq_id""".stripMargin

  // ---------------------------------------------------------------------
  // q139 — PACK TAKEDOWN AUDIT: the removal contract, stated honestly.
  // Packed training data is the one artifact family where a takedown
  // CANNOT be a tombstone: token positions are global state (every
  // sequence after a removed token shifts), so post-materialization
  // removal is either a PAD-rewrite of exactly the sequences holding
  // the doc's tokens (offsets preserved; the trainer must mask holes)
  // or a REPACK of everything from the first affected sequence onward.
  // The production contract is therefore: takedowns GATE UPSTREAM
  // (q133's lexical and q136's vector tombstones run before packing),
  // and a post-hoc request against an already-shipped pack is priced by
  // THIS audit before anyone commits to a rewrite. Per sequence:
  //   n_tomb_docs  — removed docs with tokens in the sequence;
  //   direct_hit   — the PAD-rewrite set (n_tomb_docs > 0);
  //   must_rewrite — the REPACK set (everything from the first hit on).
  // The request is a bare id list priced against the artifact's own
  // docspans/ roster — the corpus is never re-read, no sequence is
  // re-exploded (PlanSpec: zero documents scans).
  //
  // Scale shape: the roster join is request-sized × a narrow broadcast;
  // only request docs explode their ≤ (len div SeqLen)+2-sequence
  // spans; the seq universe comes from the artifact's own distributed
  // seqs/ relation (∪ the one tail id from state) — never a driver-side
  // or single-task range materialization; the first-hit scalar rides a
  // broadcast 1-row aggregate.
  /** Build-or-reuse the corpus pack artifact and return its path — the
    * pack-family entry point for the cross-family ledger (q140). */
  private[graft] def corpusIndex(s: SparkSession, dir: String): String =
    buildPackState(s, corpusDocs(s, dir), indexPath(s, dir))

  /** Normalize an external removal request to distinct bare ids.
    * Removal requests are legal input the pipeline does not control: a
    * request may name the same doc twice, and without this every
    * takedown/pricing operator would double-join the roster — tomb
    * rows duplicate, `applyTakedown` double-counts the removed mass
    * (total_tokens folds too small, later ingests append at the wrong
    * offset), and the pad rewrite emits duplicate <PAD> tokens at the
    * same positions. Mirrors pqTakedown's roster `.distinct()`. */
  private def requestIds(ids: DataFrame): DataFrame =
    ids.select("doc_id").distinct()

  /** Price a removal request against the pack artifact's own roster —
    * q139's body, factored so IncrementalPackSpec can assert the
    * pricing ↔ execution identity: `direct_hit` is exactly the set
    * [[padRewrite]] rewrites, `must_rewrite` exactly the set
    * [[repackFrom]] rebuilds. */
  private[graft] def priceTakedown(s: SparkSession, ids: DataFrame,
                                   idxPath: String): DataFrame = {
    val req = requestIds(ids)
    val spans = s.read.parquet(s"$idxPath/docspans")
    val hit = spans.join(broadcast(req), "doc_id")
      .select(explode(expr("sequence(first_seq, last_seq)")).as("seq_id"))
      .groupBy("seq_id").agg(count(lit(1)).as("n_tomb_docs"))
    val state = s.read.parquet(s"$idxPath/state")
    val allSeqs = s.read.parquet(s"$idxPath/seqs").select("seq_id")
      .unionByName(state.filter(col("total_tokens") % SeqLen > 0)
        .select(expr(s"total_tokens div $SeqLen").as("seq_id")))
    val firstHit = hit.agg(min(col("seq_id")).as("first_hit"))
    allSeqs.join(hit, Seq("seq_id"), "left")
      .crossJoin(broadcast(firstHit))
      .select(col("seq_id"),
        coalesce(col("n_tomb_docs"), lit(0L)).as("n_tomb_docs"),
        (coalesce(col("n_tomb_docs"), lit(0L)) > 0).as("direct_hit"),
        (col("first_hit").isNotNull && col("seq_id") >= col("first_hit"))
          .as("must_rewrite"))
      .orderBy("seq_id")
  }

  private def q139(s: SparkSession, dir: String): DataFrame = {
    val idx = corpusIndex(s, dir)
    // the request: every 7th packed doc opted out (the q133/q136
    // fixture arithmetic), priced against the roster
    priceTakedown(s,
      s.read.parquet(s"$idx/docspans").select("doc_id")
        .filter(Intake.requested(col("doc_id"))),
      idx)
  }

  // The oracle replays the corpus pack's offsets from raw documents (the
  // plain global cumsum) and derives spans, hits, and both rewrite sets
  // independently — a hash match proves the artifact roster prices the
  // request exactly as a from-scratch repack analysis would.
  private val q139Sql =
    s"""WITH cdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),
      |n AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM cdocs),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS start_off
      |  FROM n),
      |spans AS (
      |  SELECT doc_id, start_off // $SeqLen AS first_seq,
      |         (start_off + n_tokens - 1) // $SeqLen AS last_seq
      |  FROM c),
      |hit AS (
      |  SELECT unnest(range(first_seq, last_seq + 1)) AS seq_id
      |  FROM spans WHERE doc_id % 7 = 3),
      |hc AS (SELECT seq_id, CAST(COUNT(*) AS BIGINT) AS n_tomb_docs FROM hit GROUP BY seq_id),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM n),
      |allseq AS (
      |  SELECT unnest(range(0, (total + ${SeqLen - 1}) // $SeqLen)) AS seq_id FROM tot),
      |fh AS (SELECT MIN(seq_id) AS first_hit FROM hc)
      |SELECT a.seq_id,
      |       COALESCE(h.n_tomb_docs, 0) AS n_tomb_docs,
      |       COALESCE(h.n_tomb_docs, 0) > 0 AS direct_hit,
      |       fh.first_hit IS NOT NULL AND a.seq_id >= fh.first_hit AS must_rewrite
      |FROM allseq a LEFT JOIN hc h USING (seq_id) CROSS JOIN fh
      |ORDER BY a.seq_id""".stripMargin

  // ---------------------------------------------------------------------
  // q145 — PACK PAD-REWRITE: the bounded removal EXECUTION q139 priced.
  // q139's contract says a post-hoc takedown against shipped packed
  // data is either a pad-rewrite of the direct-hit sequences or a
  // repack from the first hit onward; this operator EXECUTES the
  // cheaper branch. Every sequence holding a removed doc's tokens is
  // rebuilt with the removed positions replaced by `<PAD>` (offsets
  // and sequence boundaries preserved — the trainer masks holes, no
  // later sequence moves); every other row of the artifact is emitted
  // byte-identical. Metadata on rewritten rows re-derives over the
  // SURVIVORS (n_docs/first_doc/last_doc exclude the removed ids —
  // citing them would itself leak, q142's lesson), n_tokens keeps the
  // positional count, and n_pad prices the holes.
  //
  // Scale shape — why this is bounded at 100 TB:
  //  * the hit set and overlap set come from the artifact's own
  //    docspans/ roster (request-sized explodes over ≤ span-length
  //    rows, equi-joined against the BROADCAST hit set — codegen'd
  //    BHJs, never a nested loop);
  //  * the only corpus read is the overlapping SURVIVORS' text — the
  //    request-bounded neighborhood of the holes, not the corpus (the
  //    honest cost of a rewrite: pack data files must be re-written,
  //    and only the affected files are touched);
  //  * the REMOVED docs' content is never read: their hole positions
  //    come from the roster's (start_off, n_tokens) arithmetic alone —
  //    the rewrite works even after the removed content is already
  //    legally deleted from the document store;
  //  * the rebuild groups on seq_id with groups bounded at SeqLen
  //    (the q127 collect discipline), over hit sequences only.
  //
  // The oracle replays the padded pack from raw documents (the plain
  // cumsum with the CASE substitution) — the hash match proves both
  // that rewritten rows hold exactly the padded content and that
  // untouched rows are byte-identical to the frozen artifact.
  private[graft] val PadTok = "<PAD>"

  /** The artifact's positional HOLES — `pads/` rows (start_off,
    * n_tokens), written by [[applyPadTakedown]] and carried forward by
    * [[ingest]]/[[applyTakedown]]. No doc ids are retained (q142's
    * lesson: the artifact must not cite what it removed); offsets are
    * enough, because holes never move while they exist (pad folds
    * freeze offsets) and a repack fold consumes the holes at/after its
    * cut. Empty when the relation was never written — a pristine
    * chain's folds behave exactly as before. */
  private def padsOf(s: SparkSession, idxPath: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$idxPath/pads")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) s.read.parquet(p.toString)
    else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("start_off",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_tokens",
          org.apache.spark.sql.types.LongType))))
  }

  /** Every materialized sequence row of the artifact — the frozen full
    * sequences plus the trailing partial (from `state/`) as a hash row:
    * the relation a rewrite treats as "the shipped pack". */
  private def storedRows(s: SparkSession, idxPath: String): DataFrame =
    s.read.parquet(s"$idxPath/seqs")
      .unionByName(s.read.parquet(s"$idxPath/state")
        .filter(col("total_tokens") % SeqLen > 0)
        .select(expr(s"total_tokens div $SeqLen").as("seq_id"),
          (col("total_tokens") % SeqLen).cast("int").as("n_tokens"),
          col("tail_n_docs").cast("int").as("n_docs"),
          col("tail_first_doc").as("first_doc"),
          col("tail_last_doc").as("last_doc"),
          md5(col("tail_text")).as("content_hash")))

  /** The direct-hit sequences rebuilt WITH their padded content
    * (q145's agg, hash deferred): survivor tokens at their frozen
    * positions, removed positions as [[PadTok]] from roster arithmetic
    * alone. Shared by q145 (hash + anti-join union) and
    * [[applyPadTakedown]] (persists content so a padded tail's exact
    * text survives into the new generation's state). */
  private def paddedHitSeqs(s: SparkSession, ids: DataFrame,
                            idxPath: String, docStore: DataFrame): DataFrame = {
    val spans = s.read.parquet(s"$idxPath/docspans")
    val tomb = spans.join(broadcast(ids.select("doc_id")), "doc_id")
    val hitSeqs = tomb
      .select(explode(expr("sequence(first_seq, last_seq)")).as("seq_id"))
      .distinct()
    // docs overlapping any hit sequence: explode each roster span and
    // equi-join the broadcast hit set
    val overlap = spans
      .select(col("doc_id"), col("start_off"), col("n_tokens"),
        explode(expr("sequence(first_seq, last_seq)")).as("seq_id"))
      .join(broadcast(hitSeqs), "seq_id")
      .select("doc_id", "start_off", "n_tokens").distinct()
    val tombIds = tomb.select("doc_id").distinct()
    val surv = overlap.join(broadcast(tombIds), Seq("doc_id"), "left_anti")
    val survToks = docStore.join(broadcast(surv), "doc_id")
      .select(col("doc_id"), col("start_off"),
        posexplode(split(col("text"), " ")).as(Seq("i", "tok")))
      .select(col("doc_id"), (col("start_off") + col("i")).as("p"),
        col("tok"), lit(0).as("is_pad"))
    // hole positions: the request's spans PLUS any stored pads/ holes
    // landing in a hit sequence — a rebuild reconstructs the sequence
    // from document text, and earlier folds' pads live in NO document,
    // so they must re-inject from the artifact's own hole roster
    val padToks = tomb.select("start_off", "n_tokens")
      .unionByName(padsOf(s, idxPath))
      .select(explode(expr("sequence(start_off, start_off + n_tokens - 1)")).as("p"))
      .select(lit(null).cast("long").as("doc_id"), col("p"),
        lit(PadTok).as("tok"), lit(1).as("is_pad"))
    survToks.unionByName(padToks)
      .withColumn("seq_id", expr(s"p div $SeqLen"))
      .join(broadcast(hitSeqs), "seq_id")
      .withColumn("pos", expr(s"p % $SeqLen"))
      .groupBy("seq_id")
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        countDistinct(col("doc_id")).cast("int").as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(col("is_pad")).cast("int").as("n_pad"),
        expr(
          "array_join(transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok), ' ')")
          .as("content"))
  }

  /** The distinct hit-sequence ids of a request — the pad-rewrite's
    * touch set (q139's direct_hit column as a relation). */
  private def hitSeqIds(s: SparkSession, ids: DataFrame, idxPath: String): DataFrame =
    s.read.parquet(s"$idxPath/docspans")
      .join(broadcast(ids.select("doc_id")), "doc_id")
      .select(explode(expr("sequence(first_seq, last_seq)")).as("seq_id"))
      .distinct()

  private[graft] def padRewrite(s: SparkSession, ids: DataFrame,
                                idxPath: String, docStore: DataFrame): DataFrame = {
    val req = requestIds(ids)
    val rebuilt = paddedHitSeqs(s, req, idxPath, docStore)
      .select(col("seq_id"), col("n_tokens"), col("n_docs"),
        col("first_doc"), col("last_doc"), col("n_pad"),
        md5(col("content")).as("content_hash"))
    storedRows(s, idxPath)
      .join(broadcast(hitSeqIds(s, req, idxPath)), Seq("seq_id"), "left_anti")
      .withColumn("n_pad", lit(0).cast("int"))
      .unionByName(rebuilt)
      .select("seq_id", "n_tokens", "n_docs", "first_doc", "last_doc",
        "n_pad", "content_hash")
      .orderBy("seq_id")
  }

  private def q145(s: SparkSession, dir: String): DataFrame = {
    val idx = corpusIndex(s, dir)
    padRewrite(s,
      s.read.parquet(s"$idx/docspans").select("doc_id")
        .filter(Intake.requested(col("doc_id"))),
      idx, corpusDocs(s, dir))
  }

  private val q145Sql =
    s"""WITH cdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),
      |n AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM cdocs),
      |c AS (
      |  SELECT doc_id, ts,
      |         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS start_off
      |  FROM n),
      |tok AS (
      |  SELECT doc_id, start_off + u.i - 1 AS p, ts[u.i] AS tok
      |  FROM c, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i) u),
      |seqs AS (
      |  SELECT p // $SeqLen AS seq_id, p % $SeqLen AS pos, doc_id, tok FROM tok)
      |SELECT seq_id,
      |       CAST(COUNT(*) AS INT) AS n_tokens,
      |       CAST(COUNT(DISTINCT CASE WHEN doc_id % 7 <> 3 THEN doc_id END) AS INT) AS n_docs,
      |       MIN(CASE WHEN doc_id % 7 <> 3 THEN doc_id END) AS first_doc,
      |       MAX(CASE WHEN doc_id % 7 <> 3 THEN doc_id END) AS last_doc,
      |       CAST(SUM(CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END) AS INT) AS n_pad,
      |       md5(string_agg(CASE WHEN doc_id % 7 = 3 THEN '$PadTok' ELSE tok END,
      |                      ' ' ORDER BY pos)) AS content_hash
      |FROM seqs GROUP BY seq_id ORDER BY seq_id""".stripMargin

  // ---------------------------------------------------------------------
  // q146 — PACK REPACK-FROM-FIRST-HIT: the OTHER branch of the q139
  // contract, executed against the SAME request q145 pads. Where the
  // pad-rewrite freezes offsets and leaves holes, the repack closes
  // them: every sequence before the first hit is served byte-identical
  // from the artifact, and from the cut (= first_hit · SeqLen) onward
  // the surviving tokens pack contiguously — the suffix a full
  // survivor repack would produce, which is exactly what the oracle
  // rebuilds. Running both branches on one request makes q139's
  // pricing table executable end to end: q145 touches only direct-hit
  // sequences, q146 honestly pays for the whole must_rewrite set.
  //
  // The key structural fact (why NO per-doc shift join is needed): no
  // removed token exists below the cut, so no survivor below it moves;
  // above it, survivors in doc order ARE the new stream. At most ONE
  // survivor straddles the cut — its frozen prefix is trimmed at token
  // granularity, and the trim is pure ROSTER arithmetic: the suffix
  // survivors' new offsets come from the module's own two-phase prefix
  // sum run over the roster's (doc_id, n_tokens − trim) counts based
  // at the cut — no token array enters the sum, so the corpus text
  // joins in exactly once, at the explode (PlanSpec: one documents
  // scan), where `slice` drops the straddler's frozen prefix.
  //
  // Scale shape: the roster passes and the 1-row cut aggregate are
  // narrow; the ONE corpus-sized cost is reading + re-packing the
  // suffix survivors' text — q139's must_rewrite pricing, paid for
  // real (this is the branch you take when trainers can't mask pads;
  // the artifact prefix is never re-exploded, PlanSpec).
  /** The (first_hit, cut) 1-row relation of a takedown request's tomb
    * spans — null first_hit when the request misses the pack. */
  private def takedownCut(tomb: DataFrame): DataFrame =
    tomb.agg(min(expr(s"start_off div $SeqLen")).as("first_hit"))
      .select(col("first_hit"), (col("first_hit") * SeqLen).as("cut"))

  /** The re-packed suffix WITH content ([[packedFromOffsets]] columns):
    * survivors overlapping or past the cut, trimmed at token
    * granularity by roster arithmetic, corpus text joined exactly
    * once. Shared by q146 (hash + union with the frozen prefix) and
    * [[applyTakedown]] (persists content so the new tail survives). */
  /** Survivors overlapping or past the cut with their REPACKED offsets
    * (doc_id, trim, start_off, full_n): the prefix sum runs over the
    * roster's trimmed token counts based at the cut — pads and removed
    * spans contribute NOTHING, so the result is correct on padded
    * generations for free. `start_off − trim` is each survivor's new
    * roster start (for the straddler that reproduces its old start —
    * its frozen-prefix tokens never move). */
  private def rebuildOffsOf(spans: DataFrame, tombIds: DataFrame,
                            cutRel: DataFrame): DataFrame =
    withStartOff(spans
      .join(broadcast(tombIds), Seq("doc_id"), "left_anti")
      .crossJoin(broadcast(cutRel))
      .filter(col("cut").isNotNull && col("start_off") + col("n_tokens") > col("cut"))
      .select(col("doc_id"),
        greatest(lit(0L), col("cut") - col("start_off")).as("trim"),
        (col("n_tokens") - greatest(lit(0L), col("cut") - col("start_off")))
          .as("n_tokens"),
        col("n_tokens").as("full_n"),
        col("cut").as("base_off")))
      .select("doc_id", "trim", "start_off", "full_n")

  private def rebuiltSuffix(spans: DataFrame, tombIds: DataFrame,
                            cutRel: DataFrame, docStore: DataFrame): DataFrame = {
    val trimmed = docStore.join(rebuildOffsOf(spans, tombIds, cutRel), "doc_id")
      .withColumn("ts0", split(col("text"), " "))
      .select(col("doc_id"), col("start_off"),
        expr("slice(ts0, CAST(trim AS INT) + 1, size(ts0))").as("ts"))
    packedFromOffsets(trimmed)
  }

  private[graft] def repackFrom(s: SparkSession, ids: DataFrame,
                                idxPath: String, docStore: DataFrame): DataFrame = {
    val spans = s.read.parquet(s"$idxPath/docspans")
    val tomb = spans.join(broadcast(requestIds(ids)), "doc_id")
    val cutRel = takedownCut(tomb)
    val frozen = storedRows(s, idxPath).crossJoin(broadcast(cutRel))
      .filter(col("first_hit").isNull || col("seq_id") < col("first_hit"))
      .select(col("seq_id"), col("n_tokens"), col("n_docs"),
        col("first_doc"), col("last_doc"), lit(false).as("rebuilt"),
        col("content_hash"))
    val rebuilt = hashRows(rebuiltSuffix(spans, tomb.select("doc_id"), cutRel, docStore))
      .withColumn("rebuilt", lit(true))
      .select("seq_id", "n_tokens", "n_docs", "first_doc", "last_doc",
        "rebuilt", "content_hash")
    frozen.unionByName(rebuilt).orderBy("seq_id")
  }

  private def q146(s: SparkSession, dir: String): DataFrame = {
    val idx = corpusIndex(s, dir)
    repackFrom(s,
      s.read.parquet(s"$idx/docspans").select("doc_id")
        .filter(Intake.requested(col("doc_id"))),
      idx, corpusDocs(s, dir))
  }

  // ---------------------------------------------------------------------
  // q147 — PACK TAKEDOWN FOLD: persist the repack as a new artifact
  // GENERATION, so the multi-day chain continues after a removal. q146
  // computes the repacked relation; without a fold the artifact still
  // carries the removed doc's roster row, a stale total, and sequence
  // hashes that no longer exist — the next day's ingest would append at
  // the WRONG offset. The fold writes the full gen1 contract:
  //  - seqs/     — frozen prefix rows byte-identical + the re-packed
  //                suffix's full sequences;
  //  - state/    — total drops the removed token mass; the tail is the
  //                re-packed suffix's partial row (its exact text, so
  //                later boundary stitches keep working);
  //  - docspans/ — survivors shift down by the removed mass BEFORE
  //                them, computed as a delta prefix sum over the roster
  //                itself (delta = n_tokens on removed rows, 0 on
  //                survivors — the same two-phase sum, so survivors
  //                below the cut shift by exactly 0 with no cut logic).
  // A request that misses the pack folds to the identity (stored tail
  // passes through). The fold is deterministic and marker-published:
  // a same-path replay is a no-op (Artifacts.publish).
  //
  // q147 serves gen1's ROSTER — the one relation q146 doesn't already
  // prove — against an oracle that re-derives survivor offsets from
  // raw documents via the plain cumsum. The chain proof (ingest a new
  // day onto gen1 equals the from-scratch pack of survivors ∪ day) is
  // IncrementalPackSpec's, since DuckDB cannot see generations.
  //
  // Scale shape: everything but the suffix re-pack (q146's honest
  // must_rewrite cost, already priced) is roster arithmetic — the
  // shift pass is one narrow two-phase sum over the roster, no text,
  // no explode, no corpus read beyond the suffix survivors'.
  private[graft] def applyTakedown(s: SparkSession, ids: DataFrame,
                                   idxPath: String, docStore: DataFrame,
                                   outPath: String): String =
    Artifacts.publish(s, outPath) { tmp =>
      val spans = s.read.parquet(s"$idxPath/docspans")
      val tomb = spans.join(broadcast(requestIds(ids)), "doc_id")
      val cutRel = takedownCut(tomb)
      val rebuilt = rebuiltSuffix(spans, tomb.select("doc_id"), cutRel, docStore)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      try {
        val state = s.read.parquet(s"$idxPath/state")
        val frozenSeqs = s.read.parquet(s"$idxPath/seqs")
          .crossJoin(broadcast(cutRel))
          .filter(col("first_hit").isNull || col("seq_id") < col("first_hit"))
          .select("seq_id", "n_tokens", "n_docs", "first_doc", "last_doc",
            "content_hash")
        // identity fold: when the request misses the pack, the rebuilt
        // suffix is empty and the stored tail must pass through as the
        // packed row (otherwise the new state would reset tail_text to
        // '' while total stays mid-sequence — the q128 empty-day lesson)
        val storedTailPacked = state.filter(col("total_tokens") % SeqLen > 0)
          .crossJoin(broadcast(cutRel)).filter(col("first_hit").isNull)
          .select(expr(s"total_tokens div $SeqLen").as("seq_id"),
            (col("total_tokens") % SeqLen).cast("int").as("n_tokens"),
            col("tail_n_docs").cast("int").as("n_docs"),
            col("tail_first_doc").as("first_doc"),
            col("tail_last_doc").as("last_doc"),
            col("tail_text").as("content"))
        // a repack CONSUMES the holes at/after its cut (their positions
        // are not re-created — the suffix packs survivor TEXT); holes
        // fully below the cut stay, a hole straddling it keeps only its
        // below-cut part. The vanished hole mass must leave the total
        // alongside the removed mass.
        val pads = padsOf(s, idxPath).crossJoin(broadcast(cutRel))
        val padCutMass = pads.agg(coalesce(sum(
          when(col("cut").isNotNull,
            greatest(lit(0L), col("start_off") + col("n_tokens")
              - greatest(col("start_off"), col("cut"))))
            .otherwise(lit(0L))), lit(0L)).as("pad_rm"))
        pads.withColumn("keep_n",
            when(col("cut").isNotNull,
              least(col("n_tokens"),
                greatest(lit(0L), col("cut") - col("start_off"))))
              .otherwise(col("n_tokens")))
          .filter(col("keep_n") > 0)
          .select(col("start_off"), col("keep_n").as("n_tokens"))
          .write.mode("overwrite").parquet(s"$tmp/pads")
        val total = state.select("total_tokens")
          .crossJoin(broadcast(tomb.agg(
            coalesce(sum(col("n_tokens")), lit(0L)).as("rm"))))
          .crossJoin(broadcast(padCutMass))
          .select((col("total_tokens") - col("rm") - col("pad_rm"))
            .as("total_tokens"))
        // roster: survivors starting below the cut never move (their
        // tokens are frozen or, for the straddler, land back at their
        // old positions); survivors at/after the cut take their
        // repacked offsets straight from the rebuild's own prefix sum —
        // correct on padded generations for free, since the sum counts
        // survivor tokens only
        val keptSpans = spans
          .join(broadcast(tomb.select("doc_id")), Seq("doc_id"), "left_anti")
          .crossJoin(broadcast(cutRel))
          .filter(col("cut").isNull || col("start_off") < col("cut"))
          .select("doc_id", "first_seq", "last_seq", "start_off", "n_tokens")
        val movedSpans = rebuildOffsOf(spans, tomb.select("doc_id"), cutRel)
          .filter(col("trim") === 0L) // straddler (trim>0) is in keptSpans
          .select(col("doc_id"),
            expr(s"start_off div $SeqLen").as("first_seq"),
            expr(s"(start_off + full_n - 1) div $SeqLen").as("last_seq"),
            col("start_off"),
            col("full_n").as("n_tokens"))
        writeGeneration(tmp,
          frozenSeqs.unionByName(
            hashRows(rebuilt.filter(col("n_tokens") === SeqLen))),
          rebuilt.unionByName(storedTailPacked), total,
          keptSpans.unionByName(movedSpans))
      } finally rebuilt.unpersist()
    }

  private def q147(s: SparkSession, dir: String): DataFrame = {
    val idx = corpusIndex(s, dir)
    val gen1 = applyTakedown(s,
      s.read.parquet(s"$idx/docspans").select("doc_id")
        .filter(Intake.requested(col("doc_id"))),
      idx, corpusDocs(s, dir),
      s"${Artifacts.root}/pack3rm-${Intake.dataFingerprint(s, dir)}")
    s.read.parquet(s"$gen1/docspans")
      .select("doc_id", "first_seq", "last_seq", "start_off", "n_tokens")
      .orderBy("doc_id")
  }

  // The oracle re-derives the survivor roster from raw documents (the
  // plain cumsum over the corpus minus the removed docs) — a match
  // proves the folded generation's spans equal a from-scratch survivor
  // pack's, i.e. the shift-by-removed-mass arithmetic is exact.
  private val q147Sql =
    s"""WITH cdocs AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id % 5 <> 4 AND doc_id % 7 <> 3),
      |n AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM cdocs),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS start_off
      |  FROM n)
      |SELECT doc_id,
      |       start_off // $SeqLen AS first_seq,
      |       (start_off + n_tokens - 1) // $SeqLen AS last_seq,
      |       start_off, n_tokens
      |FROM c ORDER BY doc_id""".stripMargin

  // The oracle repacks the SURVIVORS from raw documents (the plain
  // cumsum with the removed docs excluded) and derives the cut from the
  // original pack's offsets — a hash match proves the frozen prefix is
  // byte-identical to the artifact AND the rebuilt suffix equals the
  // full survivor repack.
  private val q146Sql =
    s"""WITH cdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),
      |n AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM cdocs),
      |c AS (
      |  SELECT doc_id, ts, n_tokens,
      |         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS start_off
      |  FROM n),
      |fh AS (SELECT MIN(start_off // $SeqLen) AS first_hit FROM c WHERE doc_id % 7 = 3),
      |sc AS (
      |  SELECT doc_id, ts,
      |         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS start_off
      |  FROM n WHERE doc_id % 7 <> 3),
      |tok AS (
      |  SELECT doc_id, start_off + u.i - 1 AS p, ts[u.i] AS tok
      |  FROM sc, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i) u),
      |seqs AS (
      |  SELECT p // $SeqLen AS seq_id, p % $SeqLen AS pos, doc_id, tok FROM tok)
      |SELECT seq_id,
      |       CAST(COUNT(*) AS INT) AS n_tokens,
      |       CAST(COUNT(DISTINCT doc_id) AS INT) AS n_docs,
      |       MIN(doc_id) AS first_doc,
      |       MAX(doc_id) AS last_doc,
      |       fh.first_hit IS NOT NULL AND seq_id >= fh.first_hit AS rebuilt,
      |       md5(string_agg(tok, ' ' ORDER BY pos)) AS content_hash
      |FROM seqs CROSS JOIN fh GROUP BY seq_id, fh.first_hit
      |ORDER BY seq_id""".stripMargin

  // ---------------------------------------------------------------------
  // q148 — PACK PAD FOLD: persist the pad-rewrite as a new artifact
  // generation, completing the symmetry with q147 — BOTH executed
  // takedown branches now fold, so whichever branch q139's pricing
  // selects, the chain continues. The pad branch's fold is the
  // structurally simple one (that's WHY it's the cheaper branch):
  // offsets are frozen, so state total and every survivor's roster row
  // are unchanged — the fold only (a) swaps the direct-hit sequences'
  // hash rows, (b) drops the removed docs' roster rows (their spans
  // must not price a second request — the positions are pads now), and
  // (c) carries the padded tail TEXT into state when the tail is a hit
  // (later boundary stitches concatenate onto the pads, exactly as a
  // from-scratch padded pack would).
  //
  // q148 serves the folded generation through the UNCHANGED q128
  // serving path (empty shard) — the artifact round-trip proof, q131's
  // discipline: the oracle replays the padded pack from raw documents,
  // so a hash match proves the persisted generation IS the padded pack
  // as far as every downstream consumer can observe.
  private[graft] def applyPadTakedown(s: SparkSession, ids: DataFrame,
                                      idxPath: String, docStore: DataFrame,
                                      outPath: String): String =
    Artifacts.publish(s, outPath) { tmp =>
      val req = requestIds(ids)
      val hits = hitSeqIds(s, req, idxPath)
      val rebuilt = paddedHitSeqs(s, req, idxPath, docStore)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      try {
        val state = s.read.parquet(s"$idxPath/state")
        // the hole roster accumulates: earlier folds' pads ∪ this
        // request's spans (offsets frozen, so stored holes never move)
        padsOf(s, idxPath).unionByName(
          s.read.parquet(s"$idxPath/docspans")
            .join(broadcast(req), "doc_id")
            .select("start_off", "n_tokens"))
          .write.mode("overwrite").parquet(s"$tmp/pads")
        val frozenSeqs = s.read.parquet(s"$idxPath/seqs")
          .join(broadcast(hits), Seq("seq_id"), "left_anti")
        // the stored tail passes through UNLESS its sequence is a hit,
        // in which case rebuilt carries the padded tail row instead
        val storedTailPacked = state.filter(col("total_tokens") % SeqLen > 0)
          .select(expr(s"total_tokens div $SeqLen").as("seq_id"),
            (col("total_tokens") % SeqLen).cast("int").as("n_tokens"),
            col("tail_n_docs").cast("int").as("n_docs"),
            col("tail_first_doc").as("first_doc"),
            col("tail_last_doc").as("last_doc"),
            col("tail_text").as("content"))
          .join(broadcast(hits), Seq("seq_id"), "left_anti")
        val packedOut = rebuilt.drop("n_pad").unionByName(storedTailPacked)
        writeGeneration(tmp,
          frozenSeqs.unionByName(
            rebuilt.filter(col("n_tokens") === SeqLen)
              .select(col("seq_id"), col("n_tokens"), col("n_docs"),
                col("first_doc"), col("last_doc"),
                md5(col("content")).as("content_hash"))),
          packedOut,
          state.select("total_tokens"),
          s.read.parquet(s"$idxPath/docspans")
            .join(broadcast(req), Seq("doc_id"), "left_anti"))
      } finally rebuilt.unpersist()
    }

  private def q148(s: SparkSession, dir: String): DataFrame = {
    val idx = corpusIndex(s, dir)
    val gen1 = applyPadTakedown(s,
      s.read.parquet(s"$idx/docspans").select("doc_id")
        .filter(Intake.requested(col("doc_id"))),
      idx, corpusDocs(s, dir),
      s"${Artifacts.root}/pack3pad-${Intake.dataFingerprint(s, dir)}")
    serve(s, corpusDocs(s, dir).filter(lit(false)), gen1)
  }

  // The oracle replays the PADDED pack from raw documents (q145's
  // replay with q128's serve columns) — a hash match proves the folded
  // generation, served through the unchanged q128 path (boundary-tail
  // stitch included), is indistinguishable from a from-scratch padded
  // pack.
  private val q148Sql =
    s"""WITH cdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),
      |n AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM cdocs),
      |c AS (
      |  SELECT doc_id, ts,
      |         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS start_off
      |  FROM n),
      |tok AS (
      |  SELECT doc_id, start_off + u.i - 1 AS p, ts[u.i] AS tok
      |  FROM c, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i) u),
      |seqs AS (
      |  SELECT p // $SeqLen AS seq_id, p % $SeqLen AS pos, doc_id, tok FROM tok)
      |SELECT seq_id,
      |       CAST(COUNT(*) AS INT) AS n_tokens,
      |       CAST(COUNT(DISTINCT CASE WHEN doc_id % 7 <> 3 THEN doc_id END) AS INT) AS n_docs,
      |       MIN(CASE WHEN doc_id % 7 <> 3 THEN doc_id END) AS first_doc,
      |       MAX(CASE WHEN doc_id % 7 <> 3 THEN doc_id END) AS last_doc,
      |       (1000000 * COUNT(*)) // $SeqLen AS fill_ppm,
      |       md5(string_agg(CASE WHEN doc_id % 7 = 3 THEN '$PadTok' ELSE tok END,
      |                      ' ' ORDER BY pos)) AS content_hash
      |FROM seqs GROUP BY seq_id ORDER BY seq_id""".stripMargin

  // ---------------------------------------------------------------------
  // q149 — TAKEDOWN BRANCH GATE: the decision q139's pricing exists to
  // inform, made explicit (the q123/q124 gate discipline). Completes
  // the arc: price (q139) → DECIDE (q149) → execute (q145/q146) → fold
  // (q147/q148). One row per request, from roster + state arithmetic
  // ONLY (PlanSpec: zero documents scans — you decide BEFORE paying
  // for any rewrite):
  //   n_hit_seqs          — sequences the pad branch rewrites;
  //   n_rewrite_seqs      — sequences the repack branch rebuilds;
  //   pad_touch_tokens    — survivor tokens the pad branch re-explodes
  //                         (the overlap neighborhood; pads are
  //                         GENERATED, not read);
  //   repack_touch_tokens — survivor tokens the repack re-packs
  //                         (everything past the cut minus the removed
  //                         mass — removed spans never precede the cut
  //                         by construction);
  //   removed_tokens      — the request's token mass;
  //   pad_debt_ppm        — the dead weight the pad branch would leave
  //                         in the artifact (what accumulating requests
  //                         eventually turn into a repack anyway);
  //   verdict             — 'pad' iff its token touch is no larger.
  // The oracle re-derives every number from raw documents via the
  // plain cumsum — a match proves the roster prices the decision
  // exactly as a from-scratch analysis would.
  private[graft] def branchGate(s: SparkSession, ids: DataFrame,
                                idx: String): DataFrame = {
    val req = requestIds(ids)
    val spans = s.read.parquet(s"$idx/docspans")
    val tomb = spans.join(broadcast(req), "doc_id")
    val hits = hitSeqIds(s, req, idx)
    val overlapSurv = spans
      .select(col("doc_id"), col("n_tokens"),
        explode(expr("sequence(first_seq, last_seq)")).as("seq_id"))
      .join(broadcast(hits), "seq_id")
      .select("doc_id", "n_tokens").distinct()
      .join(broadcast(tomb.select("doc_id")), Seq("doc_id"), "left_anti")
    val total = s.read.parquet(s"$idx/state").select("total_tokens")
    val tombAgg = broadcast(tomb.agg(
      coalesce(sum(col("n_tokens")), lit(0L)).as("removed_tokens"),
      min(expr(s"start_off div $SeqLen")).as("first_hit")))
    // on a padded generation, the holes at/after the cut vanish in a
    // repack without being read — they must not price as touch
    val padRm = broadcast(padsOf(s, idx).crossJoin(tombAgg)
      .agg(coalesce(sum(when(col("first_hit").isNotNull,
        greatest(lit(0L), col("start_off") + col("n_tokens")
          - greatest(col("start_off"), col("first_hit") * SeqLen)))
        .otherwise(lit(0L))), lit(0L)).as("pad_rm")))
    broadcast(hits.agg(count(lit(1)).as("n_hit_seqs")))
      .crossJoin(broadcast(overlapSurv.agg(
        coalesce(sum(col("n_tokens")), lit(0L)).as("pad_touch_tokens"))))
      .crossJoin(tombAgg)
      .crossJoin(padRm)
      .crossJoin(broadcast(total))
      .withColumn("repack_touch_tokens",
        when(col("first_hit").isNull, lit(0L))
          .otherwise(col("total_tokens") - col("first_hit") * SeqLen
            - col("removed_tokens") - col("pad_rm")))
      .select(
        col("n_hit_seqs"),
        when(col("first_hit").isNull, lit(0L))
          .otherwise(expr(s"(total_tokens + ${SeqLen - 1}) div $SeqLen") - col("first_hit"))
          .as("n_rewrite_seqs"),
        col("pad_touch_tokens"),
        col("repack_touch_tokens"),
        col("removed_tokens"),
        expr("(1000000 * removed_tokens) div total_tokens").as("pad_debt_ppm"),
        when(col("pad_touch_tokens") <= col("repack_touch_tokens"),
          lit("pad")).otherwise(lit("repack")).as("verdict"))
  }

  private def q149(s: SparkSession, dir: String): DataFrame = {
    val idx = corpusIndex(s, dir)
    branchGate(s,
      s.read.parquet(s"$idx/docspans").select("doc_id")
        .filter(Intake.requested(col("doc_id"))),
      idx)
  }

  private val q149Sql =
    s"""WITH cdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),
      |n AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM cdocs),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS start_off
      |  FROM n),
      |spans AS (
      |  SELECT doc_id, n_tokens, start_off,
      |         start_off // $SeqLen AS first_seq,
      |         (start_off + n_tokens - 1) // $SeqLen AS last_seq
      |  FROM c),
      |hits AS (
      |  SELECT DISTINCT unnest(range(first_seq, last_seq + 1)) AS seq_id
      |  FROM spans WHERE doc_id % 7 = 3),
      |osurv AS (
      |  SELECT DISTINCT s.doc_id, s.n_tokens
      |  FROM spans s, LATERAL (SELECT unnest(range(s.first_seq, s.last_seq + 1)) AS seq_id) u
      |  WHERE u.seq_id IN (SELECT seq_id FROM hits) AND s.doc_id % 7 <> 3),
      |agg AS (
      |  SELECT
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hit_seqs,
      |    (SELECT COALESCE(CAST(SUM(n_tokens) AS BIGINT), 0) FROM osurv) AS pad_touch_tokens,
      |    (SELECT COALESCE(CAST(SUM(n_tokens) AS BIGINT), 0) FROM spans WHERE doc_id % 7 = 3) AS removed_tokens,
      |    (SELECT MIN(first_seq) FROM spans WHERE doc_id % 7 = 3) AS first_hit,
      |    (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM n) AS total_tokens)
      |SELECT n_hit_seqs,
      |       CASE WHEN first_hit IS NULL THEN 0
      |            ELSE (total_tokens + ${SeqLen - 1}) // $SeqLen - first_hit END AS n_rewrite_seqs,
      |       pad_touch_tokens,
      |       CASE WHEN first_hit IS NULL THEN 0
      |            ELSE total_tokens - first_hit * $SeqLen - removed_tokens END AS repack_touch_tokens,
      |       removed_tokens,
      |       (1000000 * removed_tokens) // total_tokens AS pad_debt_ppm,
      |       CASE WHEN pad_touch_tokens <= (CASE WHEN first_hit IS NULL THEN 0
      |            ELSE total_tokens - first_hit * $SeqLen - removed_tokens END)
      |            THEN 'pad' ELSE 'repack' END AS verdict
      |FROM agg""".stripMargin

  // ---------------------------------------------------------------------
  // q151 — PROVENANCE ATTRIBUTION SERVE (L113): the INVERSE of packing.
  // Every governance question about a shipped training artifact
  // eventually arrives as "this global token position (a memorized
  // span, an eval-set hit, a flagged completion) — which source
  // document is it, and what does the source say there?". The takedown
  // family (q139/q145–q149) prices whole-document requests forward;
  // this answers the position→document direction: an audit request of
  // bare global token positions maps through the artifact's own
  // docspans/ roster to (sequence, source doc, in-doc offset) and
  // fetches the attributed token from the raw corpus for exactly the
  // hit documents — the attribution a memorization audit or a
  // copyright claim review actually files.
  //
  // Scale shape: the request is audit-sized (bounded), so it rides a
  // BROADCAST range join against the roster — ONE narrow pass over the
  // corpus-proportional docspans relation, zero shuffle of it (the
  // roster's (start_off, n_tokens) arithmetic alone resolves the doc
  // and offset; positions never explode). The raw corpus is then read
  // ONCE, narrowly, with the bounded hit set as the broadcast build
  // side — only attributed documents' texts are token-indexed. No step
  // re-derives offsets: the roster IS the provenance record (that is
  // why q147/q148's folds maintain it), so attribution stays correct
  // across the artifact's whole generation chain.
  private val ProvStride = 997L
  private val ProvOffset = 13L
  private val ProvK = 32L

  /** Map bare global token positions `req` (column `p`) through the
    * artifact's docspans roster and the given raw corpus to
    * (p, seq_id, doc_id, off, tok). Factored so IncrementalPackSpec
    * can assert attribution against hand-packed fixtures and across
    * fold generations. */
  private[graft] def attribute(s: SparkSession, req: DataFrame,
                               idxPath: String, docs: DataFrame): DataFrame = {
    val spans = s.read.parquet(s"$idxPath/docspans")
    val hits = spans.join(broadcast(req),
        col("p") >= col("start_off") &&
          col("p") < col("start_off") + col("n_tokens"))
      .select(col("p"), expr(s"p div $SeqLen").as("seq_id"), col("doc_id"),
        (col("p") - col("start_off")).as("off"))
    docs.join(broadcast(hits), "doc_id")
      .select(col("p"), col("seq_id"), col("doc_id"), col("off"),
        element_at(split(col("text"), " "),
          (col("off") + 1).cast("int")).as("tok"))
      .orderBy("p")
  }

  private def q151(s: SparkSession, dir: String): DataFrame = {
    val idx = corpusIndex(s, dir)
    // the audit request: a deterministic stride of global positions,
    // clipped to the artifact's own token total (state/, not the
    // corpus) — bare positions, exactly how a memorization-audit hit
    // list arrives
    val total = s.read.parquet(s"$idx/state").select("total_tokens")
    val req = s.range(ProvK)
      .select((col("id") * ProvStride + ProvOffset).as("p"))
      .crossJoin(broadcast(total))
      .filter(col("p") < col("total_tokens"))
      .select("p")
    attribute(s, req, idx, corpusDocs(s, dir))
  }

  // The oracle replays the pack offsets from raw documents (the plain
  // global cumsum), regenerates the same position stride, and resolves
  // each position by the containment join — a hash match proves the
  // artifact's roster attributes every audited position to exactly the
  // document, offset, and token a from-scratch repack analysis would.
  private val q151Sql =
    s"""WITH cdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),
      |n AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM cdocs),
      |c AS (
      |  SELECT doc_id, ts, n_tokens,
      |         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS start_off
      |  FROM n),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM n),
      |req AS (
      |  SELECT CAST(k * $ProvStride + $ProvOffset AS BIGINT) AS p
      |  FROM (SELECT unnest(range(0, $ProvK)) AS k) CROSS JOIN tot
      |  WHERE k * $ProvStride + $ProvOffset < total)
      |SELECT r.p, r.p // $SeqLen AS seq_id, c.doc_id,
      |       r.p - c.start_off AS off,
      |       c.ts[CAST(r.p - c.start_off + 1 AS INT)] AS tok
      |FROM req r JOIN c
      |  ON r.p >= c.start_off AND r.p < c.start_off + c.n_tokens
      |ORDER BY r.p""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q128_incremental_pack" -> ((s, dir) => q128(s, dir)),
    "q139_pack_takedown_audit" -> ((s, dir) => q139(s, dir)),
    "q145_pack_pad_rewrite" -> ((s, dir) => q145(s, dir)),
    "q146_pack_repack" -> ((s, dir) => q146(s, dir)),
    "q147_pack_takedown_fold" -> ((s, dir) => q147(s, dir)),
    "q148_pack_pad_fold" -> ((s, dir) => q148(s, dir)),
    "q149_takedown_branch_gate" -> ((s, dir) => q149(s, dir)),
    "q151_pack_provenance" -> ((s, dir) => q151(s, dir)),
  )

  override def oracle: Map[String, String] = Map(
    "q128_incremental_pack" -> q128Sql,
    "q139_pack_takedown_audit" -> q139Sql,
    "q145_pack_pad_rewrite" -> q145Sql,
    "q146_pack_repack" -> q146Sql,
    "q147_pack_takedown_fold" -> q147Sql,
    "q148_pack_pad_fold" -> q148Sql,
    "q149_takedown_branch_gate" -> q149Sql,
    "q151_pack_provenance" -> q151Sql,
  )
}
