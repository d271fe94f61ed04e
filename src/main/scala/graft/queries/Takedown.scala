package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryModule

/** q140 — CROSS-FAMILY TAKEDOWN COMPLIANCE LEDGER: the governance
  * relation a removal request actually produces in a 2026 training-data
  * pipeline. One bare-id request ([[Intake.requested]]: the fixture
  * arithmetic every takedown operator shares) arrives from
  * user-ops/legal knowing NOTHING about which artifacts hold the data;
  * the ledger prices it against every persisted family's own roster
  * and states, per family, the mechanism that honors it and the rows
  * it touches:
  *
  *  - `dedup / redact`       — q142's contract on the q84 index: the
  *    hash rows stay (removed content keeps BLOCKING — re-admission
  *    would bring it back through the front door), the keeper
  *    citations null; rows redacted = docs priced, structurally (one
  *    text per doc ⇒ at most one kept hash per doc).
  *  - `media / redact` and `prepare / redact` — the q142 contract
  *    carried to the other two hash-state families by q143/q144: the
  *    perceptual/cleaned hashes stay blocking, the keeper citations
  *    null; one media payload (resp. one cleaned text) per doc makes
  *    rows redacted = docs priced structurally, exactly as for dedup.
  *  - `contain / redact`     — q182's contract on the q179 containment
  *    index (the seventh family): the shingle state keeps blocking, the
  *    min-container citations null; one sets row per doc makes rows
  *    redacted = docs priced structurally, as for the hash trio.
  *  - `lexical / tombstone`  — q133's contract on the q131 index:
  *    n_priced = request ∩ the doclens roster, n_rows = the postings
  *    rows the tombstone anti-join masks.
  *  - `vector / tombstone`   — q136's contract on the q79 index:
  *    n_priced = request ∩ the code roster, n_rows = the code rows
  *    masked (PqM per vector).
  *  - `graphann / tombstone` — q189's contract on the q188 graph index
  *    (the eighth family): edges are per-vector rows, so n_priced =
  *    request ∩ the vectors roster and n_rows = the adjacency rows the
  *    tombstone anti-join masks (any row with a priced endpoint).
  *  - `pack / pad_rewrite` and `pack / repack` — q139's contract on the
  *    packed corpus, where a tombstone is IMPOSSIBLE (global token
  *    positions): the two rewrite options priced from the docspans
  *    roster — sequences holding removed tokens (pad-rewrite set) and
  *    everything from the first hit onward (repack set).
  *
  * This is the relation a compliance review diffs before sign-off: it
  * proves the request was priced on every surface (the q138 serving
  * mask is the enforcement; this is the audit trail), and it makes the
  * pack family's gate-upstream contract VISIBLE — its rows cost
  * rewrites, not masks.
  *
  * Everything reads the artifacts' own rosters — the raw corpus and
  * embeddings tables are never touched (PlanSpec), exactly the
  * q133/q136/q139 discipline. Every count is a bounded one-row
  * aggregate over a roster ⋈ broadcast-request join; the ledger is 9
  * rows at any corpus size — one per (family, mechanism) across all
  * eight persisted families.
  *
  * The oracle recomputes each family's pricing from the RAW tables
  * (documents token explode for postings rows, embeddings × PqM for
  * code rows, the q139 cumsum replay for the pack sets) — a hash match
  * proves the artifact rosters price the request exactly as a
  * from-scratch audit would.
  */
object Takedown extends QueryModule {

  private val SeqLen = IncrementalPack.SeqLen

  private def one(family: String, mechanism: String,
                  priced: DataFrame, rows: DataFrame): DataFrame =
    priced.crossJoin(rows).select(
      lit(family).as("family"), lit(mechanism).as("mechanism"),
      col("n_priced"), col("n_rows"))

  private def q140(s: SparkSession, dir: String): DataFrame = {
    // the hash-state trio (dedup q84, media q101, prepare q102): each
    // artifact's `exact/` keeper roster under the REDACTION contract
    // (q142/q143/q144): the hash rows stay (content keeps blocking),
    // the keeper citations null; a doc keeps at most one hash (one
    // text, one media payload, one cleaned text each), so rows
    // redacted = docs priced, structurally
    def redact(family: String, idx: String): DataFrame = {
      val exact = s.read.parquet(s"$idx/exact")
      val ids = exact.select(col("keeper").as("doc_id")).filter(Intake.requested(col("doc_id")))
      one(family, "redact",
        ids.agg(count(lit(1)).as("n_priced")),
        exact.join(broadcast(ids.select(col("doc_id").as("keeper"))), "keeper")
          .agg(count(lit(1)).as("n_rows")))
    }
    val ded = redact("dedup", IncrementalDedup.buildIndex(s, dir))
    val med = redact("media", IncrementalMediaDedup.buildIndex(s, dir))
    val prep = redact("prepare", IncrementalPrepare.buildIndex(s, dir))

    // contain: the q179 artifact's sets roster — q182's redaction
    // contract (the shingle state keeps blocking; the min-container
    // citations null; one sets row per doc ⇒ rows redacted = docs
    // priced, structurally — the dedup-row arithmetic)
    val containIdx = IncrementalContain.buildIndex(s, dir)
    val cSets = s.read.parquet(s"$containIdx/sets")
    val cIds = cSets.select("doc_id").filter(Intake.requested(col("doc_id")))
    val con = one("contain", "redact",
      cIds.agg(count(lit(1)).as("n_priced")),
      cSets.join(broadcast(cIds), "doc_id").agg(count(lit(1)).as("n_rows")))

    // lexical: the q131 artifact's roster and postings
    val lexIdx = LexIndex.fullIndex(s, dir)
    val lexIds = s.read.parquet(s"$lexIdx/doclens")
      .select("doc_id").filter(Intake.requested(col("doc_id")))
    val lex = one("lexical", "tombstone",
      lexIds.agg(count(lit(1)).as("n_priced")),
      s.read.parquet(s"$lexIdx/postings").join(broadcast(lexIds), "doc_id")
        .agg(count(lit(1)).as("n_rows")))

    // vector: the q79 artifact's code roster
    val codes = s.read.parquet(s"${Similarity.buildPqIndex(s, dir)}/codes")
    val vecIds = codes.select("vec_id").distinct().filter(Intake.requested(col("vec_id")))
    val vec = one("vector", "tombstone",
      vecIds.agg(count(lit(1)).as("n_priced")),
      codes.join(broadcast(vecIds), "vec_id").agg(count(lit(1)).as("n_rows")))

    // graphann: the q188 artifact's vectors roster — q189's subtractive
    // contract: edges are per-vector rows, so the masked rows are
    // exactly the adjacency rows with a priced endpoint (src or dst)
    val gannIdx = IncrementalGraphAnn.servingIndex(s, dir)
    val gVecs = s.read.parquet(s"$gannIdx/vectors")
    val gann = one("graphann", "tombstone",
      gVecs.select("vec_id").filter(Intake.requested(col("vec_id")))
        .agg(count(lit(1)).as("n_priced")),
      s.read.parquet(s"$gannIdx/adj")
        .filter(Intake.requested(col("src")) || Intake.requested(col("dst")))
        .agg(count(lit(1)).as("n_rows")))

    // pack: the q139 audit's two rewrite sets from the docspans roster
    val packIdx = IncrementalPack.corpusIndex(s, dir)
    val spans = s.read.parquet(s"$packIdx/docspans")
    val tombSpans = spans.filter(Intake.requested(col("doc_id")))
    val packPriced = tombSpans.agg(count(lit(1)).as("n_priced"))
    val hitSeqs = tombSpans
      .select(explode(expr("sequence(first_seq, last_seq)")).as("seq_id"))
      .distinct()
    val state = s.read.parquet(s"$packIdx/state")
    val allSeqs = s.read.parquet(s"$packIdx/seqs").select("seq_id")
      .unionByName(state.filter(col("total_tokens") % SeqLen > 0)
        .select(expr(s"total_tokens div $SeqLen").as("seq_id")))
    val firstHit = hitSeqs.agg(min(col("seq_id")).as("first_hit"))
    val pad = one("pack", "pad_rewrite", packPriced,
      hitSeqs.agg(count(lit(1)).as("n_rows")))
    val repack = one("pack", "repack", packPriced,
      allSeqs.crossJoin(broadcast(firstHit))
        .filter(col("first_hit").isNotNull && col("seq_id") >= col("first_hit"))
        .agg(count(lit(1)).as("n_rows")))

    con.unionByName(ded).unionByName(gann).unionByName(lex).unionByName(med)
      .unionByName(prep).unionByName(pad).unionByName(repack).unionByName(vec)
      .orderBy("family", "mechanism")
  }

  private val q140Sql =
    s"""WITH ${IncrementalMediaDedup.oracleHashCtes},
      |${IncrementalPrepare.oracleCexCtes},
      |${Similarity.quantSqlCte},
      |${IncrementalGraphAnn.graphStateSqlCtes},
      |gp AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_priced FROM embeddings WHERE vec_id % 7 = 3),
      |gr AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM iadj
      |  WHERE src % 7 = 3 OR dst % 7 = 3),
      |mcex AS (
      |  SELECT media_type, fhash, MIN(doc_id) AS keeper
      |  FROM hash WHERE doc_id % 5 <> 4 GROUP BY 1, 2),
      |mp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_priced FROM mcex WHERE keeper % 7 = 3),
      |prp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_priced FROM cex WHERE keeper % 7 = 3),
      |cn AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_priced FROM documents
      |  WHERE doc_id % 5 <> 4 AND doc_id % 7 = 3
      |    AND len(string_split(text, ' ')) >= 2),
      |dkeep AS (
      |  SELECT md5(text) AS h, MIN(doc_id) AS keeper
      |  FROM documents WHERE doc_id % 5 <> 4 GROUP BY 1),
      |dp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_priced FROM dkeep WHERE keeper % 7 = 3),
      |lids AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 3),
      |lp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_priced FROM lids),
      |lr AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM (
      |    SELECT DISTINCT doc_id, tok FROM (
      |      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM lids))),
      |vp AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_priced FROM embeddings WHERE vec_id % 7 = 3),
      |pdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),
      |pn AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM pdocs),
      |pc AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS start_off
      |  FROM pn),
      |pspans AS (
      |  SELECT doc_id, start_off // $SeqLen AS first_seq,
      |         (start_off + n_tokens - 1) // $SeqLen AS last_seq
      |  FROM pc),
      |pp AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_priced FROM pspans WHERE doc_id % 7 = 3),
      |phit AS (
      |  SELECT DISTINCT unnest(range(first_seq, last_seq + 1)) AS seq_id
      |  FROM pspans WHERE doc_id % 7 = 3),
      |ptot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM pn),
      |pnseq AS (SELECT (total + ${SeqLen - 1}) // $SeqLen AS n_seqs FROM ptot),
      |ppad AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM phit),
      |prepack AS (
      |  SELECT CASE WHEN (SELECT COUNT(*) FROM phit) = 0 THEN CAST(0 AS BIGINT)
      |         ELSE CAST(n.n_seqs - (SELECT MIN(seq_id) FROM phit) AS BIGINT) END AS n_rows
      |  FROM pnseq n)
      |SELECT 'contain' AS family, 'redact' AS mechanism, cn.n_priced, cn.n_priced AS n_rows
      |FROM cn
      |UNION ALL
      |SELECT 'dedup', 'redact', dp.n_priced, dp.n_priced AS n_rows
      |FROM dp
      |UNION ALL
      |SELECT 'graphann', 'tombstone', gp.n_priced, gr.n_rows
      |FROM gp, gr
      |UNION ALL
      |SELECT 'lexical', 'tombstone', lp.n_priced, lr.n_rows
      |FROM lp, lr
      |UNION ALL
      |SELECT 'media', 'redact', mp.n_priced, mp.n_priced AS n_rows FROM mp
      |UNION ALL
      |SELECT 'prepare', 'redact', prp.n_priced, prp.n_priced AS n_rows FROM prp
      |UNION ALL
      |SELECT 'pack', 'pad_rewrite', pp.n_priced, ppad.n_rows FROM pp, ppad
      |UNION ALL
      |SELECT 'pack', 'repack', pp.n_priced, prepack.n_rows FROM pp, prepack
      |UNION ALL
      |SELECT 'vector', 'tombstone', vp.n_priced,
      |       CAST(${Similarity.PqM} * vp.n_priced AS BIGINT) AS n_rows
      |FROM vp
      |ORDER BY family, mechanism""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q140_takedown_ledger" -> ((s, dir) => q140(s, dir)),
  )

  override def oracle: Map[String, String] = Map(
    "q140_takedown_ledger" -> q140Sql,
  )
}
