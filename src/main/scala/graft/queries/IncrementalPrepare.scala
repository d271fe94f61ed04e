package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Artifacts, QueryModule, Tables}

/** q102 — INCREMENTAL CORPUS-PREPARE INTAKE: the q84 artifact pattern
  * applied to the PREPARE family, completing its three production
  * shapes — batch end artifact (q96), streaming twin
  * (`streaming.Streams.corpusPrepare`), and now the artifact-served
  * daily batch intake (reference anchor: the watermark-driven
  * incremental contract of /root/reference/nikon_ETL.py:425-499). A
  * 100 TB corpus is prepared ONCE; each following day a small document
  * shard arrives and must be stripped, deduped, gated, and placed
  * WITHOUT re-aggregating segment document frequencies or rescanning
  * the corpus.
  *
  * The artifact (fingerprinted, marker-last — [[Artifacts.publish]]):
  *  - `segdf/` — the corpus's FULL (source, skey, df) segment
  *    document-frequency counts (not thresholded: counts are what
  *    ingest can accumulate; the boilerplate relation is the df ≥
  *    BoilerMinDf filter applied at serve time).
  *  - `exact/` — (clean_hash, keeper): md5 of every corpus doc's
  *    CLEANED text with its canonical doc — the q96 dedup state.
  *
  * Serving (q102) reads the artifact and the staged shard only
  * (PlanSpec: no documents scan). Each shard doc is stripped against
  * the FROZEN boilerplate generation (the same frozen-artifact
  * semantics as the streaming twin — new boilerplate born inside the
  * shard is the next offline re-prepare's business, the honest
  * incremental divergence), then verdicted first-failing-stage:
  *   empty_after_strip > exact_dup_corpus (cleaned hash hits the
  *   index; keeper reported) > exact_dup_batch (hash duplicated
  *   within the shard; min doc_id keeps) > too_short > kept,
  * and kept docs are placed by q92's permutation over the DAY'S kept
  * set — the intake writes its own shard generation; corpus-total
  * positions belong to the offline finalization.
  *
  * Scale shape: strip is the q90 explode + one (source, skey)
  * equi-join against the artifact (uniform fixed-width keys, no df
  * re-aggregation); the verdict adds two hash equi-joins; positions
  * run the two-phase prefix sum over the day's kept docs. The corpus
  * is never read. [[ingest]] folds kept docs forward: segdf counts
  * union-SUM (only admitted docs count toward future boilerplate),
  * exact unions the kept hashes — replaying the same shard then keeps
  * nothing and re-ingest is a content no-op (IncrementalPrepareSpec).
  */
object IncrementalPrepare extends QueryModule {

  private[graft] def indexPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/prep-${Intake.dataFingerprint(s, dir)}"
  private[graft] def shardPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/prep-shard-${Intake.dataFingerprint(s, dir)}"

  private def sourcedTexts(s: SparkSession, dir: String): DataFrame =
    Tables.documentsWide(s, dir).select("doc_id", "source", "text")

  private def withToksAndHash(cleaned: DataFrame): DataFrame = cleaned
    .withColumn("n_clean_toks",
      when(col("clean_text") === "", lit(0))
        .otherwise(size(split(col("clean_text"), " "))).cast("int"))
    .withColumn("clean_hash", md5(col("clean_text")))

  /** Offline: persist the corpus's segment-df counts and cleaned-hash
    * dedup state. Segment df and stripping both run HERE, once. */
  private[graft] def buildIndex(s: SparkSession, dir: String): String =
    Artifacts.publish(s, indexPath(s, dir)) { tmp =>
      val segs = Corpus.segmented(
        sourcedTexts(s, dir).filter(Intake.corpus(col("doc_id"))))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      try {
        val segdf = segs.groupBy("source", "skey")
          .agg(countDistinct(col("doc_id")).as("df"))
        segdf.write.mode("overwrite").parquet(s"$tmp/segdf")
        val boiler = s.read.parquet(s"$tmp/segdf").filter(col("df") >= Corpus.BoilerMinDf)
        withToksAndHash(Corpus.strippedAgainst(segs, boiler))
          .groupBy("clean_hash").agg(min(col("doc_id")).as("keeper"))
          .write.mode("overwrite").parquet(s"$tmp/exact")
      } finally segs.unpersist()
    }

  /** The q84 intake mix with source/text riding along: re-crawls keep
    * source + text under new ids, so they are exact corpus dups of the
    * CLEANED text. */
  private[graft] def stageShard(s: SparkSession, dir: String): String =
    Artifacts.publish(s, shardPath(s, dir)) { tmp =>
      val all = sourcedTexts(s, dir)
      Intake.assertRekeyDisjoint(all, "prepare")
      Intake.shard(all).write.mode("overwrite").parquet(s"$tmp/docs")
    }

  /** Online: strip + verdict + place every shard doc against the
    * artifact ONLY. */
  private[graft] def verdictsAgainst(s: SparkSession, shard: DataFrame,
                                     idxPath: String): DataFrame = {
    val boiler = s.read.parquet(s"$idxPath/segdf")
      .filter(col("df") >= Corpus.BoilerMinDf)
    val exactIdx = s.read.parquet(s"$idxPath/exact")
      .withColumnRenamed("keeper", "corpus_keeper")
    val cleaned = withToksAndHash(
      Corpus.strippedAgainst(Corpus.segmented(shard), boiler))
    val skeep = cleaned.groupBy("clean_hash").agg(min(col("doc_id")).as("bkeeper"))
    val ranked = cleaned
      .join(exactIdx, Seq("clean_hash"), "left")
      .join(skeep, "clean_hash")
      .withColumn("verdict",
        when(col("n_clean_toks") === 0, lit("empty_after_strip"))
          .when(col("corpus_keeper").isNotNull, lit("exact_dup_corpus"))
          .when(col("doc_id") =!= col("bkeeper"), lit("exact_dup_batch"))
          .when(col("n_clean_toks") < Corpus.MinCleanToks, lit("too_short"))
          .otherwise(lit("kept")))
    val placed = Corpus.shardPositions(
      ranked.filter(col("verdict") === "kept").select("doc_id"))
      .select("doc_id", "shard", "pos")
    ranked.select("doc_id", "n_segs", "n_kept", "n_clean_toks", "verdict", "corpus_keeper")
      .join(placed, Seq("doc_id"), "left")
      .orderBy("doc_id")
      .select("doc_id", "n_segs", "n_kept", "n_clean_toks", "verdict",
        "corpus_keeper", "shard", "pos")
  }

  /** Fold the shard's kept docs into a new artifact generation: segdf
    * counts union-SUM over the kept docs' segments (only admitted docs
    * count toward future boilerplate); exact unions the kept hashes
    * (disjoint from the index and unique within the shard by the
    * verdict's own definition). */
  private[graft] def ingest(s: SparkSession, shard: DataFrame,
                            idxPath: String, outPath: String): String =
    Artifacts.publish(s, outPath) { tmp =>
      val keptIds = verdictsAgainst(s, shard, idxPath)
        .filter(col("verdict") === "kept").select("doc_id")
      val kept = shard.join(keptIds, Seq("doc_id"), "left_semi")
      val keptSegs = Corpus.segmented(kept)
      s.read.parquet(s"$idxPath/segdf")
        .unionByName(keptSegs.groupBy("source", "skey")
          .agg(countDistinct(col("doc_id")).as("df")))
        .groupBy("source", "skey").agg(sum(col("df")).as("df"))
        .write.mode("overwrite").parquet(s"$tmp/segdf")
      val oldBoiler = s.read.parquet(s"$idxPath/segdf")
        .filter(col("df") >= Corpus.BoilerMinDf)
      s.read.parquet(s"$idxPath/exact")
        .unionByName(withToksAndHash(Corpus.strippedAgainst(keptSegs, oldBoiler))
          .join(keptIds, Seq("doc_id"), "left_semi")
          .select(col("clean_hash"), col("doc_id").as("keeper")))
        .write.mode("overwrite").parquet(s"$tmp/exact")
    }

  private def q102(s: SparkSession, dir: String): DataFrame = {
    val idx = buildIndex(s, dir)
    val shard = stageShard(s, dir)
    verdictsAgainst(s, s.read.parquet(s"$shard/docs"), idx)
  }

  // The oracle recomputes the composed ground truth from the raw
  // documents table — corpus segment df, corpus cleaned-hash state,
  // then the shard stripped against the CORPUS-frozen boilerplate and
  // verdicted — never seeing the artifact: a hash match proves
  // artifact-only serving reproduces the full recomputation.
  /** Oracle CTE chain `base`..`cex`: the corpus's boilerplate-stripped
    * cleaned-hash keeper roster in plain SQL — the shared prefix of
    * q102's oracle and the q140 ledger's prepare row. */
  private[graft] val oracleCexCtes: String = {
    val segLen = Corpus.BoilerSegLen
    val minDf = Corpus.BoilerMinDf
    s"""base AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS ts,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents),
      |corpus AS (SELECT * FROM base WHERE doc_id % 5 <> 4),
      |csegs AS (
      |  SELECT doc_id, source, CAST(seg_id AS INT) AS seg_id,
      |         array_to_string(ts[(seg_id * $segLen + 1):(seg_id * $segLen + $segLen)], ' ') AS seg
      |  FROM (SELECT doc_id, source, ts, unnest(range(0, (n - 1) // $segLen + 1)) AS seg_id FROM corpus)),
      |boiler AS (
      |  SELECT source, seg FROM csegs
      |  GROUP BY source, seg HAVING COUNT(DISTINCT doc_id) >= $minDf),
      |ccleaned AS (
      |  SELECT s.doc_id,
      |         COALESCE(string_agg(CASE WHEN b.seg IS NULL THEN s.seg END, ' ' ORDER BY s.seg_id), '') AS clean_text
      |  FROM csegs s LEFT JOIN boiler b ON s.source = b.source AND s.seg = b.seg
      |  GROUP BY s.doc_id),
      |cex AS (
      |  SELECT md5(clean_text) AS clean_hash, MIN(doc_id) AS keeper
      |  FROM ccleaned GROUP BY 1)""".stripMargin
  }

  private val q102Sql = {
    val segLen = Corpus.BoilerSegLen
    val minToks = Corpus.MinCleanToks
    val nShards = Corpus.NumShards
    s"""WITH $oracleCexCtes,
      |smap AS (
      |  SELECT doc_id AS new_id, doc_id AS src FROM documents WHERE doc_id % 5 = 4
      |  UNION ALL SELECT doc_id + 1000000, doc_id FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL SELECT doc_id + 2000000, doc_id FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL SELECT doc_id + 3000000, doc_id FROM documents WHERE doc_id % 20 = 4),
      |shardb AS (
      |  SELECT m.new_id AS doc_id, b.source, b.ts, b.n
      |  FROM smap m JOIN base b ON b.doc_id = m.src),
      |ssegs AS (
      |  SELECT doc_id, source, CAST(seg_id AS INT) AS seg_id,
      |         array_to_string(ts[(seg_id * $segLen + 1):(seg_id * $segLen + $segLen)], ' ') AS seg
      |  FROM (SELECT doc_id, source, ts, unnest(range(0, (n - 1) // $segLen + 1)) AS seg_id FROM shardb)),
      |scleaned AS (
      |  SELECT s.doc_id,
      |         CAST(COUNT(*) AS INT) AS n_segs,
      |         CAST(SUM(CASE WHEN b.seg IS NULL THEN 1 ELSE 0 END) AS INT) AS n_kept,
      |         COALESCE(string_agg(CASE WHEN b.seg IS NULL THEN s.seg END, ' ' ORDER BY s.seg_id), '') AS clean_text
      |  FROM ssegs s LEFT JOIN boiler b ON s.source = b.source AND s.seg = b.seg
      |  GROUP BY s.doc_id),
      |sscored AS (
      |  SELECT doc_id, n_segs, n_kept,
      |         CAST(CASE WHEN clean_text = '' THEN 0
      |              ELSE len(string_split(clean_text, ' ')) END AS INT) AS n_clean_toks,
      |         md5(clean_text) AS clean_hash
      |  FROM scleaned),
      |skeep AS (SELECT clean_hash, MIN(doc_id) AS bkeeper FROM sscored GROUP BY 1),
      |verdicts AS (
      |  SELECT s.doc_id, s.n_segs, s.n_kept, s.n_clean_toks,
      |         CASE WHEN s.n_clean_toks = 0 THEN 'empty_after_strip'
      |              WHEN c.keeper IS NOT NULL THEN 'exact_dup_corpus'
      |              WHEN s.doc_id <> k.bkeeper THEN 'exact_dup_batch'
      |              WHEN s.n_clean_toks < $minToks THEN 'too_short'
      |              ELSE 'kept' END AS verdict,
      |         c.keeper AS corpus_keeper
      |  FROM sscored s
      |  LEFT JOIN cex c ON s.clean_hash = c.clean_hash
      |  JOIN skeep k ON s.clean_hash = k.clean_hash),
      |keyed AS (
      |  SELECT doc_id,
      |         CAST('0x' || substring(md5('shard:' || doc_id), 1, 15) AS BIGINT) AS key
      |  FROM verdicts WHERE verdict = 'kept'),
      |placed AS (
      |  SELECT doc_id, CAST(key % $nShards AS INT) AS shard,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY key % $nShards ORDER BY key, doc_id) AS BIGINT) AS pos
      |  FROM keyed)
      |SELECT v.doc_id, v.n_segs, v.n_kept, v.n_clean_toks, v.verdict,
      |       v.corpus_keeper, p.shard, p.pos
      |FROM verdicts v LEFT JOIN placed p ON v.doc_id = p.doc_id
      |ORDER BY v.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q144 — PREPARE-INDEX TAKEDOWN: the redact-don't-re-admit contract
  // (q142/q143) on the third and last hash-state family, so EVERY
  // artifact family now carries an explicit removal operator (dedup
  // q142, media q143, prepare q144, pack q139, lexical q133, vector
  // q136 — priced together by the q140 ledger). A removed doc appears
  // here only as a cleaned-hash keeper citation; the hash stays (a
  // re-crawl of the removed page still verdicts exact_dup_corpus — the
  // content cannot re-enter), the citation nulls. `segdf/` is
  // (source, skey, df) counts — no doc ids, takedown-clean; shard/pos
  // placement keys on the SHARD's ids only. Tombstone = request ∩ the
  // keeper roster (IncrementalDedup.takedown over this index's
  // `exact/`, which has the dedup index's keeper shape); serving =
  // q102's plan + ONE broadcast left join.
  // Oracle = q102's composed ground truth with the CASE redaction.
  private[graft] def tombPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/prep-tomb-${Intake.dataFingerprint(s, dir)}"

  private def q144(s: SparkSession, dir: String): DataFrame = {
    val idx = buildIndex(s, dir)
    val shard = stageShard(s, dir)
    val t = IncrementalDedup.takedown(s,
      s.read.parquet(s"$idx/exact").select(col("keeper").as("doc_id"))
        .filter(Intake.requested(col("doc_id"))),
      idx, tombPath(s, dir))
    Intake.redacted(s, verdictsAgainst(s, s.read.parquet(s"$shard/docs"), idx),
      "corpus_keeper", Seq(t))
  }

  private val q144Sql = q102Sql.replace(
    "SELECT v.doc_id, v.n_segs, v.n_kept, v.n_clean_toks, v.verdict,\n      |       v.corpus_keeper, p.shard, p.pos".stripMargin,
    """SELECT v.doc_id, v.n_segs, v.n_kept, v.n_clean_toks, v.verdict,
      |       CASE WHEN v.corpus_keeper % 7 = 3 THEN NULL ELSE v.corpus_keeper END AS corpus_keeper,
      |       p.shard, p.pos""".stripMargin)
  require(q144Sql != q102Sql, "q144 oracle redaction splice did not fire")

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q102_incremental_prepare" -> ((s, dir) => q102(s, dir)),
    "q144_prepare_takedown"    -> ((s, dir) => q144(s, dir)),
  )

  override def oracle: Map[String, String] = Map(
    "q102_incremental_prepare" -> q102Sql,
    "q144_prepare_takedown"    -> q144Sql,
  )
}
