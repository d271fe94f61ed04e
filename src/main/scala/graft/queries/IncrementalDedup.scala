package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Artifacts, QueryModule, Tables}

/** q84 — INCREMENTAL DEDUP AGAINST A PERSISTED CORPUS INDEX: the
  * production intake shape. A 100 TB corpus is deduped ONCE (q31/q33's
  * offline passes); every following day only a small shard arrives, and
  * rescanning the corpus to admit it would cost a full corpus pass per
  * day. Instead the corpus's dedup STATE is persisted as a fingerprinted
  * artifact — the q78/q79 train-once/serve-many split applied to the
  * dedup family (reference anchor: the watermark-driven incremental
  * contract of /root/reference/nikon_ETL.py:425-499, where only new
  * slices are processed against persisted state):
  *
  *  - `exact/`  — (h, keeper): md5 content hash of every DISTINCT corpus
  *    text with its canonical doc (q31's exact-dedup state). One row per
  *    distinct text, not per doc.
  *  - `bands/`  — DISTINCT (band, bandkey) MinHash/LSH band keys of the
  *    corpus ([[Dedup.minhashBandsOf]], the q33 signature definition).
  *    Membership-only: no bucket member lists, so no caps are needed and
  *    a boilerplate mega-bucket costs ONE index row.
  *
  * Serving (q84) touches the ARTIFACT and the staged shard ONLY — the
  * corpus documents table is never rescanned (PlanSpec-asserted). Each
  * shard doc gets a verdict with first-match precedence:
  *    exact_dup_corpus (hash hits the index; keeper reported) >
  *    exact_dup_batch  (hash duplicated within the shard; min doc_id
  *                      keeps) >
  *    neardup_corpus   (shares ≥1 LSH band key with the corpus — the
  *                      standard candidate criterion served from
  *                      membership alone; a production pipeline wanting
  *                      exact-Jaccard confirmation would fetch the ≤
  *                      cap-bounded candidate signatures, which is
  *                      shard-proportional, never corpus-proportional) >
  *    kept.
  *
  * Scale shape: the shard relation is small by definition (a day's
  * intake); the two index relations are corpus-scale but BOTH joins
  * against them are single equi-/semi-joins on uniform md5-derived keys
  * — one pass over the index, no windows, no member buffers. On a real
  * deployment the artifact would be written as a bucketed table on `h` /
  * `(band, bandkey)` so daily serving co-locates without reshuffling the
  * index; parquet-without-metastore cannot express bucketing, so the
  * join-side exchange stands in for it here.
  *
  * [[ingest]] closes the loop: kept shard docs are folded into a NEW
  * artifact generation (temp + atomic rename, marker-last — the q78
  * publication contract), after which replaying the SAME shard keeps
  * nothing and a re-ingest reproduces a content-identical index
  * (IncrementalDedupSpec's idempotency contract).
  *
  * The staged shard is [[Intake.shard]]'s intake mix: the day's new
  * pages, a twice re-keyed re-crawl of corpus pages (exact corpus dups)
  * and a double-submitted slice of the new pages (within-shard dups).
  */
object IncrementalDedup extends QueryModule {

  private[graft] def indexPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/dedup-${Intake.dataFingerprint(s, dir)}"
  private[graft] def shardPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/dedup-shard-${Intake.dataFingerprint(s, dir)}"

  private def texts(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id", "text")

  /** Offline: persist the corpus's exact-hash state and LSH band-key set. */
  private[graft] def buildIndex(s: SparkSession, dir: String): String =
    buildGenIndex(s, texts(s, dir).filter(Intake.corpus(col("doc_id"))), indexPath(s, dir))

  /** Stage the day's intake shard as its own artifact (in production the
    * shard ARRIVES as files; staging it keeps q84's serving plan free of
    * any documents-table scan, which PlanSpec asserts). */
  private[graft] def stageShard(s: SparkSession, dir: String): String =
    Artifacts.publish(s, shardPath(s, dir)) { tmp =>
      val all = texts(s, dir)
      Intake.assertRekeyDisjoint(all, "dedup")
      Intake.shard(all).write.mode("overwrite").parquet(s"$tmp/docs")
    }

  /** Online: verdict every shard doc against the index ONLY. */
  private[graft] def verdictsAgainst(s: SparkSession, shard: DataFrame,
                                     idxPath: String): DataFrame =
    verdictsCore(shard,
      s.read.parquet(s"$idxPath/exact").withColumnRenamed("keeper", "corpus_keeper"),
      s.read.parquet(s"$idxPath/bands"))

  /** [[verdictsAgainst]] against a WINDOW of index generations: exact
    * hashes union with the earliest keeper winning (a hash present in
    * two live generations cites one keeper deterministically), band
    * sets union as plain membership. The q162 retention serve's core. */
  private[graft] def verdictsWindow(s: SparkSession, shard: DataFrame,
                                    idxPaths: Seq[String]): DataFrame =
    verdictsCore(shard,
      idxPaths.map(p => s.read.parquet(s"$p/exact")).reduce(_ unionByName _)
        .groupBy("h").agg(min(col("keeper")).as("corpus_keeper")),
      idxPaths.map(p => s.read.parquet(s"$p/bands")).reduce(_ unionByName _)
        .distinct())

  private def verdictsCore(shard: DataFrame, exactIdx: DataFrame,
                           bandsIdx: DataFrame): DataFrame = {
    val hashed = shard.withColumn("h", md5(col("text")))
    val shardKeep = hashed.groupBy("h").agg(min(col("doc_id")).as("bkeeper"))
    val near = Dedup.minhashBandsOf(shard)
      .join(bandsIdx, Seq("band", "bandkey"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("near", lit(true))
    hashed
      .join(exactIdx, Seq("h"), "left")
      .join(shardKeep, "h")
      .join(near, Seq("doc_id"), "left")
      .withColumn("verdict",
        when(col("corpus_keeper").isNotNull, "exact_dup_corpus")
          .when(col("doc_id") =!= col("bkeeper"), "exact_dup_batch")
          .when(col("near").isNotNull, "neardup_corpus")
          .otherwise("kept"))
      .withColumn("keep", col("verdict") === "kept")
      .select("doc_id", "verdict", "keep", "corpus_keeper")
      .orderBy("doc_id")
  }

  /** Fold the shard's kept docs into a new index generation at `outPath`.
    * Kept docs' hashes are disjoint from the index (else they would be
    * exact_dup_corpus) and unique within the shard (else exact_dup_batch),
    * so the union is conflict-free; replaying the same shard against the
    * new generation keeps nothing, making re-ingest a content no-op. */
  private[graft] def ingest(s: SparkSession, shard: DataFrame,
                            idxPath: String, outPath: String): String =
    Artifacts.publish(s, outPath) { tmp =>
      val kept = shard.join(
        verdictsAgainst(s, shard, idxPath).filter(col("keep")).select("doc_id"), "doc_id")
      s.read.parquet(s"$idxPath/exact")
        .unionByName(kept.select(md5(col("text")).as("h"), col("doc_id").as("keeper")))
        .write.mode("overwrite").parquet(s"$tmp/exact")
      s.read.parquet(s"$idxPath/bands")
        .unionByName(Dedup.minhashBandsOf(kept.select("doc_id", "text"))
          .select("band", "bandkey"))
        .distinct()
        .write.mode("overwrite").parquet(s"$tmp/bands")
    }

  private def q84(s: SparkSession, dir: String): DataFrame = {
    val idx = buildIndex(s, dir)       // offline, cached by fingerprint
    val shard = stageShard(s, dir)     // the day's intake, as files
    verdictsAgainst(s, s.read.parquet(s"$shard/docs"), idx)
  }

  // ---------------------------------------------------------------------
  // q142 — DEDUP-INDEX TAKEDOWN (redact, don't re-admit): the removal
  // contract for the hash-state families, completing the census —
  // lexical/vector tombstone (q133/q136), pack rewrite-audit (q139),
  // and now the dedup state. A removed doc appears in this index only
  // as a KEEPER reference in `exact/`; the committed policy is
  // REDACTION, not deletion: dropping the hash row would re-admit the
  // next crawl of the removed content (the content the request wants
  // gone would re-enter the corpus through the front door), so the
  // hash stays and blocks — but the verdict must stop CITING the
  // removed doc's id (serving a takedown target's identity in every
  // dup verdict is itself a leak). `bands/` is membership-only (no doc
  // ids), so it carries nothing to redact — the near-dup probe is
  // already takedown-clean by construction.
  //
  // Mechanics: the tombstone generation is the q133 shape (`ids/` =
  // request ∩ the index's own keeper roster — the corpus is never
  // read); serving is q84's verdict plan plus ONE broadcast left join
  // on the keeper id that nulls corpus_keeper for redacted rows —
  // verdicts, keeps, and every non-request row are bit-identical to
  // q84's (the oracle proves it: q84's composed ground truth with a
  // CASE redaction on the cited keeper).
  //
  // The same redaction contract transfers verbatim to the other two
  // hash-state families (media q101, prepare q102): their exact/
  // relations cite keepers the same way and their band relations are
  // id-free, so one policy covers the trio; q142 lands it on the
  // family whose verdict relation the ledger and specs already audit.
  private[graft] def tombPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/dedup-tomb-${Intake.dataFingerprint(s, dir)}"

  /** Publish the redaction tombstone under `outBase`: the request
    * priced against the index's own keeper roster (unknown ids drop —
    * the q133 contract; [[Artifacts.tombstone]]). */
  private[graft] def takedown(s: SparkSession, ids: DataFrame,
                              idxPath: String, outBase: String): String =
    Artifacts.tombstone(s,
      s.read.parquet(s"$idxPath/exact").select(col("keeper").as("doc_id")), ids, outBase)

  private def q142(s: SparkSession, dir: String): DataFrame = {
    val idx = buildIndex(s, dir)
    val shard = stageShard(s, dir)
    val t = takedown(s,
      s.read.parquet(s"$idx/exact").select(col("keeper").as("doc_id"))
        .filter(Intake.requested(col("doc_id"))),
      idx, tombPath(s, dir))
    Intake.redacted(s, verdictsAgainst(s, s.read.parquet(s"$shard/docs"), idx),
      "corpus_keeper", Seq(t))
  }

  // The oracle recomputes the COMPOSED (corpus ∪ shard) ground truth from
  // the raw documents table — it never sees the artifact, so a hash match
  // proves the index-only serving path reproduces exactly what a full
  // corpus rescan would conclude. Band keys replay the q33 signature SQL.
  private val q84Sql =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),
      |shard AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 20 = 4),
      |alldocs AS (SELECT doc_id, text FROM corpus UNION ALL SELECT doc_id, text FROM shard),
      |mh_toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM alldocs WHERE len(string_split(text, ' ')) >= 2),
      |mh_sh AS (SELECT DISTINCT doc_id, unnest([ts[i] || ' ' || ts[i + 1] for i in range(1, len(ts))]) AS shingle FROM mh_toks),
      |grps AS (SELECT CAST(unnest(range(${Dedup.NumHashes / Dedup.BandSize})) AS INT) AS band),
      |sig AS (
      |  SELECT doc_id, band,
      |         MIN(substring(md5(band::VARCHAR || ':' || shingle), 1, 8)) AS w0,
      |         MIN(substring(md5(band::VARCHAR || ':' || shingle), 9, 8)) AS w1,
      |         MIN(substring(md5(band::VARCHAR || ':' || shingle), 17, 8)) AS w2,
      |         MIN(substring(md5(band::VARCHAR || ':' || shingle), 25, 8)) AS w3
      |  FROM mh_sh CROSS JOIN grps GROUP BY doc_id, band),
      |bands AS (
      |  SELECT doc_id, band, md5(w0 || '|' || w1 || '|' || w2 || '|' || w3) AS bandkey
      |  FROM sig),
      |cb AS (SELECT DISTINCT b.band, b.bandkey FROM bands b JOIN corpus c ON b.doc_id = c.doc_id),
      |bb AS (SELECT b.doc_id, b.band, b.bandkey FROM bands b JOIN shard x ON b.doc_id = x.doc_id),
      |near AS (SELECT DISTINCT bb.doc_id FROM bb JOIN cb ON bb.band = cb.band AND bb.bandkey = cb.bandkey),
      |ch AS (SELECT md5(text) AS h, MIN(doc_id) AS keeper FROM corpus GROUP BY 1),
      |sh AS (SELECT doc_id, md5(text) AS h FROM shard),
      |skeep AS (SELECT h, MIN(doc_id) AS bkeeper FROM sh GROUP BY h),
      |verdicts AS (
      |  SELECT s.doc_id,
      |         CASE WHEN c.keeper IS NOT NULL THEN 'exact_dup_corpus'
      |              WHEN s.doc_id <> k.bkeeper THEN 'exact_dup_batch'
      |              WHEN n.doc_id IS NOT NULL THEN 'neardup_corpus'
      |              ELSE 'kept' END AS verdict,
      |         c.keeper AS corpus_keeper
      |  FROM sh s
      |  LEFT JOIN ch c ON s.h = c.h
      |  JOIN skeep k ON s.h = k.h
      |  LEFT JOIN near n ON s.doc_id = n.doc_id)
      |SELECT doc_id, verdict, verdict = 'kept' AS keep, corpus_keeper
      |FROM verdicts ORDER BY doc_id""".stripMargin

  // q142's oracle: q84's composed ground truth with the CASE redaction
  // on the cited keeper — every roster keeper matching the request
  // arithmetic redacts; everything else is q84 verbatim, so a hash
  // match proves redaction touches ONLY the citation column.
  private val q142Sql = q84Sql.replace(
    "SELECT doc_id, verdict, verdict = 'kept' AS keep, corpus_keeper",
    """SELECT doc_id, verdict, verdict = 'kept' AS keep,
      |       CASE WHEN corpus_keeper % 7 = 3 THEN NULL ELSE corpus_keeper END AS corpus_keeper"""
      .stripMargin)
  require(q142Sql != q84Sql, "q142 oracle redaction splice did not fire")

  // ---------------------------------------------------------------------
  // q162 — RETENTION-WINDOW (TTL) DEDUP SERVE (L124): the dedup index's
  // generations become a RETENTION policy. Full-history dedup (q84)
  // blocks content forever; real corpora carry reasons to let content
  // expire — licensed data whose window lapsed, news whose re-crawl
  // after N months is a legitimate new document, a GDPR-adjacent
  // retention limit on the hash state itself. With per-era generations,
  // expiry is PHYSICAL: the serve unions only the LIVE window's
  // generations (retired eras simply drop out of the union — no state
  // rewrite, the exact inverse of the additive intake), and a doc whose
  // only prior copy lives in a retired era is admitted again. The
  // relation reports the window verdict PLUS the audit bit compliance
  // wants: `readmitted` — kept now, but the retired era would have
  // blocked it (exact hash or band hit in era 0) — so every expiry
  // decision is visible, not silent.
  //
  // Fixture eras: the corpus splits by doc_id parity (era 0 = retired,
  // era 1 = live); the day's shard is q84's. The shard's re-keyed
  // copies of % 10 = 0 docs duplicate ERA-0 content (even ids), so the
  // readmission path is non-vacuously exercised on the driver corpus.
  //
  // Scale shape: q84's serving plan with the exact relation unioned
  // across the window (one vocab... hash-keyed groupBy to pick the
  // earliest keeper) and band membership unioned distinct; the
  // era-0 audit is two semi-joins against the retired artifacts. The
  // corpus is never read at serve time (generations + staged shard
  // only); windowing is O(live generations), retirement is free.
  private[graft] def genPath(s: SparkSession, dir: String, tag: String): String =
    s"${Artifacts.root}/dedupe$tag-${Intake.dataFingerprint(s, dir)}"

  /** One index generation from the given docs: the corpus for
    * [[buildIndex]], one era for q162. */
  private[graft] def buildGenIndex(s: SparkSession, docs: DataFrame,
                                   path: String): String =
    Artifacts.publish(s, path) { tmp =>
      Intake.assertRekeyDisjoint(docs, "dedup")
      docs.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keeper"))
        .write.mode("overwrite").parquet(s"$tmp/exact")
      Dedup.minhashBandsOf(docs)
        .select("band", "bandkey").distinct()
        .write.mode("overwrite").parquet(s"$tmp/bands")
    }

  private def q162(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val g0 = buildGenIndex(s,
      texts(s, dir).filter(Intake.corpus(id) && Intake.era(id, 0)), genPath(s, dir, "0"))
    val g1 = buildGenIndex(s,
      texts(s, dir).filter(Intake.corpus(id) && Intake.era(id, 1)), genPath(s, dir, "1"))
    val shard = s.read.parquet(s"${stageShard(s, dir)}/docs")
    val win = verdictsWindow(s, shard, Seq(g1)) // era 0 retired
    // the audit bit: would the retired era have blocked it?
    val hashed = shard.select(col("doc_id"), md5(col("text")).as("h"))
    val exact0 = hashed
      .join(s.read.parquet(s"$g0/exact").select("h"), Seq("h"), "left_semi")
      .select("doc_id")
    val near0 = Dedup.minhashBandsOf(shard)
      .join(s.read.parquet(s"$g0/bands"), Seq("band", "bandkey"), "left_semi")
      .select("doc_id").distinct()
    val blocked0 = exact0.unionByName(near0).distinct()
      .withColumn("b0", lit(true))
    win.join(blocked0, Seq("doc_id"), "left")
      .withColumn("readmitted", col("keep") && coalesce(col("b0"), lit(false)))
      .select("doc_id", "verdict", "keep", "corpus_keeper", "readmitted")
      .orderBy("doc_id")
  }

  // The oracle replays the WINDOWED verdict from raw documents (q84's
  // CTE stack with corpus := the live era only) plus the retired era's
  // exact/band membership for the readmission bit — never seeing any
  // artifact. A hash match proves retirement serves exactly as if the
  // retired era had never been ingested, while the audit column
  // accounts for every expiry-enabled admission.
  private val q162Sql =
    s"""WITH corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4 AND doc_id % 2 = 1),
      |era0 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4 AND doc_id % 2 = 0),
      |shard AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 20 = 4),
      |alldocs AS (
      |  SELECT doc_id, text FROM corpus
      |  UNION ALL SELECT doc_id, text FROM shard
      |  UNION ALL SELECT doc_id, text FROM era0),
      |mh_toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM alldocs WHERE len(string_split(text, ' ')) >= 2),
      |mh_sh AS (SELECT DISTINCT doc_id, unnest([ts[i] || ' ' || ts[i + 1] for i in range(1, len(ts))]) AS shingle FROM mh_toks),
      |grps AS (SELECT CAST(unnest(range(${Dedup.NumHashes / Dedup.BandSize})) AS INT) AS band),
      |sig AS (
      |  SELECT doc_id, band,
      |         MIN(substring(md5(band::VARCHAR || ':' || shingle), 1, 8)) AS w0,
      |         MIN(substring(md5(band::VARCHAR || ':' || shingle), 9, 8)) AS w1,
      |         MIN(substring(md5(band::VARCHAR || ':' || shingle), 17, 8)) AS w2,
      |         MIN(substring(md5(band::VARCHAR || ':' || shingle), 25, 8)) AS w3
      |  FROM mh_sh CROSS JOIN grps GROUP BY doc_id, band),
      |bands AS (
      |  SELECT doc_id, band, md5(w0 || '|' || w1 || '|' || w2 || '|' || w3) AS bandkey
      |  FROM sig),
      |cb AS (SELECT DISTINCT b.band, b.bandkey FROM bands b JOIN corpus c ON b.doc_id = c.doc_id),
      |c0 AS (SELECT DISTINCT b.band, b.bandkey FROM bands b JOIN era0 e ON b.doc_id = e.doc_id),
      |bb AS (SELECT b.doc_id, b.band, b.bandkey FROM bands b JOIN shard x ON b.doc_id = x.doc_id),
      |near AS (SELECT DISTINCT bb.doc_id FROM bb JOIN cb ON bb.band = cb.band AND bb.bandkey = cb.bandkey),
      |near0 AS (SELECT DISTINCT bb.doc_id FROM bb JOIN c0 ON bb.band = c0.band AND bb.bandkey = c0.bandkey),
      |ch AS (SELECT md5(text) AS h, MIN(doc_id) AS keeper FROM corpus GROUP BY 1),
      |e0h AS (SELECT DISTINCT md5(text) AS h FROM era0),
      |sh AS (SELECT doc_id, md5(text) AS h FROM shard),
      |skeep AS (SELECT h, MIN(doc_id) AS bkeeper FROM sh GROUP BY h),
      |verdicts AS (
      |  SELECT s.doc_id,
      |         CASE WHEN c.keeper IS NOT NULL THEN 'exact_dup_corpus'
      |              WHEN s.doc_id <> k.bkeeper THEN 'exact_dup_batch'
      |              WHEN n.doc_id IS NOT NULL THEN 'neardup_corpus'
      |              ELSE 'kept' END AS verdict,
      |         c.keeper AS corpus_keeper,
      |         e0.h IS NOT NULL OR n0.doc_id IS NOT NULL AS blocked0
      |  FROM sh s
      |  LEFT JOIN ch c ON s.h = c.h
      |  JOIN skeep k ON s.h = k.h
      |  LEFT JOIN near n ON s.doc_id = n.doc_id
      |  LEFT JOIN e0h e0 ON s.h = e0.h
      |  LEFT JOIN near0 n0 ON s.doc_id = n0.doc_id)
      |SELECT doc_id, verdict, verdict = 'kept' AS keep, corpus_keeper,
      |       verdict = 'kept' AND blocked0 AS readmitted
      |FROM verdicts ORDER BY doc_id""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q84_incremental_dedup" -> ((s, dir) => q84(s, dir)),
    "q142_dedup_takedown"   -> ((s, dir) => q142(s, dir)),
    "q162_retention_dedup"  -> ((s, dir) => q162(s, dir)),
  )

  override def oracle: Map[String, String] = Map(
    "q84_incremental_dedup" -> q84Sql,
    "q142_dedup_takedown"   -> q142Sql,
    "q162_retention_dedup"  -> q162Sql,
  )
}
