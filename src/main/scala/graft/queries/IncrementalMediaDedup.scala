package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Artifacts, QueryModule, Tables}
import graft.functions.Multimodal
import graft.functions.Multimodal.MediaRow

/** q101 — INCREMENTAL PERCEPTUAL-DEDUP INTAKE: the q84 production shape
  * applied to the media family (reference anchor: the watermark-driven
  * incremental contract of /root/reference/nikon_ETL.py:425-499 — only
  * new slices are processed against persisted state). A 100 TB media
  * corpus is perceptually deduped ONCE (q94/q95/q97's offline passes);
  * every following day only a small media shard arrives, and its
  * verdicts must come from a persisted ARTIFACT — never a corpus
  * rescan, and in particular never a corpus re-DECODE (at media scale
  * the decode dominates the scan; rescanning daily would re-pay it
  * daily).
  *
  * The artifact (fingerprinted, marker-last, q78's publication
  * contract via [[Artifacts.publish]]):
  *  - `exact/` — (media_type, fhash, keeper): the full perceptual hash
  *    of every DISTINCT corpus media item (image 64-bit aHash, audio
  *    32-bit envelope hash, video 128-bit keyframe signature) with its
  *    canonical doc. Hash-identity is each modality's exact-dup
  *    criterion (q97's contract).
  *  - `bands/` — DISTINCT (media_type, band, bk, fhash): the q94/q95
  *    band slices (image 8×8 bits, audio 4×8; video's single band IS
  *    the signature) carrying the member's full hash so serving can
  *    confirm candidates with the codegen'd Hamming verify — q84's
  *    membership-only bands suffice for MinHash (band equality ⇒
  *    candidate), but an 8-bit perceptual band has 256 values and
  *    equality alone would flag everything at corpus scale. Buckets
  *    with more than [[graft.queries.Dedup.BucketCap]] distinct hashes
  *    are DROPPED whole (the q94 discipline: saturated buckets are
  *    boilerplate; the exact path owns them), so per-key join fanout
  *    is bounded by construction.
  *
  * Serving (q101) touches the artifact and the staged shard ONLY
  * (PlanSpec asserts no documents-table scan). Shard payloads decode
  * through the CHECKED dead-letter path — a corrupt intake blob lands
  * `decode_ok = false` and simply gets no verdict row, never a stage
  * kill. Verdicts, first-match precedence (q84's ladder):
  *   exact_dup_corpus > exact_dup_batch (within-shard hash dup, min
  *   doc_id keeps) > neardup_corpus (shares a capped band bucket with
  *   a corpus hash within the modality's Hamming budget) > kept.
  *
  * Scale shape: the shard is small by definition; the serving plan is
  * three narrow per-partition codec maps over SHARD payloads plus
  * single equi-joins against the index on uniform fixed-width keys —
  * one pass over the index, no windows, no member buffers, corpus
  * media bytes never read. [[ingest]] folds kept hashes into a new
  * artifact generation (temp + atomic rename, marker-last) and
  * re-applies the bucket cap to the union, after which replaying the
  * same shard keeps nothing and re-ingest is a content no-op
  * (IncrementalMediaDedupSpec).
  *
  * The staged shard is [[Intake.shard]]'s mix over (doc_id, src):
  * genuinely new media (own content), twice re-keyed re-crawls of
  * corpus media carrying the SOURCE doc's content (`src` rides along —
  * perceptual-exact corpus dups), and a double-submitted slice of the
  * new media (within-shard dups).
  */
object IncrementalMediaDedup extends QueryModule {

  private[graft] def indexPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/media-${Intake.dataFingerprint(s, dir)}"
  private[graft] def shardPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/media-shard-${Intake.dataFingerprint(s, dir)}"

  /** Synthesize media rows for (doc_id, src) pairs: the row is keyed by
    * doc_id but its CONTENT (modality and payload) is the src doc's —
    * how a re-crawled page carries the original's bytes under a new
    * intake id. Same per-partition codec-init shape as
    * [[Multimodal.synthesizeImages]]. */
  private def mediaFor(ids: DataFrame): Dataset[MediaRow] = {
    import ids.sparkSession.implicits._
    ids.select(col("doc_id"), col("src")).as[(Long, Long)].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { case (id, src) =>
        (src % 3) match {
          case 0 => MediaRow(id, "image", Multimodal.encodePng(src))
          case 1 => MediaRow(id, "audio", Multimodal.encodeWav(src))
          case _ => MediaRow(id, "video", Multimodal.encodeAvi(src))
        }
      }
    }
  }

  /** (doc_id, src) with src = doc_id: every row's content is its own. */
  private def ownIds(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), col("doc_id").as("src"))

  /** (doc_id, media_type, fhash) through the CHECKED decoders — the one
    * hash relation all index/serving stages share. Corrupt payloads
    * drop out at the `decode_ok` gate (dead-letter routing is the
    * caller's composition, q100-style). */
  private[graft] def hashesOf(media: Dataset[MediaRow]): DataFrame = {
    val img = Multimodal.imageAHashesChecked(media.filter(_.media_type == "image")).toDF()
      .filter(col("decode_ok"))
      .select(col("doc_id"), lit("image").as("media_type"), col("ahash").as("fhash"))
    val aud = Multimodal.audioEnvelopeHashesChecked(media.filter(_.media_type == "audio")).toDF()
      .filter(col("decode_ok"))
      .select(col("doc_id"), lit("audio").as("media_type"), col("ehash").as("fhash"))
    val vid = Multimodal.videoSignaturesChecked(media.filter(_.media_type == "video")).toDF()
      .filter(col("decode_ok"))
      .select(col("doc_id"), lit("video").as("media_type"), col("sig").as("fhash"))
    img.unionByName(aud).unionByName(vid)
  }

  /** Band slices of a hash relation: image 8×8-bit bands, audio 4×8-bit
    * bands, video's whole signature as its single band — the q94/q95
    * banding with the member's full hash riding along for the serving
    * verify. */
  private[graft] def bandsOf(hashes: DataFrame): DataFrame = hashes
    .select(col("doc_id"), col("media_type"), col("fhash"),
      explode(expr(
        """CASE
          |  WHEN media_type = 'image' THEN transform(sequence(0, 7), b -> struct(b AS band, substring(fhash, b * 8 + 1, 8) AS bk))
          |  WHEN media_type = 'audio' THEN transform(sequence(0, 3), b -> struct(b AS band, substring(fhash, b * 8 + 1, 8) AS bk))
          |  ELSE array(struct(0 AS band, fhash AS bk))
          |END""".stripMargin)).as("x"))
    .select(col("doc_id"), col("media_type"), col("x.band").as("band"),
      col("x.bk").as("bk"), col("fhash"))

  /** Capped distinct band relation for the INDEX: (media_type, band, bk,
    * fhash) deduped, buckets above BucketCap distinct hashes dropped
    * whole. Two aggregations on the same uniform key — AQE reuses the
    * exchange. */
  private def cappedIndexBands(hashes: DataFrame): DataFrame = {
    val db = bandsOf(hashes).select("media_type", "band", "bk", "fhash").distinct()
    val ok = db.groupBy("media_type", "band", "bk")
      .agg(count(lit(1)).as("c")).filter(col("c") <= Dedup.BucketCap)
      .select("media_type", "band", "bk")
    db.join(ok, Seq("media_type", "band", "bk"), "left_semi")
  }

  /** Offline: persist the corpus's perceptual-exact state and capped
    * band index. The decode runs HERE, once — serving never re-decodes
    * corpus media. */
  private[graft] def buildIndex(s: SparkSession, dir: String): String =
    Artifacts.publish(s, indexPath(s, dir)) { tmp =>
      val hashes = hashesOf(mediaFor(ownIds(s, dir).filter(Intake.corpus(col("doc_id")))))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      try {
        hashes.groupBy("media_type", "fhash")
          .agg(min(col("doc_id")).as("keeper"))
          .write.mode("overwrite").parquet(s"$tmp/exact")
        cappedIndexBands(hashes)
          .write.mode("overwrite").parquet(s"$tmp/bands")
      } finally hashes.unpersist()
    }

  /** Stage the day's media shard as files (in production it ARRIVES as
    * files; staging keeps q101's serving plan free of any documents
    * scan, which PlanSpec asserts). */
  private[graft] def stageShard(s: SparkSession, dir: String): String =
    Artifacts.publish(s, shardPath(s, dir)) { tmp =>
      val ids = ownIds(s, dir)
      Intake.assertRekeyDisjoint(ids, "media")
      mediaFor(Intake.shard(ids)).write.mode("overwrite").parquet(s"$tmp/media")
    }

  /** Online: verdict every shard media item against the index ONLY. */
  private[graft] def verdictsAgainst(s: SparkSession, shardMedia: Dataset[MediaRow],
                                     idxPath: String): DataFrame = {
    val exactIdx = s.read.parquet(s"$idxPath/exact")
      .withColumnRenamed("keeper", "corpus_keeper")
    val bandsIdx = s.read.parquet(s"$idxPath/bands")
      .withColumnRenamed("fhash", "cand_fhash").withColumnRenamed("doc_id", "_drop")
      .select("media_type", "band", "bk", "cand_fhash")
    val sh = hashesOf(shardMedia)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val shardKeep = sh.groupBy("media_type", "fhash").agg(min(col("doc_id")).as("bkeeper"))
    val near = bandsOf(sh)
      .join(bandsIdx, Seq("media_type", "band", "bk"))
      .withColumn("hmax",
        when(col("media_type") === "image", lit(TextPipeline.AHashHamMax))
          .when(col("media_type") === "audio", lit(TextPipeline.EnvHamMax))
          .otherwise(lit(0)))
      .filter(expr("graft_hamming(fhash, cand_fhash)") <= col("hmax"))
      .select("doc_id").distinct()
      .withColumn("near", lit(true))
    sh
      .join(exactIdx, Seq("media_type", "fhash"), "left")
      .join(shardKeep, Seq("media_type", "fhash"))
      .join(near, Seq("doc_id"), "left")
      .withColumn("verdict",
        when(col("corpus_keeper").isNotNull, "exact_dup_corpus")
          .when(col("doc_id") =!= col("bkeeper"), "exact_dup_batch")
          .when(col("near").isNotNull, "neardup_corpus")
          .otherwise("kept"))
      .withColumn("keep", col("verdict") === "kept")
      .select("doc_id", "media_type", "verdict", "keep", "corpus_keeper")
      .orderBy("doc_id")
  }

  /** Fold the shard's kept media into a new index generation: kept
    * hashes are disjoint from the index (else exact_dup_corpus) and
    * unique within the shard (else exact_dup_batch), so the exact union
    * is conflict-free; the band cap is RE-APPLIED to the union (a
    * bucket the ingest pushes over the cap drops whole — the same
    * saturation discipline the build applies). Replaying the same
    * shard against the new generation keeps nothing; re-ingest is a
    * content no-op (IncrementalMediaDedupSpec). */
  private[graft] def ingest(s: SparkSession, shardMedia: Dataset[MediaRow],
                            idxPath: String, outPath: String): String =
    Artifacts.publish(s, outPath) { tmp =>
      val keptIds = verdictsAgainst(s, shardMedia, idxPath)
        .filter(col("keep")).select("doc_id")
      val kept = hashesOf(shardMedia)
        .join(keptIds, Seq("doc_id"), "left_semi")
      s.read.parquet(s"$idxPath/exact")
        .unionByName(kept.select(col("media_type"), col("fhash"), col("doc_id").as("keeper")))
        .write.mode("overwrite").parquet(s"$tmp/exact")
      val unionBands = s.read.parquet(s"$idxPath/bands")
        .unionByName(bandsOf(kept).select("media_type", "band", "bk", "fhash"))
        .distinct()
      val ok = unionBands.groupBy("media_type", "band", "bk")
        .agg(count(lit(1)).as("c")).filter(col("c") <= Dedup.BucketCap)
        .select("media_type", "band", "bk")
      unionBands.join(ok, Seq("media_type", "band", "bk"), "left_semi")
        .write.mode("overwrite").parquet(s"$tmp/bands")
    }

  private def q101(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = buildIndex(s, dir)   // offline, cached by fingerprint
    val shard = stageShard(s, dir) // the day's intake, as files
    verdictsAgainst(s, s.read.parquet(s"$shard/media").as[MediaRow], idx)
  }

  // The oracle recomputes the COMPOSED (corpus ∪ shard) ground truth by
  // replaying all three media formulas RELATIONALLY over the raw
  // documents table — it never sees a payload byte or the artifact, so
  // a hash match proves (a) the three checked codec round-trips and
  // (b) that index-only serving reproduces exactly what a full corpus
  // rescan would conclude.
  /** Oracle CTE chain `i_img`..`hash`: the (doc_id, media_type, fhash)
    * replay of every document's synthetic media hash in plain SQL — the
    * shared prefix of q101's oracle and the q140 ledger's media row
    * (the ledger prices the same keeper roster this replay derives). */
  private[graft] val oracleHashCtes: String =
    """i_img AS (
      |  SELECT doc_id,
      |         CAST(8 + doc_id % 120 AS INT) AS w,
      |         CAST(8 + (doc_id * 7) % 120 AS INT) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |i_px AS (
      |  SELECT doc_id, w, h, unnest(range(0, CAST(w AS BIGINT) * h)) AS i FROM i_img),
      |i_blk AS (
      |  SELECT doc_id, w, h,
      |         ((i // w) * 8 // h) * 8 + ((i % w) * 8 // w) AS b,
      |         (doc_id * 31 + (i % w) * 7 + (i // w) * 13) % 256 AS v
      |  FROM i_px),
      |i_bsum AS (
      |  SELECT doc_id, w, h, b, CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS c
      |  FROM i_blk GROUP BY doc_id, w, h, b),
      |i_tot AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS t FROM i_bsum GROUP BY doc_id),
      |i_ah AS (
      |  SELECT doc_id,
      |         string_agg(CASE WHEN s * (CAST(w AS BIGINT) * h) >= t * c
      |                    THEN '1' ELSE '0' END, '' ORDER BY b) AS fhash
      |  FROM i_bsum JOIN i_tot USING (doc_id) GROUP BY doc_id),
      |a_aud AS (
      |  SELECT doc_id, CAST(256 + (doc_id * 13) % 1024 AS INT) AS n
      |  FROM documents WHERE doc_id % 3 = 1),
      |a_sm AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM a_aud),
      |a_fr AS (
      |  SELECT doc_id, n, (i * 32) // n AS f,
      |         abs((doc_id * 31 + i * 7919) % 65536 - 32768) AS a
      |  FROM a_sm),
      |a_fs AS (
      |  SELECT doc_id, n, f, CAST(SUM(a) AS BIGINT) AS s, COUNT(*) AS c
      |  FROM a_fr GROUP BY doc_id, n, f),
      |a_tot AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS t FROM a_fs GROUP BY doc_id),
      |a_ah AS (
      |  SELECT doc_id,
      |         string_agg(CASE WHEN s * n >= t * c THEN '1' ELSE '0' END, '' ORDER BY f) AS fhash
      |  FROM a_fs JOIN a_tot USING (doc_id) GROUP BY doc_id),
      |v_vid AS (
      |  SELECT doc_id,
      |         CAST(16 + doc_id % 16 AS INT) AS w,
      |         CAST(16 + (doc_id * 3) % 16 AS INT) AS h,
      |         CAST(4 + (doc_id * 7) % 12 AS INT) AS n
      |  FROM documents WHERE doc_id % 3 = 2),
      |v_fsel AS (
      |  SELECT doc_id, w, h, n, unnest([0, n // 2]) AS f FROM v_vid),
      |v_px AS (
      |  SELECT doc_id, w, h, n, f, unnest(range(0, CAST(w AS BIGINT) * h)) AS i
      |  FROM v_fsel),
      |v_blk AS (
      |  SELECT doc_id, w, h, n, f,
      |         ((i // w) * 8 // h) * 8 + ((i % w) * 8 // w) AS b,
      |         (doc_id * 31 + f * 17 + (i % w) * 7 + (i // w) * 13) % 256 AS v
      |  FROM v_px),
      |v_bsum AS (
      |  SELECT doc_id, w, h, n, f, b, CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS c
      |  FROM v_blk GROUP BY doc_id, w, h, n, f, b),
      |v_ftot AS (
      |  SELECT doc_id, f, CAST(SUM(s) AS BIGINT) AS t
      |  FROM v_bsum GROUP BY doc_id, f),
      |v_sig AS (
      |  SELECT doc_id,
      |         string_agg(CASE WHEN s * (CAST(w AS BIGINT) * h) >= t * c
      |                    THEN '1' ELSE '0' END, '' ORDER BY f, b) AS fhash
      |  FROM v_bsum JOIN v_ftot USING (doc_id, f) GROUP BY doc_id),
      |hash AS (
      |  SELECT doc_id, 'image' AS media_type, fhash FROM i_ah
      |  UNION ALL SELECT doc_id, 'audio', fhash FROM a_ah
      |  UNION ALL SELECT doc_id, 'video', fhash FROM v_sig)""".stripMargin

  private val q101Sql = {
    val cap = Dedup.BucketCap
    val iMax = TextPipeline.AHashHamMax
    val aMax = TextPipeline.EnvHamMax
    s"""WITH $oracleHashCtes,
      |corpus AS (SELECT * FROM hash WHERE doc_id % 5 <> 4),
      |smap AS (
      |  SELECT doc_id AS new_id, doc_id AS src FROM documents WHERE doc_id % 5 = 4
      |  UNION ALL SELECT doc_id + 1000000, doc_id FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL SELECT doc_id + 2000000, doc_id FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL SELECT doc_id + 3000000, doc_id FROM documents WHERE doc_id % 20 = 4),
      |shard AS (
      |  SELECT m.new_id AS doc_id, h.media_type, h.fhash
      |  FROM smap m JOIN hash h ON h.doc_id = m.src),
      |cex AS (SELECT media_type, fhash, MIN(doc_id) AS keeper FROM corpus GROUP BY 1, 2),
      |cb0 AS (
      |  SELECT DISTINCT media_type, b AS band, substring(fhash, b * 8 + 1, 8) AS bk, fhash
      |  FROM corpus CROSS JOIN (SELECT unnest(range(8)) AS b)
      |  WHERE media_type = 'image'
      |  UNION
      |  SELECT DISTINCT media_type, b, substring(fhash, b * 8 + 1, 8), fhash
      |  FROM corpus CROSS JOIN (SELECT unnest(range(4)) AS b)
      |  WHERE media_type = 'audio'
      |  UNION
      |  SELECT DISTINCT media_type, 0, fhash, fhash FROM corpus WHERE media_type = 'video'),
      |bok AS (
      |  SELECT media_type, band, bk FROM cb0
      |  GROUP BY media_type, band, bk HAVING COUNT(*) <= $cap),
      |cbands AS (SELECT cb0.* FROM cb0 JOIN bok USING (media_type, band, bk)),
      |sbands AS (
      |  SELECT doc_id, media_type, b AS band, substring(fhash, b * 8 + 1, 8) AS bk, fhash
      |  FROM shard CROSS JOIN (SELECT unnest(range(8)) AS b)
      |  WHERE media_type = 'image'
      |  UNION ALL
      |  SELECT doc_id, media_type, b, substring(fhash, b * 8 + 1, 8), fhash
      |  FROM shard CROSS JOIN (SELECT unnest(range(4)) AS b)
      |  WHERE media_type = 'audio'
      |  UNION ALL
      |  SELECT doc_id, media_type, 0, fhash, fhash FROM shard WHERE media_type = 'video'),
      |near AS (
      |  SELECT DISTINCT s.doc_id
      |  FROM sbands s JOIN cbands c
      |    ON s.media_type = c.media_type AND s.band = c.band AND s.bk = c.bk
      |  WHERE len(list_filter([substring(s.fhash, i, 1) != substring(c.fhash, i, 1)
      |                         for i in range(1, len(s.fhash) + 1)], x -> x))
      |        <= CASE s.media_type WHEN 'image' THEN $iMax WHEN 'audio' THEN $aMax ELSE 0 END),
      |skeep AS (SELECT media_type, fhash, MIN(doc_id) AS bkeeper FROM shard GROUP BY 1, 2),
      |verdicts AS (
      |  SELECT s.doc_id, s.media_type,
      |         CASE WHEN c.keeper IS NOT NULL THEN 'exact_dup_corpus'
      |              WHEN s.doc_id <> k.bkeeper THEN 'exact_dup_batch'
      |              WHEN n.doc_id IS NOT NULL THEN 'neardup_corpus'
      |              ELSE 'kept' END AS verdict,
      |         c.keeper AS corpus_keeper
      |  FROM shard s
      |  LEFT JOIN cex c ON s.media_type = c.media_type AND s.fhash = c.fhash
      |  JOIN skeep k ON s.media_type = k.media_type AND s.fhash = k.fhash
      |  LEFT JOIN near n ON s.doc_id = n.doc_id)
      |SELECT doc_id, media_type, verdict, verdict = 'kept' AS keep, corpus_keeper
      |FROM verdicts ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q143 — MEDIA-INDEX TAKEDOWN: q142's redact-don't-re-admit contract
  // executed on the second hash-state family (the SURVEY L104 transfer
  // claim, made concrete): a removed doc appears in the media index
  // only as a keeper citation in `exact/` — the perceptual hash stays
  // and keeps blocking re-uploads of the removed media, the verdict
  // stops citing the removed id. `bands/` carries member HASHES, not
  // doc ids, so the near-dup probe is already takedown-clean. Tombstone
  // = request ∩ the keeper roster (media never re-decoded, corpus never
  // read), published by IncrementalDedup.takedown over this index's
  // `exact/`, which has the dedup index's keeper shape; serving =
  // q101's plan + ONE broadcast left join nulling the citation. Oracle
  // = q101's composed three-codec ground truth with the CASE redaction
  // — a hash match proves only the citation column moves.
  private[graft] def tombPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/media-tomb-${Intake.dataFingerprint(s, dir)}"

  private def q143(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = buildIndex(s, dir)
    val shard = stageShard(s, dir)
    val t = IncrementalDedup.takedown(s,
      s.read.parquet(s"$idx/exact").select(col("keeper").as("doc_id"))
        .filter(Intake.requested(col("doc_id"))),
      idx, tombPath(s, dir))
    Intake.redacted(s, verdictsAgainst(s, s.read.parquet(s"$shard/media").as[MediaRow], idx),
      "corpus_keeper", Seq(t))
  }

  // Each doc_id carries one media payload (one modality), so — as with
  // q142 — a keeper cites at most one exact row, and every cited
  // keeper sits in the roster by construction: the redaction condition
  // in the replayed truth is exactly `corpus_keeper % 7 = 3`.
  private val q143Sql = q101Sql.replace(
    "SELECT doc_id, media_type, verdict, verdict = 'kept' AS keep, corpus_keeper",
    """SELECT doc_id, media_type, verdict, verdict = 'kept' AS keep,
      |       CASE WHEN corpus_keeper % 7 = 3 THEN NULL ELSE corpus_keeper END AS corpus_keeper"""
      .stripMargin)
  require(q143Sql != q101Sql, "q143 oracle redaction splice did not fire")

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q101_incremental_media_dedup" -> ((s, dir) => q101(s, dir)),
    "q143_media_takedown"          -> ((s, dir) => q143(s, dir)),
  )

  override def oracle: Map[String, String] = Map(
    "q101_incremental_media_dedup" -> q101Sql,
    "q143_media_takedown"          -> q143Sql,
  )
}
