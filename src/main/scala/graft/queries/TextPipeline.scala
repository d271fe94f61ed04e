package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{PrefixSum, QueryModule, Tables}
import graft.functions.Multimodal

/** Text analysis for training-data pipelines over `documents`: token
  * counting (whitespace + BPE-ish regex), quality scoring, document
  * fingerprinting, relational language-ID, and the multimodal decode
  * plumbing. All per-document map work — no shuffle except the lang-ID
  * marker join (broadcast) and its argmax window.
  */
object TextPipeline extends QueryModule {

  /** The corpus-filter quality heuristic over a whitespace-token array
    * column: (1 − stopword ratio) damped by a 50-token length ramp,
    * rounded to 6 places. ONE definition shared by q30's scorer, q44's
    * corpus filter, and the streaming intake flow, so batch and stream
    * can never diverge on which documents pass the floor. */
  def qualityCol(toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val nTok = size(toks)
    val nStop = size(filter(toks, t => t.isin("the", "a", "is")))
    round((lit(1.0) - nStop.cast("double") / nTok)
      * least(lit(1.0), nTok.cast("double") / 50.0), 6)
  }

  // ---------------------------------------------------------------------
  // q30 — per-document text statistics: whitespace token count, BPE-ish
  // subword count (letter runs / digit runs / single punctuation, the
  // shape of a byte-level BPE pre-tokenizer), average token length,
  // stopword ratio, a [0,1] quality score combining them (the
  // length-and-stopword heuristics used for corpus filtering), and an
  // md5 content fingerprint. Pure narrow map — scales linearly, no
  // shuffle, stays in whole-stage codegen.
  private def q30(s: SparkSession, dir: String): DataFrame = {
    Tables.documentsWide(s, dir)
      .withColumn("ts", split(col("text"), " "))
      .withColumn("n_tokens", size(col("ts")))
      .withColumn("n_bpe", size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")))
      .withColumn("n_stop", size(expr("filter(ts, t -> t IN ('the', 'a', 'is'))")))
      .withColumn("avg_tok_len",
        round((col("n_chars") - (col("n_tokens") - 1)).cast("double") / col("n_tokens"), 6))
      .withColumn("stop_ratio", round(col("n_stop").cast("double") / col("n_tokens"), 6))
      .withColumn("quality", qualityCol(col("ts")))
      .withColumn("fingerprint", md5(col("text")))
      .select("doc_id", "n_tokens", "n_bpe", "avg_tok_len", "stop_ratio", "quality", "fingerprint")
      .orderBy("doc_id")
  }

  private val q30Sql =
    """WITH t AS (
      |  SELECT doc_id, text, n_chars, string_split(text, ' ') AS ts,
      |         len(string_split(text, ' ')) AS n_tokens,
      |         len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe,
      |         len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a', 'is'))) AS n_stop
      |  FROM documents)
      |SELECT doc_id, n_tokens, n_bpe,
      |       ROUND(CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens, 6) AS avg_tok_len,
      |       ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
      |       ROUND((1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
      |             * LEAST(1.0, CAST(n_tokens AS DOUBLE) / 50.0), 6) AS quality,
      |       md5(text) AS fingerprint
      |FROM t ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q41 — relational language-ID: a small (lang, marker) table of
  // function words, broadcast-joined against the token stream; predicted
  // language = argmax marker hits (tie-break lexicographic, default
  // 'und'). The marker table is the trained model — swapping in real
  // per-language n-gram profiles changes the table, not the plan.
  private val markers: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "is",
    "de" -> "der", "de" -> "die", "de" -> "und",
    "es" -> "el", "es" -> "los", "es" -> "una",
    "fr" -> "le", "fr" -> "les", "fr" -> "et",
    "zh" -> "de5", "zh" -> "shi4", "zh" -> "bu4")

  private def q41(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mk = broadcast(markers.toDF("cand_lang", "marker"))
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
    val hits = toks.join(mk, col("tok") === col("marker"))
      .groupBy("doc_id", "cand_lang").agg(count(lit(1)).as("hits"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("hits").desc, col("cand_lang"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("cand_lang").as("pred_lang"))
    Tables.documents(s, dir).select("doc_id", "lang")
      .join(hits, Seq("doc_id"), "left")
      .na.fill("und", Seq("pred_lang"))
      .withColumn("correct", col("pred_lang") === col("lang"))
      .orderBy("doc_id")
  }

  private val q41Sql = {
    val markerRows = markers.map { case (l, m) => s"('$l', '$m')" }.mkString(", ")
    s"""WITH mk(cand_lang, marker) AS (VALUES $markerRows),
      |toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
      |hits AS (
      |  SELECT doc_id, cand_lang, COUNT(*) AS hits
      |  FROM toks JOIN mk ON tok = marker GROUP BY doc_id, cand_lang),
      |best AS (
      |  SELECT doc_id, cand_lang AS pred_lang
      |  FROM (SELECT doc_id, cand_lang,
      |               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS rk
      |        FROM hits)
      |  WHERE rk = 1)
      |SELECT d.doc_id, d.lang, COALESCE(b.pred_lang, 'und') AS pred_lang,
      |       COALESCE(b.pred_lang, 'und') = d.lang AS correct
      |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
      |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q40 — winnowing document fingerprints (the MOSS scheme): hash every
  // word 3-gram, slide a window of 4 consecutive hashes, keep each
  // window's minimum, dedupe. Guarantees any shared run of ≥ 6 tokens
  // between two documents shares a fingerprint, at ~1/4 the storage of
  // all k-gram hashes. Gram hashing is one narrow projection; selection
  // is a single window function per document (partition = doc, tiny).
  private val GramK = 3
  private val WinW = 4

  private def q40(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = Tables.documentsWide(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= GramK + WinW - 1)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(ts) - ${GramK - 1}), i ->
           |  struct(i AS pos, substring(md5(concat_ws(' ', element_at(ts, i), element_at(ts, i + 1), element_at(ts, i + 2))), 1, 8) AS h))""".stripMargin
      )).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.h").as("h"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(WinW - 1), Window.currentRow)
    grams
      .withColumn("fp", min(col("h")).over(w))
      .filter(col("pos") >= WinW) // complete windows only
      .select("doc_id", "fp").distinct()
      .orderBy("doc_id", "fp")
  }

  private val q40Sql =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |  WHERE len(string_split(text, ' ')) >= ${GramK + WinW - 1}),
      |grams AS (
      |  SELECT doc_id, u.pos AS pos, u.h AS h FROM (
      |    SELECT doc_id, unnest([{'pos': i, 'h': substring(md5(ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2]), 1, 8)}
      |                           for i in range(1, len(ts) - ${GramK - 2})]) AS u
      |    FROM toks)),
      |wins AS (
      |  SELECT doc_id, pos,
      |         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
      |                      ROWS BETWEEN ${WinW - 1} PRECEDING AND CURRENT ROW) AS fp
      |  FROM grams)
      |SELECT DISTINCT doc_id, fp FROM wins WHERE pos >= $WinW
      |ORDER BY doc_id, fp""".stripMargin

  // ---------------------------------------------------------------------
  // q42 — UNIFIED MULTIMODAL DECODE (functions.Multimodal.decodeAll):
  // every document's media attachment as a REAL container — PNG / WAV /
  // AVI by the doc_id % 3 modality split — decoded through the real JDK
  // codec paths into one typed schema: decoded dims, the container's
  // frame count, and the modality's perceptual fingerprint (64-bit
  // image aHash / 32-bit audio envelope / 128-bit 2-keyframe video
  // signature). The oracle replays fingerprints and dims from the
  // pixel/sample FORMULAS — it never sees container bytes — so a hash
  // match certifies all three decode round-trips in one gate. Narrow
  // map per modality, zero shuffles; no post-decode sort (the driver
  // compare is order-insensitive, and a range sort here would re-run
  // the codecs for the partitioner's sampling pass — the q82 lesson).
  private def q42(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeAll(s, dir).toDF()

  private val q42Sql =
    """WITH i_img AS (
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
      |i_rows AS (
      |  SELECT doc_id, 'image' AS media_type, w AS width, h AS height,
      |         CAST(1 AS INT) AS n_frames,
      |         string_agg(CASE WHEN s * (CAST(w AS BIGINT) * h) >= t * c
      |                    THEN '1' ELSE '0' END, '' ORDER BY b) AS fingerprint
      |  FROM i_bsum JOIN i_tot USING (doc_id) GROUP BY doc_id, w, h),
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
      |a_rows AS (
      |  SELECT doc_id, 'audio' AS media_type, n AS width, CAST(1 AS INT) AS height,
      |         CAST(1 AS INT) AS n_frames,
      |         string_agg(CASE WHEN s * n >= t * c THEN '1' ELSE '0' END, '' ORDER BY f) AS fingerprint
      |  FROM a_fs JOIN a_tot USING (doc_id) GROUP BY doc_id, n),
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
      |v_rows AS (
      |  SELECT doc_id, 'video' AS media_type, w AS width, h AS height, n AS n_frames,
      |         string_agg(CASE WHEN s * (CAST(w AS BIGINT) * h) >= t * c
      |                    THEN '1' ELSE '0' END, '' ORDER BY f, b) AS fingerprint
      |  FROM v_bsum JOIN v_ftot USING (doc_id, f) GROUP BY doc_id, w, h, n)
      |SELECT * FROM i_rows
      |UNION ALL SELECT * FROM a_rows
      |UNION ALL SELECT * FROM v_rows""".stripMargin

  // ---------------------------------------------------------------------
  // q45 — character-n-gram language ID (Cavnar–Trenkle style): per-lang
  // trigram profiles (top 50 trigrams by corpus frequency) are built
  // relationally from the labeled corpus, then every document is scored
  // by Σ count(tri) · weight(rank) against each profile and classified
  // by argmax. Pure integer arithmetic, two shuffles (profile build +
  // doc scoring join) — the profile relation is tiny and broadcasts.
  // On this synthetic corpus the languages share one vocabulary, so the
  // profiles barely separate (accuracy ≈ prior of the majority class) —
  // the operator is the point; the marker-table variant is q41.
  private val ProfileSize = 50

  private def q45(s: SparkSession, dir: String): DataFrame = {
    // length >= 3 guard: Spark's sequence(1, n-2) counts DOWN for n < 3
    // and would emit degenerate n-grams the oracle's empty range never
    // produces. The raw occurrence stream feeds both sides directly — no
    // per-(doc, tri) pre-aggregation: profile counts are a straight
    // (lang, tri) aggregate (Σ_doc cnt == occurrence count), and scores
    // filter the stream against the tiny broadcast profile FIRST, so the
    // only corpus-sized shuffle is the profile build (the per-doc score
    // aggregate sees profile trigrams only, and Σ cnt·weight over doc
    // counts == Σ weight over surviving occurrences — same integers).
    val rawTri = graft.Caches.track(Tables.documentsWide(s, dir)
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")).as("tri")))
      // tracked cache: the char-level explode is the expensive part and
      // both the profile build and the scoring filter read it
    val profiles = rawTri
      .groupBy("lang", "tri").agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("lang").orderBy(col("n").desc, col("tri"))))
      .filter(col("rank") <= ProfileSize)
      .select(col("lang").as("cand_lang"), col("tri"),
        (lit(ProfileSize + 1) - col("rank")).as("weight"))
    val scores = rawTri.join(broadcast(profiles), "tri")
      .groupBy("doc_id", "cand_lang")
      .agg(sum(col("weight")).as("score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("cand_lang"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("cand_lang").as("pred_lang"), col("score"))
    Tables.documents(s, dir).select("doc_id", "lang")
      .join(scores, Seq("doc_id"), "left")
      .na.fill("und", Seq("pred_lang"))
      .withColumn("correct", col("pred_lang") === col("lang"))
      .select("doc_id", "lang", "pred_lang", "correct")
      .orderBy("doc_id")
  }

  private val q45Sql =
    s"""WITH tris AS (
      |  SELECT doc_id, lang, u AS tri FROM (
      |    SELECT doc_id, lang, unnest([text[i:i+2] for i in range(1, length(text) - 1)]) AS u
      |    FROM documents WHERE length(text) >= 3)),
      |doctri AS (SELECT doc_id, tri, COUNT(*) AS cnt FROM tris GROUP BY doc_id, tri),
      |profiles AS (
      |  SELECT lang AS cand_lang, tri, ${ProfileSize + 1} - rank AS weight FROM (
      |    SELECT lang, tri,
      |           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, tri) AS rank
      |    FROM tris GROUP BY lang, tri)
      |  WHERE rank <= $ProfileSize),
      |scores AS (
      |  SELECT doc_id, cand_lang, CAST(SUM(cnt * weight) AS BIGINT) AS score FROM doctri
      |  JOIN profiles USING (tri) GROUP BY doc_id, cand_lang),
      |best AS (
      |  SELECT doc_id, cand_lang AS pred_lang, score FROM (
      |    SELECT doc_id, cand_lang, score,
      |           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang) AS rk
      |    FROM scores)
      |  WHERE rk = 1)
      |SELECT d.doc_id, d.lang, COALESCE(b.pred_lang, 'und') AS pred_lang,
      |       COALESCE(b.pred_lang, 'und') = d.lang AS correct
      |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q43 — PER-KEYFRAME HASH RELATION (functions.Multimodal.frameAHashes):
  // up to 4 evenly-spaced frames per REAL AVI container, located through
  // the idx1 index (sample-before-decode: only the sampled frames' DIB
  // bits ever reach the BMP decoder), each decoded frame reduced to its
  // own 8×8 block-mean aHash row — the frame-level hash relation a
  // frame-matching index stores, where q97 keeps only the per-video
  // concatenated signature and q83 keeps luma statistics. The oracle
  // replays frame selection and every hash bit from the pixel formula
  // without seeing container bytes. Narrow map, zero shuffles;
  // (doc_id, frame_idx) order inherited from the pre-codec id sort.
  private def q43(s: SparkSession, dir: String): DataFrame =
    Multimodal.frameAHashes(Multimodal.synthesizeVideos(s, dir)).toDF()

  private val q43Sql =
    """WITH vid AS (
      |  SELECT doc_id,
      |         CAST(16 + doc_id % 16 AS INT) AS w,
      |         CAST(16 + (doc_id * 3) % 16 AS INT) AS h,
      |         CAST(4 + (doc_id * 7) % 12 AS INT) AS n
      |  FROM documents WHERE doc_id % 3 = 2),
      |picked AS (
      |  SELECT doc_id, w, h, n,
      |         unnest(range(0, CAST(n AS BIGINT), CAST(GREATEST(1, n // 4) AS BIGINT))[1:4]) AS f
      |  FROM vid),
      |px AS (
      |  SELECT doc_id, w, h, n, f, unnest(range(0, CAST(w AS BIGINT) * h)) AS i
      |  FROM picked),
      |blk AS (
      |  SELECT doc_id, w, h, n, f,
      |         ((i // w) * 8 // h) * 8 + ((i % w) * 8 // w) AS b,
      |         (doc_id * 31 + f * 17 + (i % w) * 7 + (i // w) * 13) % 256 AS v
      |  FROM px),
      |bsum AS (
      |  SELECT doc_id, w, h, n, f, b, CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS c
      |  FROM blk GROUP BY doc_id, w, h, n, f, b),
      |ftot AS (
      |  SELECT doc_id, f, CAST(SUM(s) AS BIGINT) AS t
      |  FROM bsum GROUP BY doc_id, f)
      |SELECT doc_id, CAST(n AS INT) AS n_frames, CAST(f AS INT) AS frame_idx,
      |       string_agg(CASE WHEN s * (CAST(w AS BIGINT) * h) >= t * c
      |                  THEN '1' ELSE '0' END, '' ORDER BY b) AS ahash
      |FROM bsum JOIN ftot USING (doc_id, f)
      |GROUP BY doc_id, w, h, n, f
      |ORDER BY doc_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------------
  // q49 — the composed multimodal feature pipeline, EVERY branch on the
  // real codec path (the r8 stub dims for audio/video are gone):
  //  * image rows (doc_id%3=0, Multimodal.imagePipeline): genuine PNG
  //    payloads decoded by javax.imageio — real width/height from the
  //    raster, box-fit plan on them, 16-bin histogram over decoded luma,
  //    n_bytes = decoded sample count w·h;
  //  * audio rows (doc_id%3=1, Multimodal.audioPipeline): genuine
  //    RIFF/WAVE payloads decoded by javax.sound.sampled — the mono
  //    signal as 1×n media (width = decoded sample count, height = 1),
  //    n_bytes = decoded PCM bytes, histogram over the decoded unsigned
  //    16-bit samples;
  //  * video rows (doc_id%3=2, Multimodal.videoPipeline): genuine
  //    RIFF/AVI payloads, idx1 index-seek frame sampling, per-frame BMP
  //    decode — real frame dims, n_bytes = decoded luma samples across
  //    the sampled frames, histogram over those frames' pixels.
  // The oracle replays all three branches from the integer pixel/sample
  // FORMULAS — it never sees the container bytes — so a hash match
  // certifies three actual decodes. All branches are narrow no-shuffle
  // mapPartitions chains; the union is bucket-free and the only sort is
  // the presentation orderBy.
  private def q49(s: SparkSession, dir: String): DataFrame = {
    def binned(df: DataFrame) =
      df.select(Seq("doc_id", "media_type", "width", "height", "out_w", "out_h", "n_bytes").map(col)
        ++ (0 until 16).map(i => element_at(col("bins"), i + 1).as(f"b$i%02d")): _*)
    binned(Multimodal.imagePipeline(s, dir).toDF())
      .unionByName(binned(Multimodal.audioPipeline(s, dir).toDF()))
      .unionByName(binned(Multimodal.videoPipeline(s, dir).toDF()))
      .orderBy("doc_id")
  }

  private val q49Sql = {
    val binCols = (0 until 16).map(i =>
      s"COUNT(*) FILTER (bin = $i) AS b${"%02d".format(i)}").mkString(",\n      |         ")
    val bsel = (0 until 16).map(i => s"b${"%02d".format(i)}").mkString(", ")
    val tcols = (0 until 16).map(i => s"t.b${"%02d".format(i)}").mkString(", ")
    s"""WITH img AS (
      |  SELECT doc_id,
      |         CAST(8 + doc_id % 120 AS INT) AS w,
      |         CAST(8 + (doc_id * 7) % 120 AS INT) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |ipx AS (
      |  SELECT doc_id, w, h, unnest(range(0, CAST(w AS BIGINT) * h)) AS i FROM img),
      |ilum AS (
      |  SELECT doc_id, CAST(((doc_id * 31 + (i % w) * 7 + (i // w) * 13) % 256) // 16 AS INT) AS bin
      |  FROM ipx),
      |ihist AS (
      |  SELECT doc_id,
      |         $binCols
      |  FROM ilum GROUP BY doc_id),
      |imgrows AS (
      |  SELECT i.doc_id, 'image' AS media_type, i.w AS width, i.h AS height,
      |         CAST(CASE WHEN i.w <= 64 AND i.h <= 64 THEN i.w
      |                   WHEN i.w * 64 >= i.h * 64 THEN 64
      |                   ELSE GREATEST(1, (i.w * 64) // i.h) END AS INT) AS out_w,
      |         CAST(CASE WHEN i.w <= 64 AND i.h <= 64 THEN i.h
      |                   WHEN i.w * 64 >= i.h * 64 THEN GREATEST(1, (i.h * 64) // i.w)
      |                   ELSE 64 END AS INT) AS out_h,
      |         CAST(i.w AS BIGINT) * i.h AS n_bytes,
      |         $tcols
      |  FROM img i JOIN ihist t ON i.doc_id = t.doc_id),
      |aud AS (
      |  SELECT doc_id, CAST(256 + (doc_id * 13) % 1024 AS INT) AS n
      |  FROM documents WHERE doc_id % 3 = 1),
      |apx AS (
      |  SELECT doc_id, n, unnest(range(0, CAST(n AS BIGINT))) AS i FROM aud),
      |abin AS (
      |  SELECT doc_id, CAST(((doc_id * 31 + i * 7919) % 65536) // 4096 AS INT) AS bin FROM apx),
      |ahist AS (
      |  SELECT doc_id,
      |         $binCols
      |  FROM abin GROUP BY doc_id),
      |audrows AS (
      |  SELECT a.doc_id, 'audio' AS media_type, a.n AS width, CAST(1 AS INT) AS height,
      |         CAST(CASE WHEN a.n <= 64 THEN a.n
      |                   WHEN a.n * 64 >= 1 * 64 THEN 64
      |                   ELSE GREATEST(1, (a.n * 64) // 1) END AS INT) AS out_w,
      |         CAST(CASE WHEN a.n <= 64 THEN 1
      |                   WHEN a.n * 64 >= 1 * 64 THEN GREATEST(1, (1 * 64) // a.n)
      |                   ELSE 64 END AS INT) AS out_h,
      |         CAST(2 * a.n AS BIGINT) AS n_bytes,
      |         $tcols
      |  FROM aud a JOIN ahist t ON a.doc_id = t.doc_id),
      |vid AS (
      |  SELECT doc_id,
      |         CAST(16 + doc_id % 16 AS INT) AS w,
      |         CAST(16 + (doc_id * 3) % 16 AS INT) AS h,
      |         CAST(4 + (doc_id * 7) % 12 AS INT) AS nf
      |  FROM documents WHERE doc_id % 3 = 2),
      |vfr AS (
      |  SELECT doc_id, w, h, unnest(range(0, CAST(nf AS BIGINT), CAST(greatest(1, nf // 4) AS BIGINT))[1:4]) AS f
      |  FROM vid),
      |vpx AS (
      |  SELECT doc_id, w, h, f, unnest(range(0, CAST(w AS BIGINT) * h)) AS i FROM vfr),
      |vbin AS (
      |  SELECT doc_id,
      |         CAST(((doc_id * 31 + f * 17 + (i % w) * 7 + (i // w) * 13) % 256) // 16 AS INT) AS bin
      |  FROM vpx),
      |vhist AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS npx,
      |         $binCols
      |  FROM vbin GROUP BY doc_id),
      |vidrows AS (
      |  SELECT v.doc_id, 'video' AS media_type, v.w AS width, v.h AS height,
      |         CAST(CASE WHEN v.w <= 64 AND v.h <= 64 THEN v.w
      |                   WHEN v.w * 64 >= v.h * 64 THEN 64
      |                   ELSE GREATEST(1, (v.w * 64) // v.h) END AS INT) AS out_w,
      |         CAST(CASE WHEN v.w <= 64 AND v.h <= 64 THEN v.h
      |                   WHEN v.w * 64 >= v.h * 64 THEN GREATEST(1, (v.h * 64) // v.w)
      |                   ELSE 64 END AS INT) AS out_h,
      |         t.npx AS n_bytes,
      |         $tcols
      |  FROM vid v JOIN vhist t ON v.doc_id = t.doc_id)
      |SELECT doc_id, media_type, width, height, out_w, out_h, n_bytes, $bsel
      |FROM (SELECT * FROM imgrows UNION ALL SELECT * FROM audrows UNION ALL SELECT * FROM vidrows)
      |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q81 — REAL image decode (L16 closed): deterministic grayscale images
  // are encoded to genuine PNG bytes (javax.imageio, JDK-built-in) and
  // travel the pipeline as a BinaryType payload column; the decode stage
  // parses the PNG container, inflates the raster, and reads width,
  // height, and a 16-bin luma histogram from REAL decoded pixels in the
  // same per-partition batch loop the stub used. The oracle recomputes
  // the expected features from the pixel FORMULA — it never sees the PNG
  // bytes — so a hash match proves the codec path round-trips: compress
  // on one side of the pipeline, decode on the other, identical pixels.
  // Scale shape: narrow map end-to-end (synthesize → decode → histogram),
  // zero shuffles; a production variant swaps the synthesizer for a blob
  // fetch and keeps everything downstream.
  private def q81(s: SparkSession, dir: String): DataFrame = {
    Multimodal.decodeImages(Multimodal.synthesizeImages(s, dir)).toDF()
      .select(Seq("doc_id", "width", "height", "n_px").map(col)
        ++ (0 until 16).map(i => element_at(col("bins"), i + 1).as(f"b$i%02d")): _*)
    // doc_id order inherited from the synthesizer's pre-codec sort — a
    // post-decode orderBy would re-run the codec for the sample pass
  }

  private val q81Sql = {
    val binCols = (0 until 16).map(i =>
      s"COUNT(*) FILTER (bin = $i) AS b${"%02d".format(i)}").mkString(",\n      |         ")
    s"""WITH img AS (
      |  SELECT doc_id,
      |         CAST(8 + doc_id % 120 AS INT) AS w,
      |         CAST(8 + (doc_id * 7) % 120 AS INT) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |px AS (
      |  SELECT doc_id, w, h, unnest(range(0, CAST(w AS BIGINT) * h)) AS i FROM img),
      |lum AS (
      |  SELECT doc_id, CAST(((doc_id * 31 + (i % w) * 7 + (i // w) * 13) % 256) // 16 AS INT) AS bin
      |  FROM px),
      |hist AS (
      |  SELECT doc_id,
      |         $binCols
      |  FROM lum GROUP BY doc_id)
      |SELECT i.doc_id, i.w AS width, i.h AS height, CAST(i.w AS BIGINT) * i.h AS n_px,
      |       ${(0 until 16).map(i => s"t.b${"%02d".format(i)}").mkString(", ")}
      |FROM img i JOIN hist t ON i.doc_id = t.doc_id
      |ORDER BY i.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q82 — REAL audio decode (the audio half of L16): deterministic mono
  // 16-bit PCM signals are wrapped in genuine RIFF/WAVE containers by a
  // hand-written encoder and travel as BinaryType payloads; the decode
  // stage recovers rate/samples through the JDK's own javax.sound.sampled
  // WAV parser and computes integer signal statistics (peak magnitude,
  // energy as a sum of squares, zero-crossing count, integer-µs duration)
  // from the DECODED samples. The oracle replays the sample FORMULA — it
  // never sees the container bytes — so a hash match proves the header
  // and sample layout round-trip through an independent decoder.
  // Scale shape: narrow map end-to-end, zero shuffles (the oracle's lag
  // window is oracle-side only; Spark's loop is per-row sequential).
  private def q82(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeAudio(Multimodal.synthesizeAudio(s, dir)).toDF()
    // doc_id order inherited from the synthesizer's pre-codec sort (the
    // post-decode orderBy here was q82's sf1 scale bug: the range
    // partitioner's sampling pass re-ran the whole synth+decode upstream
    // — measured 2.0 s → 5.0 s at sf1)

  private val q82Sql =
    """WITH aud AS (
      |  SELECT doc_id,
      |         CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
      |         CAST(256 + (doc_id * 13) % 1024 AS BIGINT) AS n
      |  FROM documents WHERE doc_id % 3 = 1),
      |smp AS (
      |  SELECT doc_id, sample_rate, n, unnest(range(0, n)) AS i FROM aud),
      |v AS (
      |  SELECT doc_id, i, CAST((doc_id * 31 + i * 7919) % 65536 - 32768 AS INT) AS s
      |  FROM smp),
      |lagged AS (
      |  SELECT doc_id, s, lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS ps FROM v),
      |agg AS (
      |  SELECT doc_id,
      |         CAST(MAX(ABS(s)) AS INT) AS peak,
      |         CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS sum_sq,
      |         CAST(COUNT(*) FILTER (ps IS NOT NULL AND ((s < 0) <> (ps < 0))) AS BIGINT) AS zero_crossings
      |  FROM lagged GROUP BY doc_id)
      |SELECT a.doc_id, a.sample_rate, a.n AS n_samples,
      |       CAST(a.n * 1000000 // a.sample_rate AS BIGINT) AS duration_us,
      |       g.peak, g.sum_sq, g.zero_crossings
      |FROM aud a JOIN agg g ON a.doc_id = g.doc_id
      |ORDER BY a.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q83 — REAL video frame sampling + decode (the video third of L16):
  // deterministic frame sequences are wrapped in genuine RIFF/AVI
  // containers (uncompressed DIB frames + the standard idx1 index) by a
  // hand-written encoder; the decode stage walks the RIFF structure,
  // reads the frame index, samples up to 4 evenly-spaced frames, and
  // decodes ONLY those frames' DIB bits through ImageIO's BMP reader —
  // sample-before-decode made structural by the index, exactly how a
  // production sampler avoids decoding frames it won't keep. DIB is
  // lossless, so the oracle replays the pixel formula from first
  // principles without ever seeing the container. Narrow map, zero
  // shuffles.
  private def q83(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeVideoFrames(Multimodal.synthesizeVideos(s, dir)).toDF()
    // (doc_id, frame_idx) order inherited: ids are pre-sorted and the
    // decoder emits sampled frames in index order

  private val q83Sql =
    """WITH vid AS (
      |  SELECT doc_id,
      |         CAST(16 + doc_id % 16 AS INT) AS w,
      |         CAST(16 + (doc_id * 3) % 16 AS INT) AS h,
      |         CAST(4 + (doc_id * 7) % 12 AS INT) AS n
      |  FROM documents WHERE doc_id % 3 = 2),
      |picked AS (
      |  SELECT doc_id, w, h, n,
      |         unnest(range(0, CAST(n AS BIGINT), CAST(GREATEST(1, n // 4) AS BIGINT))[1:4]) AS f
      |  FROM vid),
      |px AS (
      |  SELECT doc_id, w, h, n, f, x.x AS x, y.y AS y
      |  FROM picked,
      |       LATERAL (SELECT unnest(range(0, w)) AS x) x,
      |       LATERAL (SELECT unnest(range(0, h)) AS y) y),
      |lum AS (
      |  SELECT doc_id, w, h, n, f,
      |         (doc_id * 31 + f * 17 + x * 7 + y * 13) % 256 AS luma
      |  FROM px)
      |SELECT doc_id, CAST(n AS INT) AS n_frames, CAST(f AS INT) AS frame_idx,
      |       w AS width, h AS height,
      |       CAST(SUM(luma) AS BIGINT) AS sum_luma,
      |       CAST(MIN(luma) AS INT) AS min_luma,
      |       CAST(MAX(luma) AS INT) AS max_luma
      |FROM lum GROUP BY doc_id, n, f, w, h
      |ORDER BY doc_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------------
  // q125 — REAL IMAGE RESAMPLE EXECUTION (functions.Multimodal
  // .resizeImages): the stage resizePlan only PLANS — decode the PNG,
  // fit the raster into 32×32 (aspect-preserving, never upscaling), and
  // box-downscale by integer area averaging: each source pixel maps to
  // exactly one target cell (tx = x·ow div w — the aHash tiling
  // generalized to the fitted geometry), each cell is the floor-mean of
  // its pixels. Every reported number is integer arithmetic, so the
  // oracle replays the RESIZED raster from the pixel formula and the
  // md5 over the cell-mean sequence certifies decode + resample
  // round-trip bit-for-bit — the preprocessing step every
  // vision-language pipeline runs between crawl and training. Narrow
  // map, zero shuffles; only (id, dims, hash) rows leave the scan.
  private def q125(s: SparkSession, dir: String): DataFrame =
    Multimodal.resizeImages(Multimodal.synthesizeImages(s, dir)).toDF()

  private val q125Sql =
    """WITH img AS (
      |  SELECT doc_id,
      |         CAST(8 + doc_id % 120 AS INT) AS w,
      |         CAST(8 + (doc_id * 7) % 120 AS INT) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |fit AS (
      |  SELECT doc_id, w, h,
      |         CAST(CASE WHEN w <= 32 AND h <= 32 THEN w
      |              WHEN CAST(w AS BIGINT) * 32 >= CAST(h AS BIGINT) * 32 THEN 32
      |              ELSE GREATEST(1, (CAST(w AS BIGINT) * 32) // h) END AS INT) AS ow,
      |         CAST(CASE WHEN w <= 32 AND h <= 32 THEN h
      |              WHEN CAST(w AS BIGINT) * 32 >= CAST(h AS BIGINT) * 32 THEN GREATEST(1, (CAST(h AS BIGINT) * 32) // w)
      |              ELSE 32 END AS INT) AS oh
      |  FROM img),
      |px AS (
      |  SELECT doc_id, w, h, ow, oh, unnest(range(0, CAST(w AS BIGINT) * h)) AS i
      |  FROM fit),
      |cell AS (
      |  SELECT doc_id, ow, oh,
      |         ((i // w) * oh // h) * ow + ((i % w) * ow // w) AS ci,
      |         (doc_id * 31 + (i % w) * 7 + (i // w) * 13) % 256 AS v
      |  FROM px),
      |cm AS (
      |  SELECT doc_id, ow, oh, ci, CAST(SUM(v) AS BIGINT) // COUNT(*) AS m
      |  FROM cell GROUP BY doc_id, ow, oh, ci),
      |agg AS (
      |  SELECT doc_id, ow, oh,
      |         md5(string_agg(m::VARCHAR, '-' ORDER BY ci)) AS resized_hash,
      |         CAST((1000 * SUM(m)) // (ow * oh) AS BIGINT) AS mean_luma_milli
      |  FROM cm GROUP BY doc_id, ow, oh)
      |SELECT f.doc_id, f.w AS width, f.h AS height, f.ow AS out_w, f.oh AS out_h,
      |       a.mean_luma_milli, a.resized_hash
      |FROM fit f JOIN agg a ON f.doc_id = a.doc_id
      |ORDER BY f.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q126 — REAL AUDIO RESAMPLE EXECUTION (functions.Multimodal
  // .resampleAudio): q125's discipline on the audio modality — decode
  // the WAV through the JDK parser, decimate to 4 kHz by integer
  // block-mean anti-aliasing (each output sample = the TRUNCATED mean
  // of its k = rate/4000 source samples; truncate-toward-zero, because
  // samples are signed and that is what BOTH engines' integer division
  // does — DuckDB (-7)//2 = -3, JVM -7/2 = -3; a floor-division
  // implementation on either side would diverge on negative windows),
  // full windows only.
  // The md5 over the output sequence certifies decode + resample
  // bit-for-bit against the oracle's relational replay of the sample
  // formula — the rate-normalization step every speech pipeline runs
  // between crawl and training. Narrow map, zero shuffles.
  private val ResampleRate = 4000
  private def q126(s: SparkSession, dir: String): DataFrame =
    Multimodal.resampleAudio(Multimodal.synthesizeAudio(s, dir), ResampleRate).toDF()

  private val q126Sql =
    s"""WITH aud AS (
      |  SELECT doc_id,
      |         CAST(8000 * (1 + doc_id % 3) AS INT) AS rate,
      |         CAST(256 + (doc_id * 13) % 1024 AS INT) AS n,
      |         CAST((8000 * (1 + doc_id % 3)) // $ResampleRate AS INT) AS k
      |  FROM documents WHERE doc_id % 3 = 1),
      |win AS (
      |  SELECT doc_id, rate, n, k, unnest(range(0, n // k)) AS o FROM aud),
      |smp AS (
      |  SELECT doc_id, k, o, unnest(range(0, CAST(k AS BIGINT))) AS j FROM win),
      |v AS (
      |  SELECT doc_id, k, o,
      |         (doc_id * 31 + (o * k + j) * 7919) % 65536 - 32768 AS s
      |  FROM smp),
      |m AS (
      |  SELECT doc_id, o, CAST(SUM(s) AS BIGINT) // k AS m
      |  FROM v GROUP BY doc_id, o, k),
      |agg AS (
      |  SELECT doc_id,
      |         CAST(COUNT(*) AS INT) AS n_out,
      |         CAST(MAX(ABS(m)) AS INT) AS peak,
      |         CAST(SUM(ABS(m)) AS BIGINT) AS sum_abs,
      |         md5(string_agg(m::VARCHAR, '-' ORDER BY o)) AS resampled_hash
      |  FROM m GROUP BY doc_id)
      |SELECT a.doc_id, a.rate AS rate_in, CAST($ResampleRate AS INT) AS rate_out,
      |       a.n AS n_in, g.n_out, g.peak, g.sum_abs, g.resampled_hash
      |FROM aud a JOIN agg g ON a.doc_id = g.doc_id
      |ORDER BY a.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q55 — within-document repetition quality (the Gopher/MassiveText
  // repetition rules, §A1.1 of Rae et al. 2112.11446): fraction of bigram
  // OCCURRENCES that are repeats of an earlier occurrence in the same
  // document, and the share taken by the single most frequent bigram.
  // Boilerplate, keyword-stuffed, and generation-loop documents score
  // high on both and are dropped before training. Two uniform-key
  // shuffles — (doc_id, bigram) then doc_id — both partial-aggregated
  // map-side; no corpus-wide state, so the pass is embarrassingly
  // horizontal at 100 TB. Bigrams are md5→int64 tokens (q32's exact
  // construction) so the oracle replays hashing bit-exactly and the
  // shuffle key is fixed-width.
  private def q55(s: SparkSession, dir: String): DataFrame = {
    val bi = Tables.documentsWide(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ts) - 1),
          |  i -> cast(conv(substring(md5(concat(element_at(ts, i), ' ', element_at(ts, i + 1))), 1, 15), 16, 10) AS bigint))""".stripMargin))
        .as("tok"))
    bi.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"),
           count(lit(1)).as("n_unique"),
           max(col("c")).as("top_count"))
      .withColumn("dup_frac",
        round((col("n_bigrams") - col("n_unique")).cast("double") / col("n_bigrams").cast("double"), 6))
      .withColumn("top_frac",
        round(col("top_count").cast("double") / col("n_bigrams").cast("double"), 6))
      // MassiveText thresholds: drop if >20% duplicate bigram mass or one
      // bigram owns >10% of the document
      .withColumn("keep", col("dup_frac") <= 0.2 && col("top_frac") <= 0.1)
      .select("doc_id", "n_bigrams", "n_unique", "dup_frac", "top_frac", "keep")
      .orderBy("doc_id")
  }

  private val q55Sql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |bi AS (
      |  SELECT doc_id,
      |         unnest([CAST('0x' || substring(md5(ts[i] || ' ' || ts[i + 1]), 1, 15) AS BIGINT)
      |                 for i in range(1, len(ts))]) AS tok
      |  FROM toks),
      |cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM bi GROUP BY doc_id, tok),
      |agg AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, COUNT(*) AS n_unique, MAX(c) AS top_count
      |  FROM cnt GROUP BY doc_id)
      |SELECT doc_id, n_bigrams, n_unique,
      |       ROUND(CAST(n_bigrams - n_unique AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6) AS dup_frac,
      |       ROUND(CAST(top_count AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6) AS top_frac,
      |       (ROUND(CAST(n_bigrams - n_unique AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6) <= 0.2
      |        AND ROUND(CAST(top_count AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6) <= 0.1) AS keep
      |FROM agg ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q56 — TF-IDF keyword extraction: top-3 terms per document scored by
  // term frequency × inverse document frequency. The idf is INTEGER-
  // QUANTIZED — idf_q = (N · 10⁶) div df — instead of ln(N/df): the
  // score stays pure int64 arithmetic, so ranking is bit-identical on
  // any engine and any partitioning (a transcendental ln differs in the
  // last ulp across libms, which a hash-compared rank boundary cannot
  // tolerate; the quantized idf is order-isomorphic to 1/df, which is
  // all the ranking consumes). Ties break on the md5-int64 of the term
  // (numeric, collation-free). Two uniform-key shuffles + one small
  // broadcast (the df side aggregates to ≤|vocabulary| rows).
  private def q56(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = docs.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, dir).select(countDistinct(col("doc_id")).as("n"))
    tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score", col("tf") * expr("(n * 1000000) div df"))
      .withColumn("tok", conv(substring(md5(col("term")), 1, 15), 16, 10).cast("long"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"), col("rank"))
      .orderBy("doc_id", "rank")
  }

  private val q56Sql =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
      |scored AS (
      |  SELECT t.doc_id, t.term, t.tf, d.df, t.tf * ((n.n * 1000000) // d.df) AS score,
      |         CAST('0x' || substring(md5(t.term), 1, 15) AS BIGINT) AS tok
      |  FROM tf t JOIN df d USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, term, tf, df, score,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS INT) AS rank
      |  FROM scored)
      |SELECT doc_id, term, tf, df, score, rank
      |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q65 — the Gopher quality-rule battery (Rae et al. 2112.11446 §A1.1,
  // the non-repetition document filters; q55 covers the repetition half):
  //   bit 0  word count outside [50, 100000]
  //   bit 1  mean word length outside [3, 10]
  //   bit 2  symbol-to-word ratio ('#' or '...') above 0.1
  //   bit 3  more than 90% of lines start with a bullet
  //   bit 4  more than 30% of lines end with an ellipsis
  //   bit 5  fewer than 80% of words contain an alphabetic character
  //   bit 6  fewer than 2 stopword occurrences (catalog stopword set)
  // A document is kept iff its rule bitmask is 0 — the mask is the
  // audit artifact (WHY a document was dropped), which a curation
  // pipeline keeps alongside the verdict. Pure narrow map over the
  // token/line arrays: no shuffle, whole-stage codegen, scan-speed at
  // any corpus size. Ratio rules compare ROUNDED values (6 places) so
  // the pass/fail boundary is the same IEEE double on both engines.
  /** Appends the Gopher rule columns (n_words … rule_mask) to a frame
    * with `text` and `n_chars`. ONE definition shared by q65's scorer and
    * the composed curation verdict (Curation q72), so the batteries can
    * never diverge on which documents fail which rule. */
  def withQualityRules(df: DataFrame): DataFrame =
    df.withColumn("qr_ts", split(col("text"), " "))
      .withColumn("qr_ls", split(col("text"), "\n"))
      .withColumn("n_words", size(col("qr_ts")))
      .withColumn("mean_wlen",
        round((col("n_chars") - (col("n_words") - 1)).cast("double") / col("n_words"), 6))
      .withColumn("symbol_ratio", round(
        size(expr("regexp_extract_all(text, '#|\\\\.\\\\.\\\\.', 0)")).cast("double")
          / col("n_words"), 6))
      .withColumn("bullet_frac", round(
        size(expr("filter(qr_ls, l -> l LIKE '- %' OR l LIKE '* %')")).cast("double")
          / size(col("qr_ls")), 6))
      .withColumn("ellipsis_frac", round(
        size(expr("filter(qr_ls, l -> l LIKE '%...')")).cast("double") / size(col("qr_ls")), 6))
      .withColumn("alpha_frac", round(
        size(expr("filter(qr_ts, t -> t RLIKE '[a-zA-Z]')")).cast("double") / col("n_words"), 6))
      .withColumn("n_stop", size(expr("filter(qr_ts, t -> t IN ('the', 'a', 'is'))")))
      .withColumn("rule_mask",
        when(col("n_words") < 50 || col("n_words") > 100000, 1).otherwise(0)
          + when(col("mean_wlen") < 3.0 || col("mean_wlen") > 10.0, 2).otherwise(0)
          + when(col("symbol_ratio") > 0.1, 4).otherwise(0)
          + when(col("bullet_frac") > 0.9, 8).otherwise(0)
          + when(col("ellipsis_frac") > 0.3, 16).otherwise(0)
          + when(col("alpha_frac") < 0.8, 32).otherwise(0)
          + when(col("n_stop") < 2, 64).otherwise(0))

  /** Appends q55's repetition VERDICT as a narrow column (`rep_fail`) —
    * the same dup-bigram / top-bigram thresholds, computed per row from
    * the sorted int64-bigram array instead of the (doc, bigram)
    * aggregation: nb = array size, nu = distinct count, tc = longest run
    * of equal elements in the sorted array (= the max multiplicity).
    * Requires `qr_ts` (call after [[withQualityRules]]). Used by q72's
    * composed verdict so the repetition stage costs a map inside the
    * shared document scan, not two extra exchanges; q55 itself keeps the
    * aggregation plan because the full statistics ARE its output. A
    * TextQualitySpec test pins the two formulations to the same verdict
    * on every document. */
  def withRepetitionFail(df: DataFrame): DataFrame =
    df.withColumn("rp_bg", expr(
      """CASE WHEN size(qr_ts) >= 2 THEN sort_array(transform(sequence(1, size(qr_ts) - 1),
        |  i -> cast(conv(substring(md5(concat(element_at(qr_ts, i), ' ', element_at(qr_ts, i + 1))), 1, 15), 16, 10) AS bigint)))
        |ELSE cast(array() as array<bigint>) END""".stripMargin))
      .withColumn("rp_nb", size(col("rp_bg")).cast("long"))
      .withColumn("rp_nu", size(array_distinct(col("rp_bg"))).cast("long"))
      .withColumn("rp_tc", expr(
        """aggregate(rp_bg,
          |  named_struct('prev', -1L, 'run', 0L, 'best', 0L),
          |  (a, x) -> named_struct('prev', x,
          |    'run', IF(x = a.prev, a.run + 1L, 1L),
          |    'best', greatest(a.best, IF(x = a.prev, a.run + 1L, 1L))),
          |  a -> a.best)""".stripMargin))
      .withColumn("rep_fail", col("rp_nb") >= 1 && (
        round((col("rp_nb") - col("rp_nu")).cast("double") / col("rp_nb").cast("double"), 6) > 0.2 ||
        round(col("rp_tc").cast("double") / col("rp_nb").cast("double"), 6) > 0.1))
      .drop("rp_bg", "rp_nb", "rp_nu", "rp_tc")

  private def q65(s: SparkSession, dir: String): DataFrame = {
    withQualityRules(Tables.documentsWide(s, dir))
      .withColumn("keep", col("rule_mask") === 0)
      .select("doc_id", "n_words", "mean_wlen", "symbol_ratio", "bullet_frac",
        "ellipsis_frac", "alpha_frac", "n_stop", "rule_mask", "keep")
      .orderBy("doc_id")
  }

  /** Shared oracle CTEs for the rule battery: `rqmask(doc_id, …metrics…,
    * rule_mask)` — used by q65 and by Curation q72's composed verdict. */
  private[queries] val rulesSqlCtes =
    """rqt AS (
      |  SELECT doc_id, source, n_chars,
      |         string_split(text, ' ') AS ts,
      |         string_split(text, chr(10)) AS ls,
      |         len(string_split(text, ' ')) AS n_words,
      |         len(regexp_extract_all(text, '#|\.\.\.')) AS n_sym
      |  FROM documents),
      |rqm AS (
      |  SELECT doc_id, source, n_words,
      |         ROUND(CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words, 6) AS mean_wlen,
      |         ROUND(CAST(n_sym AS DOUBLE) / n_words, 6) AS symbol_ratio,
      |         ROUND(CAST(len(list_filter(ls, l -> l LIKE '- %' OR l LIKE '* %')) AS DOUBLE) / len(ls), 6) AS bullet_frac,
      |         ROUND(CAST(len(list_filter(ls, l -> l LIKE '%...')) AS DOUBLE) / len(ls), 6) AS ellipsis_frac,
      |         ROUND(CAST(len(list_filter(ts, t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE) / n_words, 6) AS alpha_frac,
      |         len(list_filter(ts, t -> t IN ('the', 'a', 'is'))) AS n_stop
      |  FROM rqt),
      |rqmask AS (
      |  SELECT doc_id, source, n_words, mean_wlen, symbol_ratio, bullet_frac, ellipsis_frac,
      |         alpha_frac, n_stop,
      |         CAST(CASE WHEN n_words < 50 OR n_words > 100000 THEN 1 ELSE 0 END
      |            + CASE WHEN mean_wlen < 3.0 OR mean_wlen > 10.0 THEN 2 ELSE 0 END
      |            + CASE WHEN symbol_ratio > 0.1 THEN 4 ELSE 0 END
      |            + CASE WHEN bullet_frac > 0.9 THEN 8 ELSE 0 END
      |            + CASE WHEN ellipsis_frac > 0.3 THEN 16 ELSE 0 END
      |            + CASE WHEN alpha_frac < 0.8 THEN 32 ELSE 0 END
      |            + CASE WHEN n_stop < 2 THEN 64 ELSE 0 END AS INT) AS rule_mask
      |  FROM rqm)""".stripMargin

  private val q65Sql =
    s"""WITH $rulesSqlCtes
      |SELECT doc_id, n_words, mean_wlen, symbol_ratio, bullet_frac, ellipsis_frac,
      |       alpha_frac, n_stop, rule_mask, rule_mask = 0 AS keep
      |FROM rqmask ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q67 — unigram surprisal scoring (the CCNet LM-filter shape, Wenzek
  // et al. 1911.00359: score each document under a language model trained
  // on the corpus itself; keep the middle of the distribution — too
  // PREDICTABLE is boilerplate, too SURPRISING is gibberish). The model
  // here is the corpus unigram table, and the per-token "bits" are the
  // INTEGER log₂: bits(t) = ⌊log₂(N div freq(t))⌋, computed EXACTLY on
  // both engines as length(bin(N div freq)) − 1 — a transcendental-free
  // formulation, since an FP ln differs in the last ulp across libms
  // while a keep/drop threshold over a hash-compared column cannot
  // tolerate boundary drift. Plan: one (token) aggregation builds the
  // model (vocabulary-sized — broadcast), one narrow re-scan scores —
  // the corpus shuffles its tokens once and is never re-keyed.
  private[graft] val SurpLo = 1000L  // millibits/token — below = too repetitive
  private[graft] val SurpHi = 9000L  // above = out-of-model gibberish

  /** q67's per-doc verdict, shared with the selector-agreement matrix
    * (Curation q178) so the two relations cannot drift. */
  private[graft] def surprisalVerdicts(s: SparkSession, dir: String): DataFrame =
    q67(s, dir).select("doc_id", "keep")
  private def q67(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val model = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
    val total = model.agg(sum(col("freq")).as("total"))
    val bits = model.crossJoin(broadcast(total))
      .withColumn("bits", (length(bin(expr("total div freq"))) - 1).cast("long"))
      .select("tok", "bits")
    toks.join(broadcast(bits), "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("total_bits"))
      .withColumn("millibits", expr("(total_bits * 1000) div n_tokens"))
      .withColumn("keep", col("millibits") >= SurpLo && col("millibits") <= SurpHi)
      .select("doc_id", "n_tokens", "total_bits", "millibits", "keep")
      .orderBy("doc_id")
  }

  private val q67Sql =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |model AS (SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok),
      |n AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM model),
      |bits AS (
      |  SELECT tok, CAST(length(bin(total // freq)) - 1 AS BIGINT) AS bits
      |  FROM model CROSS JOIN n),
      |scored AS (
      |  SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(bits) AS BIGINT) AS total_bits
      |  FROM toks JOIN bits USING (tok) GROUP BY doc_id)
      |SELECT doc_id, n_tokens, total_bits,
      |       (total_bits * 1000) // n_tokens AS millibits,
      |       (total_bits * 1000) // n_tokens BETWEEN $SurpLo AND $SurpHi AS keep
      |FROM scored ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q69 — VOCABULARY BUILDER: the count-and-truncate step of tokenizer
  // training — corpus token frequencies ranked, cumulative corpus
  // coverage per rank, and the in/out-of-vocabulary verdict at VocabSize.
  // The coverage curve is what picks a vocab size in practice (where does
  // cum_share cross 99.9%?), and the OOV mass is 1 − cum_share at the
  // cap. Plan: one uniform (token) aggregation shuffles the corpus ONCE
  // (the exchange is reused by both consumers below); the rank/cumsum
  // over the vocabulary then runs as a PrefixSum, not a single-partition
  // global window — the vocabulary is Heaps-law unbounded at 100 TB, so
  // "vocab-sized" is not "bounded". Buckets follow the ranking order
  // (freq DESC, token): the low-frequency tail (freq < HeadFreq), which
  // under Zipf holds most of the vocabulary and would make plain log2
  // bands skew onto the freq=1 partition, buckets by EXACT freq ×
  // first-token-character (same freq inside a bucket, so prefix order
  // == token order); the head (freq ≥ HeadFreq, few tokens) buckets by
  // log2 band.
  private val VocabSize = 16
  private val HeadFreq = 16L
  private def q69(s: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val total = freq.agg(sum(col("freq")).as("total"))
    // freq DESC: buckets ascend in −blo
    val keyed = freq
      .withColumn("neg_blo", expr(s"CASE WHEN freq < $HeadFreq THEN -freq " +
        "ELSE -shiftleft(CAST(1 AS BIGINT), length(bin(freq)) - 1) END"))
      .withColumn("bpre",
        when(col("freq") < HeadFreq, substring(col("token"), 1, 1)).otherwise(lit("")))
    // bucket bound: ≤ HeadFreq·|alphabet| + 63 (band, first character) buckets
    PrefixSum.running(keyed, Nil, Seq("neg_blo", "bpre"), Seq(col("freq").desc, col("token")),
        lit(1L) -> "rk_before", col("freq") -> "cum_before")
      .withColumn("rank", (col("rk_before") + 1).cast("int"))
      .withColumn("cum_freq", col("cum_before") + col("freq"))
      .crossJoin(broadcast(total))
      .withColumn("cum_share", round(col("cum_freq").cast("double") / col("total"), 6))
      .withColumn("in_vocab", col("rank") <= VocabSize)
      .select("rank", "token", "freq", "cum_freq", "cum_share", "in_vocab")
      .orderBy("rank")
  }

  private val q69Sql =
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |freq AS (SELECT token, COUNT(*) AS freq FROM toks GROUP BY token),
      |n AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM freq),
      |ranked AS (
      |  SELECT token, freq,
      |         CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS INT) AS rank,
      |         CAST(SUM(freq) OVER (ORDER BY freq DESC, token
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_freq
      |  FROM freq)
      |SELECT rank, token, freq, cum_freq,
      |       ROUND(CAST(cum_freq AS DOUBLE) / total, 6) AS cum_share,
      |       rank <= $VocabSize AS in_vocab
      |FROM ranked CROSS JOIN n ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------
  // q70 — BPE MERGE CANDIDATES: the inner step of byte-pair-encoding
  // training — count every adjacent character pair across all word
  // occurrences and rank the merge candidates (the top pair is what BPE
  // iteration 1 would fuse into a new symbol). Left-to-right pair counts
  // over each occurrence, exactly the greedy-merge statistics; ranking
  // ties break lexicographically so the winner is engine-deterministic.
  // Plan: a narrow per-word explode (no shuffle) into one uniform
  // (pair) aggregation — the pair space is bounded by |alphabet|², so
  // the shuffle is tiny regardless of corpus size. The top-20 is
  // orderBy+limit → TakeOrderedAndProject + TopK.ranked anyway (same
  // catalog-wide standard as q73/q80: no partition-less window over any
  // relation that grows with the corpus, even a bounded one).
  private val BpeTopK = 20
  private def q70(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documentsWide(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
    graft.functions.TopK.ranked(pairs, BpeTopK,
      order = Seq(col("cnt").desc, col("pair")),
      ascKeys = Seq(-col("cnt"), col("pair")),
      cols = Seq("pair", "cnt"))
  }

  private val q70Sql =
    s"""WITH words AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |pairs AS (
      |  SELECT unnest([w[i:i+1] for i in range(1, length(w))]) AS pair
      |  FROM words WHERE length(w) >= 2),
      |cnt AS (SELECT pair, COUNT(*) AS cnt FROM pairs GROUP BY pair),
      |ranked AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS INT) AS rank, pair, cnt
      |  FROM cnt)
      |SELECT rank, pair, cnt FROM ranked WHERE rank <= $BpeTopK ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------
  // q89 — FULL BPE: iterative tokenizer training + frozen-merge encode
  // (Sennrich et al. 1508.07909; the GPT-2 recipe). q70 ranks round-1's
  // candidate statistics; this runs the actual loop — MergeRounds rounds
  // of count-fuse-recount over the word-TYPE relation (types weighted by
  // occurrence count, so every round's shuffle is vocabulary-sized, not
  // corpus-sized), trained on the deterministic doc_id % TrainMod == 0
  // sample (the 100 TB shape: fit the tokenizer on a sample, encode
  // everything). Encoding broadcasts the ≤MergeRounds merge list and
  // applies it in rank order per word in one narrow typed map — zero
  // shuffle. Per doc: word/char/symbol counts, compression in ppm
  // (integer div), and an md5-int64 fingerprint of the encoded symbol
  // stream, so the rows-only gate still pins the exact encoding.
  // NO SQL ORACLE BY DESIGN (the q47 arrangement): training is an
  // iterative argmax-and-rewrite loop, not relationally expressible;
  // BpeSpec covers it with a hand-computed golden merge list, the
  // detokenize round-trip invariant, monotone symbol counts, and
  // round-1 agreement with q70's top pair.
  private val BpeMergeRounds = 8
  private val BpeTrainMod = 3
  private def q89(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val trainTypes = Tables.documentsWide(s, dir)
      .filter(col("doc_id") % BpeTrainMod === 0)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .as("syms"), col("cnt"))
    val merges = graft.functions.Bpe.train(s, trainTypes, BpeMergeRounds)
    val bc = s.sparkContext.broadcast(merges)
    Tables.documentsWide(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val ms = bc.value
        val words = text.split(" ", -1).filter(_.nonEmpty)
        var nSyms = 0L
        var nChars = 0L
        val digest = java.security.MessageDigest.getInstance("MD5")
        words.foreach { w =>
          val enc = graft.functions.Bpe.encodeWord(w, ms)
          nSyms += enc.length
          nChars += w.length
          enc.foreach { sym =>
            digest.update(sym.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            digest.update(1.toByte) // symbol separator: "ab"+"c" != "a"+"bc"
          }
        }
        val hex = digest.digest().map("%02x".format(_)).mkString.substring(0, 15)
        (id, words.length.toLong, nChars, nSyms,
          if (nChars > 0) 1000000L * nSyms / nChars else 1000000L,
          java.lang.Long.parseLong(hex, 16))
      }
      .toDF("doc_id", "n_words", "n_chars", "n_symbols", "sym_per_char_ppm", "enc_hash")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // q164 — UNIGRAM-LM TOKENIZER: train + frozen-vocab Viterbi encode
  // (Kudo 2018, arXiv:1804.10959 — the SentencePiece family), q89's
  // twin for the other dominant subword-tokenizer family. Training is
  // functions.Unigram.train — seed-substring vocabulary, hard-EM
  // rounds, 20 %-shrink pruning to the target size — over the word-TYPE
  // relation of the SAME deterministic doc_id % 3 = 0 sample q89 trains
  // on (the 100 TB shape: fit on a sample, encode everything). Encoding
  // broadcasts the frozen (piece → ln-prob) vocabulary and Viterbi-
  // segments every document in one narrow typed map — zero shuffle —
  // emitting q89's exact schema shape (word/char/piece counts,
  // integer-ppm compression, md5-int64 fingerprint of the piece
  // stream), so the fertility/OOV auditors (q108/q152) and any consumer
  // of q89 can read either tokenizer unchanged.
  // NO SQL ORACLE BY DESIGN (the q47/q89 arrangement): training is an
  // iterative EM-and-prune loop, not relationally expressible;
  // UnigramSpec covers it with a hand-computed golden Viterbi DP, the
  // seed/prune invariants (single chars never pruned, shrink-loop
  // convergence), the detokenize round-trip, and bit-identical replay.
  private def q164(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val trainTypes = Tables.documentsWide(s, dir)
      .filter(col("doc_id") % BpeTrainMod === 0)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val vocab = graft.functions.Unigram.train(s, trainTypes)
    val unk = graft.functions.Unigram.unkScoreOf(vocab)
    val bc = s.sparkContext.broadcast(vocab)
    Tables.documentsWide(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val v = bc.value
        val words = text.split(" ", -1).filter(_.nonEmpty)
        var nPieces = 0L
        var nChars = 0L
        val digest = java.security.MessageDigest.getInstance("MD5")
        words.foreach { w =>
          val enc = graft.functions.Unigram.viterbi(w, v, unk)
          nPieces += enc.length
          nChars += w.length
          enc.foreach { piece =>
            digest.update(piece.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            digest.update(1.toByte) // piece separator: "ab"+"c" != "a"+"bc"
          }
        }
        val hex = digest.digest().map("%02x".format(_)).mkString.substring(0, 15)
        (id, words.length.toLong, nChars, nPieces,
          if (nChars > 0) 1000000L * nPieces / nChars else 1000000L,
          java.lang.Long.parseLong(hex, 16))
      }
      .toDF("doc_id", "n_words", "n_chars", "n_pieces", "piece_per_char_ppm", "enc_hash")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // q94 — PERCEPTUAL IMAGE DEDUP (aHash): the image-side twin of the
  // text near-dup family — 8×8 block-mean average hash from REAL decoded
  // PNG rasters (Multimodal.imageAHashes; integer-exact threshold, no
  // division), then exactly q35's candidate machinery: 8×8-bit bands
  // (pigeonhole: any pair within Hamming 7 shares a clean band — full
  // recall at the ≤6 threshold), graft_collect_capped buckets at
  // Dedup.BucketCap, in-bucket pairs, codegen'd graft_hamming verify.
  // The oracle replays the pixel FORMULA relationally (it never sees
  // PNG bytes) through the same banding SQL — a hash match certifies
  // the decode round-trip AND the dedup semantics in one gate.
  // Scale shape: the codec is a narrow per-partition map; the only
  // shuffled relation is ONE 64-char hash per image (corpus bytes never
  // shuffle), buckets are capped, verification is per-candidate.
  private[graft] val AHashHamMax = 6
  private def q94(s: SparkSession, dir: String): DataFrame =
    Dedup.bandedHammingPairs(
      Multimodal.imageAHashes(Multimodal.synthesizeImages(s, dir)).toDF(),
      "ahash", nBands = 8, bandBits = 8, hamMax = AHashHamMax)

  private val q94Sql =
    s"""WITH img AS (
      |  SELECT doc_id,
      |         CAST(8 + doc_id % 120 AS INT) AS w,
      |         CAST(8 + (doc_id * 7) % 120 AS INT) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |px AS (
      |  SELECT doc_id, w, h, unnest(range(0, CAST(w AS BIGINT) * h)) AS i FROM img),
      |blk AS (
      |  SELECT doc_id, w, h,
      |         ((i // w) * 8 // h) * 8 + ((i % w) * 8 // w) AS b,
      |         (doc_id * 31 + (i % w) * 7 + (i // w) * 13) % 256 AS v
      |  FROM px),
      |bsum AS (
      |  SELECT doc_id, w, h, b, CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS c
      |  FROM blk GROUP BY doc_id, w, h, b),
      |tot AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS t FROM bsum GROUP BY doc_id),
      |ah AS (
      |  SELECT doc_id,
      |         string_agg(CASE WHEN s * (CAST(w AS BIGINT) * h) >= t * c
      |                    THEN '1' ELSE '0' END, '' ORDER BY b) AS ahash
      |  FROM bsum JOIN tot USING (doc_id) GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, ahash, b AS band, substring(ahash, b * 8 + 1, 8) AS bk
      |  FROM ah CROSS JOIN (SELECT unnest(range(8)) AS b)),
      |bsz AS (SELECT band, bk, COUNT(*) AS c FROM bands GROUP BY band, bk),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.ahash AS h1, b.ahash AS h2
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
      |  JOIN bsz k ON k.band = a.band AND k.bk = a.bk
      |  WHERE k.c <= ${Dedup.BucketCap})
      |SELECT d1, d2,
      |       len(list_filter([substring(h1, i, 1) != substring(h2, i, 1) for i in range(1, 65)], x -> x)) AS hamming
      |FROM cand
      |WHERE len(list_filter([substring(h1, i, 1) != substring(h2, i, 1) for i in range(1, 65)], x -> x)) <= $AHashHamMax
      |ORDER BY d1, d2""".stripMargin

  // ---------------------------------------------------------------------
  // q95 — AUDIO NEAR-DUP (energy-envelope hash): q94's recipe on the
  // audio modality — the 32-frame |sample| envelope from REAL decoded
  // WAV PCM (Multimodal.audioEnvelopeHashes, integer-exact threshold),
  // banded 4×8 bits (pigeonhole-complete at Hamming ≤ 3), capped
  // buckets, codegen'd graft_hamming verify. The envelope is what
  // non-spectral audio dedup keys on (re-encoded / re-leveled copies
  // keep their energy shape); the oracle replays the PCM FORMULA
  // relationally through the same banding SQL — decode round-trip and
  // dedup semantics certified by one hash gate. Scale shape identical
  // to q94: codec in the narrow map, one 32-char hash per clip shuffles.
  private[graft] val EnvHamMax = 3
  private def q95(s: SparkSession, dir: String): DataFrame =
    Dedup.bandedHammingPairs(
      Multimodal.audioEnvelopeHashes(Multimodal.synthesizeAudio(s, dir)).toDF(),
      "ehash", nBands = 4, bandBits = 8, hamMax = EnvHamMax)

  private val q95Sql =
    s"""WITH aud AS (
      |  SELECT doc_id, CAST(256 + (doc_id * 13) % 1024 AS INT) AS n
      |  FROM documents WHERE doc_id % 3 = 1),
      |sm AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM aud),
      |fr AS (
      |  SELECT doc_id, n, (i * 32) // n AS f,
      |         abs((doc_id * 31 + i * 7919) % 65536 - 32768) AS a
      |  FROM sm),
      |fs AS (
      |  SELECT doc_id, n, f, CAST(SUM(a) AS BIGINT) AS s, COUNT(*) AS c
      |  FROM fr GROUP BY doc_id, n, f),
      |tot AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS t FROM fs GROUP BY doc_id),
      |ah AS (
      |  SELECT doc_id,
      |         string_agg(CASE WHEN s * n >= t * c THEN '1' ELSE '0' END, '' ORDER BY f) AS ehash
      |  FROM fs JOIN tot USING (doc_id) GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, ehash, b AS band, substring(ehash, b * 8 + 1, 8) AS bk
      |  FROM ah CROSS JOIN (SELECT unnest(range(4)) AS b)),
      |bsz AS (SELECT band, bk, COUNT(*) AS c FROM bands GROUP BY band, bk),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.ehash AS h1, b.ehash AS h2
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
      |  JOIN bsz k ON k.band = a.band AND k.bk = a.bk
      |  WHERE k.c <= ${Dedup.BucketCap})
      |SELECT d1, d2,
      |       len(list_filter([substring(h1, i, 1) != substring(h2, i, 1) for i in range(1, 33)], x -> x)) AS hamming
      |FROM cand
      |WHERE len(list_filter([substring(h1, i, 1) != substring(h2, i, 1) for i in range(1, 33)], x -> x)) <= $EnvHamMax
      |ORDER BY d1, d2""".stripMargin

  // ---------------------------------------------------------------------
  // q97 — VIDEO FINGERPRINT + DUP GROUPS: the third modality of the
  // perceptual-dedup family (q94 image, q95 audio). Each video's
  // signature is the concatenation of two sampled keyframes' 8×8
  // aHashes, computed from REAL index-seek-decoded AVI frames (the q83
  // sample-before-decode contract: frames {0, n div 2} — never a full
  // decode); signature-identical videos group under the minimum doc_id.
  // Unlike q94/q95 this emits the GROUPED FINGERPRINT relation rather
  // than hamming pairs: at small scale the corpus has no near-identical
  // videos (the synthetic signature repeat period exceeds the id range)
  // and an empty pair relation would gate nothing, while the signature
  // relation is dense at every scale and the group columns activate
  // exactly when collisions exist (4620 signature-identical pairs at
  // sf0.1). Scale shape: codec in the narrow map; ONE 128-char row per
  // video shuffles for the signature-keyed group window (md5-uniform
  // cardinality); nothing corpus-sized is re-keyed.
  private def q97(s: SparkSession, dir: String): DataFrame = {
    val sigs = Multimodal.videoSignatures(Multimodal.synthesizeVideos(s, dir)).toDF()
    // group stats via agg + join, not a sig-partitioned window: min and
    // count partial-aggregate map-side and the join key is
    // AQE-skew-splittable, so a viral video (one signature, a billion
    // copies at 100 TB) spreads across tasks where a window would pin
    // the whole group on one (measured in the msat probe, BASELINE.md)
    sigs
      .join(sigs.groupBy("sig").agg(
        min(col("doc_id")).as("group_id"),
        count(lit(1)).cast("int").as("group_size")), "sig")
      .select("doc_id", "n_frames", "width", "height", "sig", "group_id", "group_size")
      .orderBy("doc_id")
  }

  private val q97Sql =
    s"""WITH vid AS (
      |  SELECT doc_id,
      |         CAST(16 + doc_id % 16 AS INT) AS w,
      |         CAST(16 + (doc_id * 3) % 16 AS INT) AS h,
      |         CAST(4 + (doc_id * 7) % 12 AS INT) AS n
      |  FROM documents WHERE doc_id % 3 = 2),
      |fsel AS (
      |  SELECT doc_id, w, h, n, unnest([0, n // 2]) AS f FROM vid),
      |px AS (
      |  SELECT doc_id, w, h, n, f, unnest(range(0, CAST(w AS BIGINT) * h)) AS i
      |  FROM fsel),
      |blk AS (
      |  SELECT doc_id, w, h, n, f,
      |         ((i // w) * 8 // h) * 8 + ((i % w) * 8 // w) AS b,
      |         (doc_id * 31 + f * 17 + (i % w) * 7 + (i // w) * 13) % 256 AS v
      |  FROM px),
      |bsum AS (
      |  SELECT doc_id, w, h, n, f, b, CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS c
      |  FROM blk GROUP BY doc_id, w, h, n, f, b),
      |ftot AS (
      |  SELECT doc_id, f, CAST(SUM(s) AS BIGINT) AS t
      |  FROM bsum GROUP BY doc_id, f),
      |sig AS (
      |  SELECT doc_id, any_value(n) AS n_frames, any_value(w) AS width, any_value(h) AS height,
      |         string_agg(CASE WHEN s * (CAST(w AS BIGINT) * h) >= t * c
      |                    THEN '1' ELSE '0' END, '' ORDER BY f, b) AS sig
      |  FROM bsum JOIN ftot USING (doc_id, f) GROUP BY doc_id)
      |SELECT doc_id, n_frames, width, height, sig,
      |       MIN(doc_id) OVER (PARTITION BY sig) AS group_id,
      |       CAST(COUNT(*) OVER (PARTITION BY sig) AS INT) AS group_size
      |FROM sig ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q80 — COUNT-MIN SKETCH heavy hitters (Cormode & Muthukrishnan): the
  // third mergeable sketch in the catalog (with q74's HLL and q77's
  // quantile histogram) — token-frequency estimation whose corpus-side
  // state is D·W = 4·512 counters REGARDLESS of vocabulary or corpus
  // size. Each token occurrence increments one cell per hash row
  // (md5-derived, the catalog's deterministic int64 idiom, so both
  // engines address identical cells); a token's estimate is the MIN of
  // its D cells — never an undercount, overcount bounded by cell
  // collisions (~N/W per row, min across D rows). At 100 TB the sweep
  // is one narrow pass partial-aggregated map-side into ≤ 2048 keys —
  // no vocab-sized shuffle — and estimation joins the (much smaller)
  // candidate vocabulary against the BROADCAST sketch. The exact count
  // rides along for audit exactly as q74 carries exact distincts; the
  // top-20 is orderBy+limit → TakeOrderedAndProject (per-partition
  // partial top-K), never a single-partition sort of the Heaps-law
  // unbounded vocabulary; `rank` comes from TopK.ranked's bounded
  // sort_array aggregate over the ≤20 surviving rows (no WindowExec).
  private val CmsD = 4
  private val CmsW = 512
  private val CmsTopK = 20
  /** Cell address for hash row r: a disjoint 3-hex-digit (12-bit) slice
    * of ONE md5 of the token, reduced mod W (4096 % 512 = 0, so the
    * reduction is exactly uniform). One digest per occurrence feeds all
    * D rows — the previous per-row `md5(r || ':' || token)` recomputed
    * the digest D times per occurrence for the same heuristic
    * independence md5's nibble slices already provide. */
  private def cmsCell = s"CAST(conv(substring(h, r * 3 + 1, 3), 16, 10) AS BIGINT) % $CmsW"
  private def q80(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("token"))
    val sketch = toks
      .select(md5(col("token")).as("h"))
      .select(explode(expr(s"sequence(0, ${CmsD - 1})")).as("r"), col("h"))
      .select(col("r"), expr(cmsCell).as("cell"))
      .groupBy("r", "cell").agg(count(lit(1)).as("c"))
    val freq = toks.groupBy("token").agg(count(lit(1)).as("freq"))
    val est = freq
      .withColumn("h", md5(col("token")))
      .select(col("token"), col("freq"), col("h"),
        explode(expr(s"sequence(0, ${CmsD - 1})")).as("r"))
      .withColumn("cell", expr(cmsCell))
      .join(broadcast(sketch), Seq("r", "cell"))
      .groupBy("token", "freq").agg(min(col("c")).as("est"))
      .withColumn("overcount", col("est") - col("freq"))
    graft.functions.TopK.ranked(est, CmsTopK,
      order = Seq(col("est").desc, col("token")),
      ascKeys = Seq(-col("est"), col("token")),
      cols = Seq("token", "freq", "est", "overcount"))
  }

  private val q80Sql =
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |rs AS (SELECT unnest([${(0 until CmsD).mkString(", ")}]) AS r),
      |sketch AS (
      |  SELECT rs.r,
      |         CAST('0x' || substring(md5(t.token), rs.r * 3 + 1, 3) AS BIGINT) % $CmsW AS cell,
      |         COUNT(*) AS c
      |  FROM toks t CROSS JOIN rs GROUP BY 1, 2),
      |freq AS (SELECT token, COUNT(*) AS freq FROM toks GROUP BY token),
      |est AS (
      |  SELECT f.token, f.freq, MIN(s.c) AS est
      |  FROM freq f CROSS JOIN rs
      |  JOIN sketch s ON s.r = rs.r AND s.cell =
      |    CAST('0x' || substring(md5(f.token), rs.r * 3 + 1, 3) AS BIGINT) % $CmsW
      |  GROUP BY f.token, f.freq),
      |ranked AS (
      |  SELECT token, freq, est,
      |         CAST(ROW_NUMBER() OVER (ORDER BY est DESC, token) AS INT) AS rank
      |  FROM est)
      |SELECT rank, token, freq, est, est - freq AS overcount
      |FROM ranked WHERE rank <= $CmsTopK ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------
  // q108 — TOKENIZER FERTILITY REPORT: the per-language tokenizer-eval
  // artifact (fertility = subword tokens per whitespace word; chars per
  // subword token) — the number every multilingual-tokenizer paper
  // tables, because a language with high fertility pays more sequence
  // positions per word and is effectively down-weighted at a fixed
  // token budget. Uses the catalog's q30 tokenizers unchanged (the
  // whitespace split and the BPE-ish `[a-z]+|[0-9]+|[^a-z0-9 ]` regex)
  // so the report audits exactly what the pipeline counts elsewhere.
  // Ratios are integer milli (1000·a div b) — no FP in hash-compared
  // columns. Denominators are floored at 1 on BOTH engines: a language
  // whose texts tokenize to zero would otherwise yield NULL in Spark
  // but a division-by-zero ERROR in DuckDB — divergent failure modes
  // on degenerate data (the guard is a no-op on any non-empty corpus).
  //
  // Scale: one narrow codegen'd map (two tokenizer counts + length per
  // doc) into a partial-aggregated per-lang rollup — the shuffle is
  // lang-count-sized regardless of corpus size.
  private def q108(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("ws"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("bpe"),
        length(col("text")).cast("long").as("nc"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("nc")).as("n_chars"))
      .withColumn("fertility_milli", expr("(1000 * bpe_tokens) div greatest(ws_tokens, 1L)"))
      .withColumn("chars_per_tok_milli", expr("(1000 * n_chars) div greatest(bpe_tokens, 1L)"))
      .select("lang", "n_docs", "ws_tokens", "bpe_tokens", "n_chars",
        "fertility_milli", "chars_per_tok_milli")
      .orderBy("lang")

  private val q108Sql =
    """WITH d AS (
      |  SELECT lang,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
      |         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe,
      |         CAST(length(text) AS BIGINT) AS nc
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_docs,
      |       CAST(SUM(ws) AS BIGINT) AS ws_tokens,
      |       CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
      |       CAST(SUM(nc) AS BIGINT) AS n_chars,
      |       (1000 * CAST(SUM(bpe) AS BIGINT)) // GREATEST(CAST(SUM(ws) AS BIGINT), 1) AS fertility_milli,
      |       (1000 * CAST(SUM(nc) AS BIGINT)) // GREATEST(CAST(SUM(bpe) AS BIGINT), 1) AS chars_per_tok_milli
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // q114 — SOURCE QUALITY HEALTH REPORT: the per-source dashboard a
  // curation team watches release over release — for every source, the
  // keep rate under the q65 Gopher battery and the failure rate of EACH
  // rule bit, all in integer ppm. A source whose r_bullet_ppm spikes
  // shipped a scraper regression; one whose r_stop_ppm dominates is
  // non-prose. Uses `withQualityRules` UNCHANGED (one shared battery
  // definition with q65/q72 — the report can never disagree with the
  // filter about which docs fail which rule).
  //
  // Scale: the battery is the same narrow codegen'd map q65 runs; the
  // rollup is one source-sized partial aggregation. Rates use the
  // bit-decode (mask div bit) % 2 — integer ops both engines share.
  private val RuleBits = Seq("words" -> 1, "wlen" -> 2, "symbol" -> 4,
    "bullet" -> 8, "ellipsis" -> 16, "alpha" -> 32, "stop" -> 64)
  private def q114(s: SparkSession, dir: String): DataFrame = {
    val base = withQualityRules(Tables.documentsWide(s, dir))
      .select(col("source"), col("rule_mask"))
    val aggs =
      expr("(1000000 * sum(CASE WHEN rule_mask = 0 THEN 1 ELSE 0 END)) div count(1)")
        .as("keep_ppm") +:
      RuleBits.map { case (nm, bit) =>
        expr(s"(1000000 * sum(CASE WHEN (rule_mask div $bit) % 2 = 1 THEN 1 ELSE 0 END)) div count(1)")
          .as(s"r_${nm}_ppm") }
    base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), aggs: _*)
      .orderBy("source")
  }

  private val q114Sql = {
    val ruleCols = RuleBits.map { case (nm, bit) =>
      s"CAST((1000000 * SUM(CASE WHEN (rule_mask // $bit) % 2 = 1 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS r_${nm}_ppm"
    }.mkString(",\n       ")
    s"""WITH $rulesSqlCtes
      |SELECT source, COUNT(*) AS n_docs,
      |       CAST((1000000 * SUM(CASE WHEN rule_mask = 0 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS keep_ppm,
      |       $ruleCols
      |FROM rqmask GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q116 — VOCABULARY PROFILE (Zipf/Heaps health report): the
  // token-frequency spectrum in log₂ buckets — for each bucket
  // b = ⌊log₂ freq⌋, how many word TYPES live there and what share of
  // all token OCCURRENCES they carry. The two ends are the familiar
  // corpus-health signals: bucket 0 is the hapax-legomena mass (a
  // too-small hapax share means templated/duplicated text; too large
  // means OCR noise or gibberish), the top bucket is head concentration
  // (boilerplate inflates it). ⌊log₂⌋ is the catalog's integer
  // formulation — length(bin(freq)) − 1 — so every column is exact
  // int64 on both engines.
  //
  // Scale: one token-keyed shuffle with map-side combine builds the
  // frequency table (vocabulary-sized output); the bucket rollup is a
  // ≤64-row aggregation; totals attach as a broadcast 1-row cross join.
  private def q116(s: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documentsWide(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    val tot = freq.agg(count(lit(1)).as("n_types"), sum(col("freq")).as("n_occ"))
    freq.withColumn("bucket", (length(bin(col("freq"))) - 1).cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_types_b"), sum(col("freq")).as("n_occ_b"))
      .crossJoin(broadcast(tot))
      .withColumn("type_ppm", expr("(1000000 * n_types_b) div n_types"))
      .withColumn("occ_ppm", expr("(1000000 * n_occ_b) div n_occ"))
      .select("bucket", "n_types_b", "n_occ_b", "type_ppm", "occ_ppm")
      .orderBy("bucket")
  }

  private val q116Sql =
    """WITH freq AS (
      |  SELECT tok, COUNT(*) AS freq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY tok),
      |tot AS (
      |  SELECT COUNT(*) AS n_types, CAST(SUM(freq) AS BIGINT) AS n_occ FROM freq)
      |SELECT CAST(length(bin(freq)) - 1 AS INT) AS bucket,
      |       COUNT(*) AS n_types_b,
      |       CAST(SUM(freq) AS BIGINT) AS n_occ_b,
      |       (1000000 * COUNT(*)) // tot.n_types AS type_ppm,
      |       (1000000 * CAST(SUM(freq) AS BIGINT)) // tot.n_occ AS occ_ppm
      |FROM freq CROSS JOIN tot
      |GROUP BY bucket, tot.n_types, tot.n_occ
      |ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q123 — RELEASE GATE: the automated ship/no-ship relation a corpus
  // release pipeline evaluates last — each row is one policy criterion
  // with its observed corpus-wide value, the committed threshold, and a
  // pass verdict: exact-duplicate rate ≤ 5 %, Gopher-battery keep rate
  // ≥ 50 %, short-document rate ≤ 10 %, mean document length ≥ 24
  // tokens. The artifact a CI step diffs and alerts on; thresholds are
  // code-reviewed constants, observations come from the SAME battery
  // and hash definitions the pipeline filters with (withQualityRules,
  // md5 first-occurrence) so the gate can never disagree with the
  // filters it audits.
  //
  // Scale: one narrow battery pass + one md5-uniform first-occurrence
  // agg; the criterion relation is 4 rows off a cached 1-row aggregate.
  private val GateDupPpm = 50000L
  private val GateKeepPpm = 500000L
  private val GateShortPpm = 100000L
  private val GateShortToks = 16L
  private val GateMeanMilli = 24000L
  private def q123(s: SparkSession, dir: String): DataFrame = {
    val base = withQualityRules(Tables.documentsWide(s, dir))
      .select(col("doc_id"), col("rule_mask"),
        size(split(col("text"), " ")).cast("long").as("nt"),
        md5(col("text")).as("h"))
    val firsts = base.groupBy("h").agg(min(col("doc_id")).as("keeper"))
    val a = graft.Caches.track(base.join(firsts, "h")
      .agg(count(lit(1)).as("n"),
        sum(when(col("doc_id") =!= col("keeper"), 1L).otherwise(0L)).as("dups"),
        sum(when(col("rule_mask") === 0, 1L).otherwise(0L)).as("keeps"),
        sum(when(col("nt") < GateShortToks, 1L).otherwise(0L)).as("shorts"),
        sum(col("nt")).as("toks")))
    def crit(name: String, obs: String, thr: Long, atLeast: Boolean) =
      a.select(lit(name).as("criterion"), expr(obs).as("observed"),
        lit(thr).as("threshold"),
        (if (atLeast) expr(obs) >= thr else expr(obs) <= thr).as("pass"))
    crit("exact_dup_ppm", "(1000000 * dups) div n", GateDupPpm, atLeast = false)
      .unionByName(crit("mean_doc_tokens_milli", "(1000 * toks) div n",
        GateMeanMilli, atLeast = true))
      .unionByName(crit("quality_keep_ppm", "(1000000 * keeps) div n",
        GateKeepPpm, atLeast = true))
      .unionByName(crit("short_doc_ppm", "(1000000 * shorts) div n",
        GateShortPpm, atLeast = false))
      .orderBy("criterion")
  }

  private val q123Sql =
    s"""WITH $rulesSqlCtes,
      |g_base AS (
      |  SELECT doc_id, md5(text) AS h,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |  FROM documents),
      |g_first AS (SELECT h, MIN(doc_id) AS keeper FROM g_base GROUP BY h),
      |g_f AS (
      |  SELECT b.nt, b.doc_id != fi.keeper AS is_dup, m.rule_mask
      |  FROM g_base b JOIN g_first fi ON b.h = fi.h
      |  JOIN rqmask m ON b.doc_id = m.doc_id),
      |g_a AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS dups,
      |         CAST(SUM(CASE WHEN rule_mask = 0 THEN 1 ELSE 0 END) AS BIGINT) AS keeps,
      |         CAST(SUM(CASE WHEN nt < $GateShortToks THEN 1 ELSE 0 END) AS BIGINT) AS shorts,
      |         CAST(SUM(nt) AS BIGINT) AS toks
      |  FROM g_f)
      |SELECT * FROM (
      |  SELECT 'exact_dup_ppm' AS criterion, (1000000 * dups) // n AS observed,
      |         CAST($GateDupPpm AS BIGINT) AS threshold,
      |         (1000000 * dups) // n <= $GateDupPpm AS pass FROM g_a
      |  UNION ALL
      |  SELECT 'mean_doc_tokens_milli', (1000 * toks) // n,
      |         CAST($GateMeanMilli AS BIGINT), (1000 * toks) // n >= $GateMeanMilli FROM g_a
      |  UNION ALL
      |  SELECT 'quality_keep_ppm', (1000000 * keeps) // n,
      |         CAST($GateKeepPpm AS BIGINT), (1000000 * keeps) // n >= $GateKeepPpm FROM g_a
      |  UNION ALL
      |  SELECT 'short_doc_ppm', (1000000 * shorts) // n,
      |         CAST($GateShortPpm AS BIGINT), (1000000 * shorts) // n <= $GateShortPpm FROM g_a)
      |ORDER BY criterion""".stripMargin

  // ---------------------------------------------------------------------
  // q152 — VOCABULARY DRIFT / OOV RATE between corpus generations
  // (L114): the tokenizer-governance twin of the intake family. A
  // deployed tokenizer is FROZEN against the corpus generation it was
  // trained on (q69/q89); every later intake shard drifts away from it
  // — new domains, new languages, new spellings — and the number that
  // decides "retrain the tokenizer" vs "ship as-is" is the intake's
  // out-of-vocabulary rate against the frozen generation's type set,
  // split by language (drift is never uniform: one new source language
  // can hide behind a calm aggregate). Per intake language: token
  // volume, OOV token count and ppm rate, distinct types, NEW types
  // (never seen by the frozen generation), and the heaviest new type's
  // frequency (a spike there = one systematic novelty — a new markup
  // token, a new boilerplate string — rather than organic tail drift).
  //
  // Fixture split: the frozen generation is the corpus slice
  // (doc_id % 5 <> 4 — the catalog's standing corpus convention), the
  // intake is the held-out shard (% 5 = 4), exactly the q84/q132
  // intake geometry. Types are non-empty split tokens (q130's
  // convention).
  //
  // Scale shape: the intake aggregates to (lang, type, cnt) FIRST —
  // a shard-sized explode into a vocab-sized relation — so the
  // frozen-vocab comparison joins two Heaps-law vocabularies on the
  // uniform `tok` key (never corpus-sized rows against the vocab, and
  // never a broadcast of the vocab: Heaps-law-unbounded relations are
  // not broadcastable at 100 TB). One explode per side, one
  // vocab-keyed join, a 5-row rollup.
  private def q152(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsWide(s, dir)
    val frozen = docs.filter(Intake.corpus(col("doc_id")))
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("base_freq"))
    val intake = docs.filter(Intake.arrivals(col("doc_id")))
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
    intake.join(frozen, Seq("tok"), "left")
      .withColumn("oov", col("base_freq").isNull)
      .groupBy("lang")
      .agg(
        sum(col("cnt")).as("n_tokens"),
        sum(when(col("oov"), col("cnt")).otherwise(lit(0L))).as("n_oov"),
        count(lit(1)).as("n_types"),
        sum(when(col("oov"), lit(1L)).otherwise(lit(0L))).as("n_new_types"),
        max(when(col("oov"), col("cnt"))).as("max_new_freq"))
      .withColumn("oov_ppm", expr("n_oov * 1000000 div n_tokens"))
      .select("lang", "n_tokens", "n_oov", "oov_ppm", "n_types",
        "n_new_types", "max_new_freq")
      .orderBy("lang")
  }

  private val q152Sql =
    """WITH frozen AS (
      |  SELECT tok, COUNT(*) AS base_freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok
      |    FROM documents WHERE doc_id % 5 <> 4)
      |  WHERE length(tok) > 0 GROUP BY tok),
      |intake AS (
      |  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      |    SELECT lang, unnest(string_split(text, ' ')) AS tok
      |    FROM documents WHERE doc_id % 5 = 4)
      |  WHERE length(tok) > 0 GROUP BY lang, tok),
      |flagged AS (
      |  SELECT i.lang, i.cnt, f.base_freq IS NULL AS oov
      |  FROM intake i LEFT JOIN frozen f USING (tok))
      |SELECT lang,
      |       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |       CAST(SUM(CASE WHEN oov THEN cnt ELSE 0 END) AS BIGINT) AS n_oov,
      |       (CAST(SUM(CASE WHEN oov THEN cnt ELSE 0 END) AS BIGINT) * 1000000)
      |         // CAST(SUM(cnt) AS BIGINT) AS oov_ppm,
      |       COUNT(*) AS n_types,
      |       CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_new_types,
      |       MAX(CASE WHEN oov THEN cnt END) AS max_new_freq
      |FROM flagged GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // q153 — REFERENCE-MODEL PERPLEXITY BUCKETS (L115): the CCNet
  // head/middle/tail split (Wenzek et al. 1911.00359 §4.3), the step
  // q67 deliberately is not. q67 scores each document under the
  // corpus's OWN unigram table (a self-referential repetition filter);
  // CCNet's production move is different: train a language model per
  // language on a REFERENCE-QUALITY corpus (Wikipedia there; the
  // `source = 'src0'` slice here), score the whole crawl under that
  // frozen model, and split each language's documents into perplexity
  // TERTILES — `head` (most reference-like) feeds training directly,
  // `middle` is kept, `tail` is dropped or down-weighted. The split is
  // per language by construction (a zh document scored under an en
  // model is gibberish, not quality signal).
  //
  // Determinism: per-token bits are the integer ⌊log₂(total div
  // freq)⌋ (q67's transcendental-free formulation); a token unseen by
  // the reference model costs ⌊log₂ total⌋ + 1 bits — one more than
  // the rarest possible observed token — and a language absent from
  // the reference slice entirely falls back to a flat 20 bits/token.
  // Tertile cuts are RANK selection (q58's k(q) = ⌊(n−1)q⌋ + 1 at
  // q = 33, 67) read off the per-(lang, millibits) histogram: the
  // bucket boundary is an actual scored value, ties share a bucket,
  // and both engines pick identical cuts in pure integer arithmetic.
  //
  // Scale shape: the reference model is a slice-sized explode into a
  // vocab-sized (lang, tok) aggregation; scoring joins the corpus
  // explode against the model on the uniform (lang, tok) key — never
  // a broadcast of a Heaps-law-unbounded vocabulary — plus a 5-row
  // broadcast of per-language OOV costs. The tertile machinery runs
  // ENTIRELY on the (lang, millibits) histogram — a bounded relation
  // (millibits ≤ 64·1000) — so no corpus-sized window exists anywhere:
  // the q68 selection lesson, applied to quantile CUTS.
  private val PplOovDefaultBits = 20L
  private def q153(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsWide(s, dir)
    val model = docs.filter(col("source") === "src0")
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("freq"))
    val totals = model.groupBy("lang").agg(sum(col("freq")).as("total"))
    val bits = model.join(broadcast(totals), "lang")
      .withColumn("bits", (length(bin(expr("total div freq"))) - 1).cast("long"))
      .select("lang", "tok", "bits")
    val oov = totals.select(col("lang"),
      length(bin(col("total"))).cast("long").as("oov_bits"))
    val mb = graft.Caches.track(docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
      .join(bits, Seq("lang", "tok"), "left")
      .join(broadcast(oov), Seq("lang"), "left")
      .withColumn("b",
        coalesce(col("bits"), col("oov_bits"), lit(PplOovDefaultBits)))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tokens"), sum(col("b")).as("total_bits"))
      .withColumn("millibits", expr("total_bits * 1000 div n_tokens"))
      .select("lang", "millibits", "n_tokens"))
    val hist = mb.groupBy("lang", "millibits").agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy("lang").orderBy("millibits")))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("lang")))
    val cuts = cum.groupBy("lang").agg(
      min(when(col("cum") >= expr("(n - 1) * 33 div 100 + 1"),
        col("millibits"))).as("cut1"),
      min(when(col("cum") >= expr("(n - 1) * 67 div 100 + 1"),
        col("millibits"))).as("cut2"))
    mb.join(broadcast(cuts), "lang")
      .withColumn("bucket", when(col("millibits") <= col("cut1"), "head")
        .when(col("millibits") <= col("cut2"), "middle")
        .otherwise("tail"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("millibits")).as("min_millibits"),
        max(col("millibits")).as("max_millibits"))
      .orderBy("lang", "bucket")
  }

  private val q153Sql =
    s"""WITH ref AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents WHERE source = 'src0'),
      |model AS (SELECT lang, tok, COUNT(*) AS freq FROM ref GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(SUM(freq) AS BIGINT) AS total FROM model GROUP BY 1),
      |bits AS (
      |  SELECT m.lang, m.tok, CAST(length(bin(t.total // m.freq)) - 1 AS BIGINT) AS bits
      |  FROM model m JOIN tot t USING (lang)),
      |oov AS (SELECT lang, CAST(length(bin(total)) AS BIGINT) AS oov_bits FROM tot),
      |toks AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
      |scored AS (
      |  SELECT doc_id, t.lang, COUNT(*) AS n_tokens,
      |         CAST(SUM(COALESCE(b.bits, o.oov_bits, $PplOovDefaultBits)) AS BIGINT) AS total_bits
      |  FROM toks t LEFT JOIN bits b ON t.lang = b.lang AND t.tok = b.tok
      |       LEFT JOIN oov o ON t.lang = o.lang
      |  GROUP BY doc_id, t.lang),
      |mb AS (
      |  SELECT lang, (total_bits * 1000) // n_tokens AS millibits, n_tokens
      |  FROM scored),
      |hist AS (SELECT lang, millibits, COUNT(*) AS c FROM mb GROUP BY 1, 2),
      |cum AS (
      |  SELECT lang, millibits,
      |         SUM(c) OVER (PARTITION BY lang ORDER BY millibits) AS cum,
      |         SUM(c) OVER (PARTITION BY lang) AS n
      |  FROM hist),
      |cuts AS (
      |  SELECT lang,
      |         MIN(CASE WHEN cum >= (n - 1) * 33 // 100 + 1 THEN millibits END) AS cut1,
      |         MIN(CASE WHEN cum >= (n - 1) * 67 // 100 + 1 THEN millibits END) AS cut2
      |  FROM cum GROUP BY lang)
      |SELECT m.lang,
      |       CASE WHEN millibits <= cut1 THEN 'head'
      |            WHEN millibits <= cut2 THEN 'middle'
      |            ELSE 'tail' END AS bucket,
      |       COUNT(*) AS n_docs,
      |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |       MIN(millibits) AS min_millibits,
      |       MAX(millibits) AS max_millibits
      |FROM mb m JOIN cuts USING (lang)
      |GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q30_text_stats"     -> (q30 _),
    "q152_oov_drift"     -> (q152 _),
    "q153_ppl_buckets"   -> (q153 _),
    "q108_tokenizer_fertility" -> (q108 _),
    "q114_source_health" -> (q114 _),
    "q116_vocab_profile" -> (q116 _),
    "q123_release_gate"  -> (q123 _),
    "q125_image_resize"  -> (q125 _),
    "q126_audio_resample" -> (q126 _),
    "q55_repetition"     -> (q55 _),
    "q65_quality_rules"  -> (q65 _),
    "q67_surprisal"      -> (q67 _),
    "q69_vocab_coverage" -> (q69 _),
    "q70_bpe_merges"     -> (q70 _),
    "q89_bpe_encode"     -> (q89 _),
    "q164_unigram_encode" -> (q164 _),
    "q56_tfidf_topk"     -> (q56 _),
    "q49_media_features" -> (q49 _),
    "q40_winnow_fingerprints" -> (q40 _),
    "q41_langid"         -> (q41 _),
    "q42_multimodal_decode" -> (q42 _),
    "q43_frame_sample"   -> (q43 _),
    "q45_langid_ngram"   -> (q45 _),
    "q80_cms_heavyhitters" -> (q80 _),
    "q81_image_decode"   -> (q81 _),
    "q94_image_phash_dedup" -> (q94 _),
    "q95_audio_envelope_dedup" -> (q95 _),
    "q97_video_fingerprint" -> (q97 _),
    "q82_audio_decode"   -> (q82 _),
    "q83_video_frames"   -> (q83 _),
  )

  override val oracle: Map[String, String] = Map(
    "q30_text_stats"     -> q30Sql,
    "q152_oov_drift"     -> q152Sql,
    "q153_ppl_buckets"   -> q153Sql,
    "q108_tokenizer_fertility" -> q108Sql,
    "q114_source_health" -> q114Sql,
    "q116_vocab_profile" -> q116Sql,
    "q123_release_gate"  -> q123Sql,
    "q125_image_resize"  -> q125Sql,
    "q126_audio_resample" -> q126Sql,
    "q55_repetition"     -> q55Sql,
    "q65_quality_rules"  -> q65Sql,
    "q67_surprisal"      -> q67Sql,
    "q69_vocab_coverage" -> q69Sql,
    "q70_bpe_merges"     -> q70Sql,
    "q56_tfidf_topk"     -> q56Sql,
    "q40_winnow_fingerprints" -> q40Sql,
    "q41_langid"         -> q41Sql,
    "q42_multimodal_decode" -> q42Sql,
    "q43_frame_sample"   -> q43Sql,
    "q45_langid_ngram"   -> q45Sql,
    "q49_media_features" -> q49Sql,
    "q80_cms_heavyhitters" -> q80Sql,
    "q81_image_decode"   -> q81Sql,
    "q94_image_phash_dedup" -> q94Sql,
    "q95_audio_envelope_dedup" -> q95Sql,
    "q97_video_fingerprint" -> q97Sql,
    "q82_audio_decode"   -> q82Sql,
    "q83_video_frames"   -> q83Sql,
  )
}
