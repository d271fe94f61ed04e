package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryModule, Tables}

/** Corpus-preparation operators: the steps between "filtered documents"
  * and "training shards" that the curation family (Curation.scala) stops
  * short of — boilerplate stripping (q90), retrieval over the corpus
  * (q91), the global pre-training shuffle (q92), context-model quality
  * scoring (q93), the composed prepare end artifact (q96), minimal-
  * movement resharding (q98), and the per-source release report (q99).
  *
  * Reference anchor: the reference's pipeline ends at per-document
  * filter/score relations (eda_query.py's scan→filter→aggregate shape);
  * these are the beyond-reference extensions a 100 TB training-data
  * pipeline layers on top, built from the same catalog idioms — md5-int64
  * keys, integer log₂ bits (q67), two-phase prefix sums (q60), bounded
  * per-query windows (q36).
  */
object Corpus extends QueryModule {

  // ---------------------------------------------------------------------
  // q90 — PER-SOURCE BOILERPLATE STRIP (the CCNet/C4 recipe, Wenzek et
  // al. 1911.00359 §3: lines repeated across documents of one domain are
  // navigation chrome, cookie banners, templates — drop every copy).
  // Differs from q66 span-dedup in both key and policy: q66 keys spans
  // GLOBALLY and keeps the FIRST occurrence; boilerplate is scoped to
  // (source, segment) and removes ALL occurrences once the segment's
  // document frequency within its source reaches BoilerMinDf.
  //
  // Scale shape: segmenting is a narrow explode; document frequency is
  // one uniform-key aggregation on (source, seg-md5) — fixed-width key,
  // and the df count per key is capped by the source's doc count. The
  // boilerplate relation (df >= threshold) is a small fraction of the
  // segment relation, but NOT broadcastable by contract (a 100 TB crawl
  // of one pathological template site can make it large), so marking is
  // a shuffle join on the same (source, skey) key the df aggregation
  // already hashed — AQE reuses the exchange. Reassembly is the q66
  // per-document sorted fold.
  private[graft] val BoilerSegLen = 8
  private[graft] val BoilerMinDf = 2

  /** The strip machinery shared by q90 (standalone relation), q96 (the
    * composed prepare), and the streaming intake twin — ONE definition
    * so the three cannot drift.
    *
    * [[segmented]]: each document exploded into BoilerSegLen-token
    * segments keyed by (source, seg-md5) — a narrow explode.
    * [[boilerOf]]: the segments whose within-source document frequency
    * reaches BoilerMinDf — the boilerplate relation (NOT broadcastable
    * by contract; see the q90 header note).
    * [[strippedDocs]]: mark + per-document reassembly —
    * (doc_id, n_segs, n_kept, clean_text). */
  private[graft] def segmented(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), col("source"), split(col("text"), " ").as("ts"))
    .withColumn("n", size(col("ts")))
    .select(col("doc_id"), col("source"), col("ts"),
      explode(expr(s"sequence(0, (n - 1) div $BoilerSegLen)")).as("seg_id0"))
    .withColumn("seg_id", col("seg_id0").cast("int"))
    .withColumn("seg", concat_ws(" ",
      slice(col("ts"), col("seg_id") * BoilerSegLen + 1, lit(BoilerSegLen))))
    // skey is the catalog's md5-int60 fixed-width join/shuffle key, NOT
    // the raw segment string the oracle joins on — an accepted,
    // BUDGETED approximation: two distinct segments of one source
    // colliding in 60 bits would merge their df counts (over-stripping
    // at worst). FIXTURES.md §8 quantifies the budget (birthday bound
    // ~S²/2⁶¹ per source) and names the upgrade path (concatenate the
    // md5's second 60-bit half) for corpora that exceed it.
    .select(col("doc_id"), col("source"), col("seg_id"), col("seg"),
      conv(substring(md5(col("seg")), 1, 15), 16, 10).cast("long").as("skey"))

  private[graft] def boilerOf(segs: DataFrame): DataFrame = segs
    .groupBy("source", "skey")
    .agg(countDistinct(col("doc_id")).as("df"))
    .filter(col("df") >= BoilerMinDf)

  // Scala-side twins of the catalog's md5 idioms, for frozen-artifact
  // serving (streaming.Streams strips against a broadcast boilerplate
  // set and must key segments EXACTLY as the batch SQL does):
  // md5Hex ≡ md5(x), md5Int60 ≡ conv(substring(md5(x), 1, 15), 16, 10).
  private val digestLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val hexChars = "0123456789abcdef".toCharArray
  private[graft] def md5Hex(s: String): String = {
    val md = digestLocal.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(i * 2) = hexChars((d(i) >> 4) & 0xf)
      out(i * 2 + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }
  private[graft] def md5Int60(s: String): Long =
    java.lang.Long.parseLong(md5Hex(s).substring(0, 15), 16)

  /** Per-source serving-set cap for the frozen boilerplate artifact:
    * the BATCH boilerplate relation is corpus-df-bounded (a 100 TB
    * crawl of one template site can make one source's df ≥ 2 set
    * huge), but a broadcast serving artifact must be executor-memory-
    * bounded — so serving keeps each source's M highest-df segments
    * (the worst boilerplate strips first; a tail segment at df = 2 is
    * the least-harmful miss, and the next offline re-prepare catches
    * it — the same honest incremental divergence as q102's frozen
    * generation). 4096 × ~20 sources × 16 B ≈ 1.3 MB broadcast. */
  private[graft] val BoilerServeTopM = 4096

  /** Per-source top-M prune of a (source, skey, df) boilerplate
    * relation — the SERVING generation [[frozenBoiler]] collects.
    * Ranking runs as the q117 two-phase prefix sum over descending
    * ⌊log₂ df⌋ buckets (log₂ is monotone, so bucket order ≡ df-desc
    * order): per-(source, bucket) counts give bucket offsets over a
    * tiny broadcastable relation, buckets wholly past M drop BEFORE
    * any row-level work, and the within-bucket rank window partitions
    * by (source, bucket) — never one corpus-df-sized window per
    * source. Residual (q117's own): a source whose surviving df mass
    * concentrates in one log₂ bucket concentrates that bucket's
    * window; the bucket has already been pre-filtered to those
    * intersecting the top M. Ties at the M boundary cut on skey —
    * deterministic on any engine. */
  private[graft] def prunedBoiler(boiler: DataFrame,
                                  m: Int = BoilerServeTopM): DataFrame = {
    // descending ⌊log₂ df⌋ so ascending bucket order walks df downward
    val b = boiler.withColumn("lb", (lit(63) - (length(bin(col("df"))) - 1)).cast("int"))
    val offsets = b.groupBy("source", "lb").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum(col("c")).over(
        Window.partitionBy("source").orderBy("lb")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("off") < m) // buckets entirely beyond M never reach the rank window
      .select("source", "lb", "off")
    b.join(broadcast(offsets), Seq("source", "lb"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source", "lb").orderBy(col("df").desc, col("skey"))))
      .filter(col("off") + col("rn") <= m)
      .select("source", "skey", "df")
  }

  /** The boilerplate relation collected as a FROZEN serving artifact —
    * what the streaming intake twin broadcasts (the q93 bigramScore
    * offline-train/online-serve shape). The collect is bounded by
    * sources × [[BoilerServeTopM]] BY CONSTRUCTION ([[prunedBoiler]]),
    * never by the corpus's df spectrum; StreamingSpec pins pruned ≡
    * full on the fixture (whose per-source boilerplate is far below
    * the cap). */
  private[graft] def frozenBoiler(docs: DataFrame): Set[(String, Long)] =
    prunedBoiler(boilerOf(segmented(docs))).select("source", "skey").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  /** Mark + reassemble against a GIVEN boilerplate relation — the form
    * the incremental intake serves (q102 strips a day's shard against
    * the FROZEN artifact generation, never recomputing df over the
    * corpus). `boiler` needs (source, skey, df). */
  private[graft] def strippedAgainst(segs: DataFrame, boiler: DataFrame): DataFrame =
    segs.join(boiler.select("source", "skey", "df"), Seq("source", "skey"), "left")
      .withColumn("kept", col("df").isNull)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_segs"),
        sum(when(col("kept"), 1).otherwise(0)).cast("int").as("n_kept"),
        expr(
          "array_join(transform(filter(array_sort(collect_list(struct(seg_id, kept, seg))), x -> x.kept), x -> x.seg), ' ')")
          .as("clean_text"))

  private[graft] def strippedDocs(docs: DataFrame): DataFrame = {
    val segs = segmented(docs)
    strippedAgainst(segs, boilerOf(segs))
  }

  private def q90(s: SparkSession, dir: String): DataFrame =
    strippedDocs(Tables.documentsWide(s, dir))
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        md5(col("clean_text")).as("clean_hash"))
      .orderBy("doc_id")

  private val q90Sql =
    s"""WITH t AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS ts,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents),
      |segs AS (
      |  SELECT doc_id, source, CAST(seg_id AS INT) AS seg_id,
      |         array_to_string(ts[(seg_id * $BoilerSegLen + 1):(seg_id * $BoilerSegLen + $BoilerSegLen)], ' ') AS seg
      |  FROM (SELECT doc_id, source, ts, unnest(range(0, (n - 1) // $BoilerSegLen + 1)) AS seg_id FROM t)),
      |boiler AS (
      |  SELECT source, seg FROM segs
      |  GROUP BY source, seg HAVING COUNT(DISTINCT doc_id) >= $BoilerMinDf),
      |marked AS (
      |  SELECT s.doc_id, s.seg_id, s.seg, b.seg IS NULL AS kept
      |  FROM segs s LEFT JOIN boiler b ON s.source = b.source AND s.seg = b.seg)
      |SELECT doc_id,
      |       CAST(COUNT(*) AS INT) AS n_segs,
      |       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS INT) AS n_kept,
      |       md5(COALESCE(string_agg(CASE WHEN kept THEN seg END, ' ' ORDER BY seg_id), '')) AS clean_hash
      |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q91 — BM25 TOP-K RETRIEVAL (Robertson & Spärck Jones; the Okapi
  // k1/b formulation): rank documents for a fixed query workload — the
  // serving shape of hard-negative mining and retrieval-augmented
  // pretraining. Scoring is the standard
  //   Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
  //   idf(t) = ln(1 + (N−df+0.5)/(df+0.5))
  // over the terms of each query.
  //
  // Scale shape: the query workload is TINY by contract and broadcast
  // twice (term match, then per-term df). Candidate generation is the
  // broadcast semi-match on the token relation — the corpus is scanned
  // once and never re-keyed except the per-(doc, term) tf aggregation
  // (uniform md5-free key: term strings are bounded by the workload).
  // Per-term document frequency aggregates to ≤|workload| rows. The
  // per-query top-k window ranks only docs matching ≥1 term of that
  // query, the q36-audited bounded-Q window pattern.
  //
  // Determinism: idf/score are doubles with ln — each engine evaluates
  // the IDENTICAL expression tree on identical integer inputs, ranks
  // with a doc_id tiebreak, and the emitted score is rounded to 4
  // decimals (the catalog's order-sensitive-float rule). The per-(qid,
  // doc) score is a CANONICAL-ORDER fold, not a bare SUM: both engines
  // left-fold the per-term contributions in ascending term order
  // (Spark: aggregate over array_sort(collect_list); DuckDB:
  // list_reduce over list(… ORDER BY term)), so the IEEE accumulation
  // sequence is identical regardless of partitioning or engine —
  // partition-order ulp drift at a rounding/tie boundary is
  // structurally impossible. Cost: the fold's group is ≤ the query's
  // term count (≤5 by the tiny-workload contract), so the sorted
  // collect is O(1) per group.
  private val Bm25K1Num = 12 // k1 = 1.2
  private val Bm25BNum = 3   // b = 0.75 (as 3/4)
  private[graft] val Bm25TopK = 5
  private[graft] val Bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "spark table join",
    2 -> "window agg stream",
    3 -> "dup merge scan",
    4 -> "customer order line",
    5 -> "key value sort big")
  /** The BM25-scored candidate relation (qid, doc_id, score, n_hit) —
    * every document matching ≥1 term of each query — shared by q91
    * (top-k serving) and q115 (retrieval eval, which needs the FULL
    * candidate set for the ideal ranking and recall base). */
  private def bm25Scored(s: SparkSession, dir: String): DataFrame =
    bm25ScoredOn(Tables.documentsWide(s, dir).select("doc_id", "text"))

  /** [[bm25Scored]] over a GIVEN (doc_id, text) relation — the testable
    * core: CorpusSpec asserts the canonical-order score fold is
    * PERMUTATION-INVARIANT on it (identical exact doubles under any
    * input partitioning/row order). */
  private[graft] def bm25ScoredOn(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val terms = Bm25Queries
      .flatMap { case (q, txt) => txt.split(" ").map(t => (q, t)) }
      .toDF("qid", "term")
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("dl"),
        explode(col("ts")).as("tok"))
    // corpus stats from the per-doc length relation — a narrow scan, not
    // a second token explode (dl counts every token, split keeps empties)
    val stats = docs
      .select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_toks"))
    val tf = toks
      .join(broadcast(terms.select("term").distinct()), col("tok") === col("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    bm25Score(tf, stats, terms)
  }

  /** The BM25 scoring core over an explicit term-frequency relation —
    * tf = (doc_id, dl, term, tf) restricted to the workload's terms,
    * stats = ONE row (n_docs, n_toks), terms = the (qid, term)
    * workload. Shared verbatim by the fresh path ([[bm25ScoredOn]])
    * and the persisted-index path (`LexIndex`), so the two cannot
    * drift: identical idf/weight expression trees and the identical
    * canonical-order fold. */
  /** The per-term idf over (df, n_docs) columns — ONE expression tree
    * shared by the batch core and the streaming serve (Streams
    * .lexScore), so the two cannot produce different doubles. */
  private[graft] def bm25Idf: org.apache.spark.sql.Column =
    log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))

  /** The per-(doc, term) weight over (tf, dl, n_docs, n_toks) columns:
    * tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with avgdl = n_toks/n_docs,
    * cleared to one division: k1 = Bm25K1Num/10, b = Bm25BNum/4. */
  private[graft] def bm25Weight: org.apache.spark.sql.Column =
    (col("tf") * (Bm25K1Num + 10) * col("n_toks")).cast("double") /
      (lit(10) * col("n_toks") * col("tf") +
        lit(Bm25K1Num * (4 - Bm25BNum) / 4.0) * col("n_toks") +
        lit(Bm25K1Num * Bm25BNum / 4.0) * col("dl") * col("n_docs"))

  /** The canonical-order score fold over (term, idf, w) rows:
    * ascending-term left fold — bit-identical on any partitioning and
    * any engine (see the q91 header). */
  private[graft] val Bm25FoldSql =
    "aggregate(array_sort(collect_list(named_struct('term', term, 'ts', idf * w))), CAST(0 AS DOUBLE), (acc, x) -> acc + x.ts)"

  private[graft] def bm25Score(tf: DataFrame, stats: DataFrame,
                               terms: DataFrame): DataFrame = {
    val dfRel = tf.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    tf
      .join(broadcast(dfRel), "term")
      .crossJoin(broadcast(stats))
      .join(broadcast(terms), "term")
      .withColumn("idf", bm25Idf)
      .withColumn("w", bm25Weight)
      .groupBy("qid", "doc_id")
      .agg(expr(Bm25FoldSql).as("score"),
        count(lit(1)).cast("int").as("n_hit"))
  }

  /** q91's top-k cut over a scored relation — shared by q91 and the
    * persisted-index serves so the serving contract is ONE definition. */
  private[graft] def bm25TopK(scored: DataFrame): DataFrame = scored
    .withColumn("rank", row_number().over(
      Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))))
    .filter(col("rank") <= Bm25TopK)
    .select(col("qid"), col("rank"), col("doc_id"),
      round(col("score"), 4).as("score"), col("n_hit"))
    .orderBy("qid", "rank")

  private def q91(s: SparkSession, dir: String): DataFrame =
    bm25TopK(bm25Scored(s, dir))

  /** SQL twin of [[bm25Scored]]: CTEs through `{p}scored`, shared by
    * q91Sql/q115Sql (empty prefix over `documents`) and the retention
    * oracle (LexIndex q166), which stacks TWO instances — a live-era
    * rebuild and a full-history rebuild — in one query via distinct
    * CTE prefixes. `corpusRel` is the FROM-relation of the token
    * explode (a table name or a parenthesized subquery). */
  private[graft] def bm25SqlCtesFor(corpusRel: String, p: String): String = {
    val qvals = Bm25Queries
      .flatMap { case (q, txt) => txt.split(" ").map(t => s"($q, '$t')") }
      .mkString(", ")
    s"""${p}qt(qid, term) AS (VALUES $qvals),
      |${p}toks AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |         unnest(string_split(text, ' ')) AS tok
      |  FROM $corpusRel),
      |${p}stats AS (
      |  SELECT COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_toks FROM ${p}toks),
      |${p}tf AS (
      |  SELECT doc_id, dl, tok AS term, COUNT(*) AS tf
      |  FROM ${p}toks WHERE tok IN (SELECT DISTINCT term FROM ${p}qt)
      |  GROUP BY doc_id, dl, tok),
      |${p}dfr AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM ${p}tf GROUP BY term),
      |${p}scored AS (
      |  SELECT q.qid, t.doc_id,
      |         list_reduce(list(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
      |             (CAST(t.tf * ${Bm25K1Num + 10} * s.n_toks AS DOUBLE) /
      |              (10 * s.n_toks * t.tf +
      |               ${Bm25K1Num * (4 - Bm25BNum) / 4.0} * s.n_toks +
      |               ${Bm25K1Num * Bm25BNum / 4.0} * t.dl * s.n_docs))
      |             ORDER BY t.term), (a, b) -> a + b) AS score,
      |         CAST(COUNT(*) AS INT) AS n_hit
      |  FROM ${p}tf t JOIN ${p}dfr d USING (term) CROSS JOIN ${p}stats s JOIN ${p}qt q USING (term)
      |  GROUP BY q.qid, t.doc_id)""".stripMargin
  }

  private val bm25SqlCtes = bm25SqlCtesFor("documents", "")

  private val q91Sql =
    s"""WITH $bm25SqlCtes,
      |ranked AS (
      |  SELECT qid, doc_id, score, n_hit,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INT) AS rank
      |  FROM scored)
      |SELECT qid, rank, doc_id, ROUND(score, 4) AS score, n_hit
      |FROM ranked WHERE rank <= $Bm25TopK ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------------
  // q115 — RETRIEVAL EVAL (MRR@5 + nDCG@5 over the BM25 stack): the
  // metric relation a search/RAG pipeline publishes when it changes its
  // ranker — per query: MRR@5, the reciprocal rank of the first
  // fully-covering hit (a doc containing EVERY query term) WITHIN the
  // served top-5 — a query whose first fully-covering doc ranks 6+
  // scores 0, the standard cutoff convention (the metric evaluates what
  // the q91 serving relation actually returns, not the unbounded
  // candidate set) — and nDCG@5 with graded gain =
  // distinct terms matched, against the ideal ranking over the full
  // candidate set. The 1/log2(rank+1) discount weights are INTEGER
  // micro constants (1e6/log2(r+1), r ≤ 5, precomputed — no runtime
  // transcendental can disagree across engines), so every metric column
  // is exact int64; only the BM25 ordering itself carries the q91
  // float-rounding caveat.
  //
  // Scale: reuses bm25Scored unchanged (broadcast workload, corpus
  // scanned once); actual and ideal rankings are the q36-audited
  // bounded-Q windows over per-query candidates; the metric rollups
  // are ≤|workload| rows.
  private val NdcgW =
    "CASE WHEN rank = 1 THEN 1000000 WHEN rank = 2 THEN 630929 " +
    "WHEN rank = 3 THEN 500000 WHEN rank = 4 THEN 430676 ELSE 386852 END"
  private def q115(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sc = graft.Caches.track(bm25Scored(s, dir))
    val nterms = Bm25Queries.map { case (q, t) => (q, t.split(" ").length) }
      .toDF("qid", "n_terms")
    val actual = sc.withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= Bm25TopK)
    val ideal = sc.withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("n_hit").desc, col("doc_id"))))
      .filter(col("rank") <= Bm25TopK)
    val dcg = actual.join(broadcast(nterms), "qid")
      .groupBy("qid")
      .agg(sum(expr(s"CAST(n_hit AS BIGINT) * ($NdcgW)")).as("dcg_micro"),
        min(when(col("n_hit") === col("n_terms"), col("rank"))).as("r_first"))
    val idcg = ideal.groupBy("qid")
      .agg(sum(expr(s"CAST(n_hit AS BIGINT) * ($NdcgW)")).as("idcg_micro"))
    val nrel = sc.join(broadcast(nterms), "qid")
      .groupBy("qid")
      .agg(sum(when(col("n_hit") === col("n_terms"), 1L).otherwise(0L)).as("n_rel"))
    dcg.join(idcg, "qid").join(nrel, "qid").join(broadcast(nterms), "qid")
      .withColumn("mrr_micro", when(col("r_first").isNull, lit(0L))
        .otherwise(expr("1000000L div CAST(r_first AS BIGINT)")))
      .withColumn("ndcg_ppm", expr("(1000000 * dcg_micro) div idcg_micro"))
      .select("qid", "n_terms", "n_rel", "mrr_micro", "dcg_micro",
        "idcg_micro", "ndcg_ppm")
      .orderBy("qid")
  }

  private val q115Sql = {
    val ntvals = Bm25Queries
      .map { case (q, t) => s"($q, ${t.split(" ").length})" }.mkString(", ")
    s"""WITH $bm25SqlCtes,
      |nterms(qid, n_terms) AS (VALUES $ntvals),
      |w(rank, wt) AS (VALUES (1, 1000000), (2, 630929), (3, 500000), (4, 430676), (5, 386852)),
      |actual AS (
      |  SELECT qid, doc_id, n_hit,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INT) AS rank
      |  FROM scored),
      |ideal AS (
      |  SELECT qid, n_hit,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY n_hit DESC, doc_id) AS INT) AS rank
      |  FROM scored),
      |dcg AS (
      |  SELECT a.qid,
      |         CAST(SUM(CAST(a.n_hit AS BIGINT) * w.wt) AS BIGINT) AS dcg_micro,
      |         MIN(CASE WHEN a.n_hit = nt.n_terms THEN a.rank END) AS r_first
      |  FROM actual a JOIN w ON a.rank = w.rank JOIN nterms nt ON a.qid = nt.qid
      |  GROUP BY a.qid),
      |idcg AS (
      |  SELECT qid, CAST(SUM(CAST(n_hit AS BIGINT) * w.wt) AS BIGINT) AS idcg_micro
      |  FROM ideal JOIN w ON ideal.rank = w.rank GROUP BY qid),
      |nrel AS (
      |  SELECT s.qid, CAST(SUM(CASE WHEN s.n_hit = nt.n_terms THEN 1 ELSE 0 END) AS BIGINT) AS n_rel
      |  FROM scored s JOIN nterms nt ON s.qid = nt.qid GROUP BY s.qid)
      |SELECT d.qid, nt.n_terms, nr.n_rel,
      |       CAST(CASE WHEN d.r_first IS NULL THEN 0 ELSE 1000000 // d.r_first END AS BIGINT) AS mrr_micro,
      |       d.dcg_micro, i.idcg_micro,
      |       CAST((1000000 * d.dcg_micro) // i.idcg_micro AS BIGINT) AS ndcg_ppm
      |FROM dcg d JOIN idcg i ON d.qid = i.qid JOIN nrel nr ON d.qid = nr.qid
      |JOIN nterms nt ON d.qid = nt.qid
      |ORDER BY d.qid""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q129 — HYBRID RETRIEVAL FUSION (reciprocal-rank fusion, Cormack,
  // Clarke & Buettcher SIGIR'09): the serving shape a curation pipeline
  // actually retrieves with — a lexical arm (q91's BM25 stack) and a
  // vector arm (q36's brute-force cosine contract) each rank the corpus
  // for the same query workload, and per (query, doc) the fused score is
  //   RRF(d) = Σ_arm 1/(k0 + rank_arm(d)),  k0 = 60, arm depth 10,
  // cut to a fused top-5. Each hybrid query is a (terms, vector) pair;
  // the fixture workload binds qid's term list (Bm25Queries) to the
  // corpus embedding with vec_id = qid, and the self row (doc_id = qid)
  // is excluded from BOTH arms so the vector arm's trivial self-match
  // cannot mask fusion behavior.
  //
  // Determinism: both arm orderings are exactly the engine-proven
  // orderings of their parents (q91: score DESC, doc_id; q36: cos DESC,
  // vec_id — identical IEEE expression trees over exact integers on
  // both engines); the RRF contributions are pure int64 ppb
  // (floor(1e9 / (k0 + rank))), so the fused score and ranking are
  // exact integer arithmetic with a doc_id tiebreak.
  //
  // Scale shape: each arm inherits its parent's audited plan — BM25:
  // broadcast workload, one corpus scan, per-(doc, term) tf agg; vector:
  // broadcast query vectors + codegen'd graft_dot, zero corpus shuffle —
  // and emits ≤ |workload| × 10 rows. The fusion itself (full-outer on
  // (qid, doc_id), integer scoring, bounded-Q re-rank) touches only
  // those arm outputs: nothing corpus-sized joins, shuffles, or windows
  // past the arm cuts, at any corpus size.
  private val RrfK0 = 60
  private val RrfArmK = 10
  private val RrfTopK = 5

  /** The lexical arm over any BM25-scored relation (qid, doc_id,
    * score, n_hit): self row dropped, ranked, cut at the arm depth.
    * Shared by q129 (fresh scores) and q135 (artifact-served scores). */
  private def lexArm(scored: DataFrame): DataFrame = scored
    .filter(col("doc_id") =!= col("qid"))
    .withColumn("lex_rank", row_number().over(
      Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))))
    .filter(col("lex_rank") <= RrfArmK)
    .select(col("qid"), col("doc_id"), col("lex_rank"))

  /** The RRF fusion core over two arm-rank relations — lex = (qid,
    * doc_id, lex_rank), vec = (qid, doc_id, vec_rank) — shared by q129
    * and q135 so the two fusions cannot drift: integer ppb
    * contributions, doc_id tiebreak, fused top-k. `k0` defaults to the
    * committed constant; q141 sweeps it. */
  private def rrfFuse(lex: DataFrame, vec: DataFrame, k0: Int = RrfK0): DataFrame =
    lex.join(vec, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf_ppb",
        coalesce(expr(s"1000000000L div CAST($k0 + lex_rank AS BIGINT)"), lit(0L)) +
        coalesce(expr(s"1000000000L div CAST($k0 + vec_rank AS BIGINT)"), lit(0L)))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("rrf_ppb").desc, col("doc_id"))))
      .filter(col("rank") <= RrfTopK)
      .select(col("qid"), col("rank"), col("doc_id"), col("rrf_ppb"),
        col("lex_rank"), col("vec_rank"))
      .orderBy("qid", "rank")

  private def q129(s: SparkSession, dir: String): DataFrame =
    rrfFuse(lexArm(bm25Scored(s, dir)),
      Similarity.bruteRanks(s, dir, Bm25Queries.map(_._1), RrfArmK)
        .select(col("qid"), col("vec_id").as("doc_id"), col("vrank").as("vec_rank")))

  /** The fusion SQL tail shared by q129 and q135: expects a `scored`
    * CTE (the fresh BM25 relation — for q135 the artifact-served arm
    * is PROVEN ≡ fresh by q131's oracle) and a `vranks` CTE (either
    * arm's (qid, vec_id, vrank) stack emits that name). */
  private val rrfFusionSqlTail =
    s"""lexr AS (
      |  SELECT qid, doc_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INT) AS lex_rank
      |  FROM scored WHERE doc_id != qid),
      |lex AS (SELECT qid, doc_id, lex_rank FROM lexr WHERE lex_rank <= $RrfArmK),
      |vec AS (SELECT qid, vec_id AS doc_id, vrank AS vec_rank FROM vranks),
      |fused AS (
      |  SELECT COALESCE(l.qid, v.qid) AS qid, COALESCE(l.doc_id, v.doc_id) AS doc_id,
      |         l.lex_rank, v.vec_rank,
      |         COALESCE(CAST(1000000000 // ($RrfK0 + l.lex_rank) AS BIGINT), CAST(0 AS BIGINT)) +
      |         COALESCE(CAST(1000000000 // ($RrfK0 + v.vec_rank) AS BIGINT), CAST(0 AS BIGINT)) AS rrf_ppb
      |  FROM lex l FULL OUTER JOIN vec v ON l.qid = v.qid AND l.doc_id = v.doc_id),
      |rankedf AS (
      |  SELECT qid, doc_id, rrf_ppb, lex_rank, vec_rank,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf_ppb DESC, doc_id) AS INT) AS rank
      |  FROM fused)
      |SELECT qid, rank, doc_id, rrf_ppb, lex_rank, vec_rank
      |FROM rankedf WHERE rank <= $RrfTopK ORDER BY qid, rank""".stripMargin

  private val q129Sql =
    s"""WITH $bm25SqlCtes,
      |${Similarity.bruteRanksSqlCtes(Bm25Queries.map(_._1), RrfArmK)},
      |$rrfFusionSqlTail""".stripMargin

  // ---------------------------------------------------------------------
  // q135 — SERVED HYBRID FUSION: q129's contract run the way production
  // actually runs it — BOTH arms from their persisted artifacts. The
  // lexical arm is the q131 inverted-index serve (pushed term filters,
  // zero documents scans — and PROVEN bit-identical to the fresh BM25
  // by q131's oracle), the vector arm is q79's PQ-index ADC serve
  // (stored 8-nibble codes × broadcast distance tables — approximate
  // by design), and the fusion core is q129's own rrfFuse, shared so
  // exact and served fusions cannot drift. The result legitimately
  // DIFFERS from q129 where ADC ranks differ from exact cosine ranks —
  // which is the operator's point: it is the ranking the deployed
  // system returns, and q86-style recall against q129 measures the gap
  // (HybridSpec). Scale: nothing outside the two artifacts and the
  // broadcast workload is read; per-query cost is arm-output-sized.
  private def q135(s: SparkSession, dir: String): DataFrame =
    rrfFuse(
      lexArm(LexIndex.servedScored(s, Seq(LexIndex.fullIndex(s, dir)))),
      Similarity.adcRanks(s, dir, Bm25Queries.map(_._1), RrfArmK)
        .select(col("qid"), col("vec_id").as("doc_id"), col("vrank").as("vec_rank")))

  private val q135Sql =
    s"""WITH $bm25SqlCtes,
      |${Similarity.pqSqlCtes},
      |${Similarity.adcRanksSqlCtes(Bm25Queries.map(_._1), RrfArmK)},
      |$rrfFusionSqlTail""".stripMargin

  // ---------------------------------------------------------------------
  // q138 — SERVED HYBRID FUSION UNDER TAKEDOWN: q135's deployed stack
  // honoring ONE removal request on BOTH arms — the lifecycle gap the
  // vector takedown (q136) exists to close: before it, a removed doc's
  // postings vanished from the lexical arm (q133) while its PQ codes
  // kept serving, so the fused ranking leaked the takedown through the
  // vector arm. The request is the shared bare id list {id % 7 = 3}
  // (the fixture binds vec_id = doc_id, so one list masks both
  // artifacts): the lexical arm serves q131's index ∪ its tombstone
  // (exact BM25 subtraction, q133's proof), the vector arm serves
  // q79's codes anti-joined against its tombstone (exact under the
  // frozen codebook, q136's proof), and the fusion core is q129's own
  // rrfFuse. The oracle rebuilds the lexical stack over the surviving
  // documents and replays the vector stack with the removed ids
  // excluded from serving only — a hash match proves the END-TO-END
  // serving surface honors the removal exactly, not arm by arm.
  // Scale: q135's plan plus one broadcast anti-join probe per arm.
  private def q138(s: SparkSession, dir: String): DataFrame =
    rrfFuse(
      lexArm(LexIndex.servedScored(s, Seq(LexIndex.fullIndex(s, dir)),
        Seq(LexIndex.fullTombstone(s, dir)))),
      Similarity.adcRanks(s, dir, Bm25Queries.map(_._1), RrfArmK,
        Seq(Similarity.fullPqTombstone(s, dir)))
        .select(col("qid"), col("vec_id").as("doc_id"), col("vrank").as("vec_rank")))

  private val q138Sql =
    s"""WITH ${bm25SqlCtes.replace("FROM documents",
           "FROM documents WHERE doc_id % 7 <> 3")},
      |${Similarity.pqSqlCtes},
      |${Similarity.adcRanksSqlCtes(Bm25Queries.map(_._1), RrfArmK,
           serveWhere = "a.vec_id % 7 <> 3")},
      |$rrfFusionSqlTail""".stripMargin

  // ---------------------------------------------------------------------
  // q141 — RRF k0 SENSITIVITY CURVE: the tuning-knob measurement for
  // the hybrid family (the q122/q107 discipline — one detector pass,
  // the whole curve). RRF's single parameter k0 sets the blend's
  // top-heaviness: small k0 makes rank-1 hits dominate (the arms'
  // winners crowd the fusion), large k0 flattens contributions toward
  // arm-overlap consensus. The committed default is 60 (Cormack et
  // al.); before changing it, an engineer reads THIS relation — per
  // candidate k0 over the EXACT arms (q129's): agreement with the
  // committed fusion (mean top-5 overlap, ppm) and the blend
  // composition (share of fused rows contributed by the lexical arm
  // only / both arms / the vector arm only, ppm). All integer.
  //
  // The composition column is the curve's KEY: k0 only reorders docs
  // the arms SHARE — a doc in one arm contributes the single term
  // 1e9/(k0+r), monotone in r with the same k0 shift for every doc, so
  // on disjoint arms the fused ordering is k0-INVARIANT (a structural
  // theorem, pinned by HybridSpec: both_ppm = 0 forces agree60_ppm =
  // 1e6 at every k0, and a hand-built overlapping pair shows the knob
  // flip). When this relation shows both_ppm ≈ 0 the right move is to
  // tune the ARMS (depth, candidate generation), not k0 — exactly the
  // decision the curve exists to inform.
  //
  // Scale shape: the two arms compute ONCE (each its parent's audited
  // plan) into tracked caches of ≤ |workload|×armK rows; every per-k0
  // fusion and the final rollup run over those bounded relations only
  // — corpus cost is exactly one q129 regardless of grid size.
  private val RrfK0Grid = Seq(10, 30, 60, 120)

  private def q141(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lex = lexArm(bm25Scored(s, dir))
    val vec = Similarity.bruteRanks(s, dir, Bm25Queries.map(_._1), RrfArmK)
      .select(col("qid"), col("vec_id").as("doc_id"), col("vrank").as("vec_rank"))
    // ONE arm-pair substrate for the whole grid (the q187 shared-pass
    // move): the full-outer arm join does not depend on k0, so it runs
    // once and the grid fans out over its rows through a broadcast
    // cross join + one (k0, qid) re-rank — instead of re-joining and
    // re-windowing the arms once PER grid point (4 joins + 4 windows
    // → 1 + 1; same rows per arm as rrfFuse by construction: rrf_ppb
    // and the per-(k0, qid) row_number are computed identically).
    val fusedAll = graft.Caches.track(
      lex.join(vec, Seq("qid", "doc_id"), "full_outer")
        .crossJoin(broadcast(RrfK0Grid.toDF("k0")))
        .withColumn("rrf_ppb",
          coalesce(expr("1000000000L div CAST(k0 + lex_rank AS BIGINT)"), lit(0L)) +
          coalesce(expr("1000000000L div CAST(k0 + vec_rank AS BIGINT)"), lit(0L)))
        .withColumn("rank", row_number().over(
          Window.partitionBy("k0", "qid").orderBy(col("rrf_ppb").desc, col("doc_id"))))
        .filter(col("rank") <= RrfTopK))
    val base = fusedAll.filter(col("k0") === RrfK0)
      .select(col("qid"), col("doc_id"), lit(1).as("in_base"))
    fusedAll
      .join(base, Seq("qid", "doc_id"), "left")
      .groupBy("k0")
      .agg(
        expr(s"(1000000 * sum(coalesce(in_base, 0))) div (${RrfTopK * Bm25Queries.size})")
          .as("agree60_ppm"),
        expr("(1000000 * sum(CASE WHEN vec_rank IS NULL THEN 1 ELSE 0 END)) div count(1)")
          .as("lex_only_ppm"),
        expr("(1000000 * sum(CASE WHEN lex_rank IS NOT NULL AND vec_rank IS NOT NULL THEN 1 ELSE 0 END)) div count(1)")
          .as("both_ppm"),
        expr("(1000000 * sum(CASE WHEN lex_rank IS NULL THEN 1 ELSE 0 END)) div count(1)")
          .as("vec_only_ppm"))
      .orderBy("k0")
  }

  private val q141Sql = {
    val k0vals = RrfK0Grid.map(k => s"($k)").mkString(", ")
    s"""WITH $bm25SqlCtes,
      |${Similarity.bruteRanksSqlCtes(Bm25Queries.map(_._1), RrfArmK)},
      |k0s(k0) AS (VALUES $k0vals),
      |lexr AS (
      |  SELECT qid, doc_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INT) AS lex_rank
      |  FROM scored WHERE doc_id != qid),
      |lex AS (SELECT qid, doc_id, lex_rank FROM lexr WHERE lex_rank <= $RrfArmK),
      |vecn AS (SELECT qid, vec_id AS doc_id, vrank AS vec_rank FROM vranks),
      |pairs AS (
      |  SELECT COALESCE(l.qid, v.qid) AS qid, COALESCE(l.doc_id, v.doc_id) AS doc_id,
      |         l.lex_rank, v.vec_rank
      |  FROM lex l FULL OUTER JOIN vecn v ON l.qid = v.qid AND l.doc_id = v.doc_id),
      |fusedk AS (
      |  SELECT k.k0, p.qid, p.doc_id, p.lex_rank, p.vec_rank,
      |         COALESCE(CAST(1000000000 // (k.k0 + p.lex_rank) AS BIGINT), CAST(0 AS BIGINT)) +
      |         COALESCE(CAST(1000000000 // (k.k0 + p.vec_rank) AS BIGINT), CAST(0 AS BIGINT)) AS ppb
      |  FROM pairs p CROSS JOIN k0s k),
      |rankedk AS (
      |  SELECT k0, qid, doc_id, lex_rank, vec_rank,
      |         ROW_NUMBER() OVER (PARTITION BY k0, qid ORDER BY ppb DESC, doc_id) AS rk
      |  FROM fusedk),
      |topk AS (SELECT * FROM rankedk WHERE rk <= $RrfTopK),
      |basek AS (SELECT qid, doc_id FROM topk WHERE k0 = $RrfK0)
      |SELECT t.k0,
      |       (1000000 * CAST(SUM(CASE WHEN b.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT))
      |         // ${RrfTopK * Bm25Queries.size} AS agree60_ppm,
      |       (1000000 * CAST(SUM(CASE WHEN t.vec_rank IS NULL THEN 1 ELSE 0 END) AS BIGINT))
      |         // COUNT(*) AS lex_only_ppm,
      |       (1000000 * CAST(SUM(CASE WHEN t.lex_rank IS NOT NULL AND t.vec_rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT))
      |         // COUNT(*) AS both_ppm,
      |       (1000000 * CAST(SUM(CASE WHEN t.lex_rank IS NULL THEN 1 ELSE 0 END) AS BIGINT))
      |         // COUNT(*) AS vec_only_ppm
      |FROM topk t LEFT JOIN basek b ON t.qid = b.qid AND t.doc_id = b.doc_id
      |GROUP BY t.k0 ORDER BY t.k0""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q130 — VOCABULARY STATISTICS REPORT: the corpus-level relation a
  // tokenizer/vocab-planning pass reads before training (and the input
  // Good-Turing smoothing needs). Two sections in one tidy schema
  // (kind, bucket, n_types, n_toks, cum_types, cov_ppm):
  //  - 'spectrum' — frequency-of-frequencies: bucket = ⌊log₂ c⌋ of each
  //    token type's corpus count c (the catalog's transcendental-free
  //    length(bin(·))−1), n_types/n_toks per bucket, and DESCENDING
  //    cumulatives: cum_types = vocabulary size if the tokenizer keeps
  //    every type with c ≥ 2^bucket, cov_ppm = the ppm of corpus tokens
  //    that vocabulary covers — the actual cut-threshold planning curve.
  //  - 'heaps' — vocabulary growth: bucket = one of 10 doc_id-range
  //    deciles (floor(id·10/(max+1)) — id-range buckets, deterministic
  //    with no global rank), n_types = types FIRST seen in the decile
  //    (min first-occurrence doc), n_toks = occurrences in the decile,
  //    and ASCENDING cumulatives: cum_types = the Heaps curve V(prefix),
  //    cov_ppm = the ppm of the corpus consumed — the measured-regime
  //    curve HeapsProbe samples, as a first-class catalog relation.
  // Empty tokens (consecutive separators) carry no vocabulary meaning
  // and are filtered identically on both engines.
  //
  // Determinism: counts, ⌊log₂⌋ buckets, arithmetic deciles, and ppm
  // divisions are all exact int64 — no floats anywhere.
  //
  // Scale shape: ONE corpus token explode; the per-type (count, min
  // first_doc) aggregation is the only corpus-sized shuffle, on the
  // token key — Zipf-skewed by nature, but both aggregates are
  // partial-aggregating, so a hot type ("the") reaches the reducer as
  // ≤ one partial row per map partition, never its occurrence stream.
  // The decile occurrence rollup is a 10-key partial-agg count. Both
  // section relations are bounded (≤64 and ≤10 rows); the cumulative
  // triangle join and totals join run on those bounded relations only.
  private def q130(s: SparkSession, dir: String): DataFrame =
    vocabReportOn(Tables.documentsWide(s, dir).select("doc_id", "text"))

  /** [[q130]] over a GIVEN (doc_id, text) relation — the testable core
    * (the catalog fixture's vocabulary is the documented degenerate
    * ~31-type corpus, so CorpusSpec exercises the bucket/cumulative
    * logic on a hand-built corpus with a real spectrum as well). */
  private[graft] def vocabReportOn(docs: DataFrame): DataFrame = {
    // tracked caches: maxd feeds both decile computations, types feeds
    // the spectrum AND the first-seen rollup, base feeds both sides of
    // the cumulative triangle plus the totals — without them each
    // consumer would replay the corpus pipeline. All three are bounded
    // (1 row / Heaps-law vocab / ≤74 rows).
    val maxd = graft.Caches.track(docs.agg(max(col("doc_id")).as("md")))
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val types = graft.Caches.track(toks.groupBy("tok")
      .agg(count(lit(1)).as("c"), min(col("doc_id")).as("first_doc")))
    val spec = types
      .withColumn("bucket", (length(bin(col("c"))) - 1).cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_toks"))
      .select(lit("spectrum").as("kind"), col("bucket"), col("n_types"),
        col("n_toks"), (-col("bucket")).as("ok"))
    val hpTypes = types.crossJoin(broadcast(maxd))
      .select(expr("CAST(first_doc * 10 div (md + 1) AS INT)").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_types"))
    // per-decile occurrences: a NARROW second pass — token count per doc
    // is a scalar expression (no explode), aggregated on 10 keys
    val hpToks = docs.crossJoin(broadcast(maxd))
      .select(expr("CAST(doc_id * 10 div (md + 1) AS INT)").as("bucket"),
        size(expr("filter(split(text, ' '), x -> length(x) > 0)")).cast("long").as("n"))
      .groupBy("bucket").agg(sum(col("n")).as("n_toks"))
      .filter(col("n_toks") > 0)
    val heaps = hpToks.join(hpTypes, Seq("bucket"), "left")
      .select(lit("heaps").as("kind"), col("bucket"),
        coalesce(col("n_types"), lit(0L)).as("n_types"), col("n_toks"),
        col("bucket").cast("int").as("ok"))
    val base = graft.Caches.track(spec.unionByName(heaps))
    val tot = base.groupBy("kind").agg(sum(col("n_toks")).as("tot"))
    base.as("a")
      .join(broadcast(base.select(col("kind"), col("ok"),
        col("n_types").as("bt"), col("n_toks").as("bk")).as("b")),
        col("a.kind") === col("b.kind") && col("b.ok") <= col("a.ok"))
      .groupBy(col("a.kind").as("kind"), col("a.bucket").as("bucket"),
        col("a.n_types").as("n_types"), col("a.n_toks").as("n_toks"))
      .agg(sum(col("bt")).as("cum_types"), sum(col("bk")).as("cum_toks"))
      .join(broadcast(tot), "kind")
      .select(col("kind"), col("bucket"), col("n_types"), col("n_toks"),
        col("cum_types"),
        expr("1000000L * cum_toks div tot").as("cov_ppm"))
      .orderBy("kind", "bucket")
  }

  private val q130Sql =
    """WITH vtoks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |vtoksf AS (SELECT doc_id, tok FROM vtoks WHERE length(tok) > 0),
      |vtypes AS (
      |  SELECT tok, COUNT(*) AS c, MIN(doc_id) AS first_doc
      |  FROM vtoksf GROUP BY tok),
      |vmaxd AS (SELECT MAX(doc_id) AS md FROM documents),
      |vspec AS (
      |  SELECT CAST(length(bin(c)) - 1 AS INTEGER) AS bucket,
      |         COUNT(*) AS n_types, CAST(SUM(c) AS BIGINT) AS n_toks
      |  FROM vtypes GROUP BY 1),
      |vhpt AS (
      |  SELECT CAST(first_doc * 10 // (md + 1) AS INTEGER) AS bucket, COUNT(*) AS n_types
      |  FROM vtypes CROSS JOIN vmaxd GROUP BY 1),
      |vhpk AS (
      |  SELECT CAST(doc_id * 10 // (md + 1) AS INTEGER) AS bucket, COUNT(*) AS n_toks
      |  FROM vtoksf CROSS JOIN vmaxd GROUP BY 1),
      |vbase AS (
      |  SELECT 'spectrum' AS kind, bucket, n_types, n_toks, -bucket AS ok FROM vspec
      |  UNION ALL
      |  SELECT 'heaps', k.bucket, CAST(COALESCE(t.n_types, 0) AS BIGINT), k.n_toks, k.bucket
      |  FROM vhpk k LEFT JOIN vhpt t USING (bucket)),
      |vtot AS (SELECT kind, CAST(SUM(n_toks) AS BIGINT) AS tot FROM vbase GROUP BY kind),
      |vcum AS (
      |  SELECT a.kind, a.bucket, a.n_types, a.n_toks,
      |         CAST(SUM(b.n_types) AS BIGINT) AS cum_types,
      |         CAST(SUM(b.n_toks) AS BIGINT) AS cum_toks
      |  FROM vbase a JOIN vbase b ON a.kind = b.kind AND b.ok <= a.ok
      |  GROUP BY a.kind, a.bucket, a.n_types, a.n_toks)
      |SELECT c.kind, c.bucket, CAST(c.n_types AS BIGINT) AS n_types, c.n_toks,
      |       c.cum_types, CAST(1000000 * c.cum_toks // t.tot AS BIGINT) AS cov_ppm
      |FROM vcum c JOIN vtot t USING (kind) ORDER BY kind, bucket""".stripMargin

  // ---------------------------------------------------------------------
  // q92 — DETERMINISTIC CORPUS SHUFFLE + SHARDING: the global permutation
  // every pre-training run applies before writing shards (GPT-3 / The
  // Pile data prep). The permutation key is the md5-int64 of the doc id
  // (seeded), the shard is the key's LOW 4 bits, and the within-shard
  // position is the rank of the key's remaining bits — reproducible on
  // any engine and any partitioning, no RNG state.
  //
  // Scale shape: positions within a shard are a corpus-sized total
  // order, so they are materialized with the q60 TWO-PHASE prefix sum,
  // never a per-shard global sort: the key's HIGH 6 bits form 64 range
  // buckets per shard (bucket order ≡ key order by construction);
  // per-(shard, bucket) counts (bounded relation: 16×64 rows) produce
  // bucket offsets with a window over the tiny counts relation, and the
  // within-bucket rank is a window over (shard, bucket) — 1024 uniform
  // partitions whose size is corpus/1024, the audited pattern. At 1000
  // executors the plan is two corpus shuffles (bucket agg + rank
  // window), both on uniform fixed-width keys.
  private[graft] val NumShards = 16

  /** The permutation machinery, shared by q92 (whole corpus) and q96
    * (survivors only): every input row gains (shard, pos) — shard from
    * the md5 key's low 4 bits, pos via the two-phase prefix sum over
    * the key's high-6-bit range buckets. Pass-through columns survive. */
  private[graft] def shardPositions(docs: DataFrame): DataFrame = {
    val keyed = docs
      .withColumn("key",
        conv(substring(md5(concat(lit("shard:"), col("doc_id"))), 1, 15), 16, 10)
          .cast("long"))
      .withColumn("shard", (col("key") % NumShards).cast("int"))
      // key < 16^15 = 2^60; high 6 bits: div 2^54
      .withColumn("bucket", (col("key") / lit(1L << 54)).cast("int"))
    val offsets = keyed
      .groupBy("shard", "bucket").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum(col("c")).over(
        Window.partitionBy("shard").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("shard", "bucket", "off")
    keyed
      .withColumn("rn", row_number().over(
        Window.partitionBy("shard", "bucket").orderBy("key", "doc_id")))
      .join(broadcast(offsets), Seq("shard", "bucket"))
      .withColumn("pos", (col("off") + col("rn")).cast("long"))
      .drop("key", "bucket", "off", "rn")
  }

  private def q92(s: SparkSession, dir: String): DataFrame =
    shardPositions(Tables.documents(s, dir).select(col("doc_id"), col("n_chars")))
      .select("doc_id", "shard", "pos", "n_chars")
      .orderBy("shard", "pos")

  private val q92Sql =
    s"""WITH keyed AS (
      |  SELECT doc_id, n_chars,
      |         CAST('0x' || substring(md5('shard:' || doc_id), 1, 15) AS BIGINT) AS key
      |  FROM documents)
      |SELECT doc_id, CAST(key % $NumShards AS INT) AS shard,
      |       CAST(ROW_NUMBER() OVER (PARTITION BY key % $NumShards ORDER BY key, doc_id) AS BIGINT) AS pos,
      |       n_chars
      |FROM keyed ORDER BY shard, pos""".stripMargin

  // ---------------------------------------------------------------------
  // q93 — BIGRAM LM SURPRISAL (the KenLM-perplexity quality filter,
  // CCNet §4.2 / Laurençon et al. ROOTS): train a bigram model on a
  // deterministic corpus sample, score EVERY document by its mean
  // per-bigram surprisal, keep the middle band (q67's unigram verdict,
  // upgraded to a context model: repeated templates score near 0 bits,
  // shuffled-word gibberish scores near the context entropy ceiling —
  // a unigram model cannot tell those apart when the token HISTOGRAM
  // matches). Bits are the catalog's exact integer log₂ —
  // bits(w1,w2) = ⌊log₂(c1(w1) div c2(w1,w2))⌋ via length(bin(·))−1 —
  // and unseen bigrams (or contexts) pay a flat OovBits: transcendental-
  // free, so the keep/drop boundary cannot drift between engines.
  //
  // Scale shape: the sample's bigram relation aggregates on a uniform
  // (w1,w2) key; context counts derive from it by a second small
  // aggregation (bigram-vocab-sized, NOT corpus-sized). Scoring joins
  // the corpus bigram stream against the model on the same uniform key
  // — a Heaps-law-bounded-vocabulary shuffle join, NOT broadcast by
  // contract (a 100 TB crawl's bigram vocabulary outgrows an executor)
  // — then one per-doc aggregation. The corpus is never re-keyed
  // beyond those two shuffles.
  private[graft] val LmTrainMod = 3 // private[graft]: q178's oracle interpolates it
  private[graft] val LmOovBits = 20L
  private[graft] val LmLo = 1000L // millibits/bigram — below = template boilerplate
  private[graft] val LmHi = 8000L // above = out-of-model gibberish
  private def bigrams(df: DataFrame): DataFrame = df
    .select(col("doc_id"), split(col("text"), " ").as("ts"))
    .filter(size(col("ts")) >= 2)
    .select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(ts) - 1), i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))"))
      .as("b"))
    .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
  /** q93's trained model as a relation (w1, w2, bits, c2) — the
    * TRAINING relation (Heaps-law unbounded); serving ships the
    * [[frozenBigramModel]] prune. `c2` (the bigram's sample count)
    * rides along so the prune can rank without retraining. */
  private[graft] def bigramModel(s: SparkSession, dir: String): DataFrame = {
    val sample = bigrams(
      Tables.documentsWide(s, dir).filter(col("doc_id") % LmTrainMod === 0))
    val model2 = sample.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val model1 = model2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    model2.join(model1, "w1")
      .withColumn("bits", (length(bin(expr("c1 div c2"))) - 1).cast("long"))
      .select("w1", "w2", "bits", "c2")
  }

  /** Serving-set cap for the frozen bigram-LM artifact (the
    * [[graft.streaming.Streams.bigramScore]] broadcast): 2²⁰ entries ×
    * ~30 B ≈ 32 MB, executor-memory-bounded by construction where the
    * training relation is not. */
  private[graft] val BigramServeTopM = 1 << 20

  /** q93's model pruned for serving — the [[frozenBoiler]] discipline
    * applied to the LM artifact: keep the M most-frequent bigrams
    * (count desc, then (w1, w2) — deterministic at the cut), collected
    * as the broadcast map the streaming scorer consumes. The rank runs
    * as `orderBy(…).limit(m)` = TakeOrderedAndProject (per-partition
    * partial top-M merged on the driver — never a global sort of the
    * Heaps-law relation). Pruning is one-sided and bounded: a dropped
    * rare bigram had high true bits, and the flat [[LmOovBits]] it now
    * pays is the same order — the keep/drop band moves by at most the
    * tail's bit error, while the artifact stops growing with the
    * corpus. StreamingSpec pins pruned ≡ full on the fixture (below
    * the cap) and exact top-M selection under an artificial cap.
    *
    * DRIVER MEMORY: this is the largest bounded driver-side structure
    * in the repo — at the full cap, 2²⁰ Map entries × (~20-char key +
    * boxed Long + HashMap overhead) ≈ 100–150 MB of driver heap while
    * the serving broadcast is built (the broadcast itself serializes
    * to ~32 MB). Offline-train/online-serve by design (KenLM shape):
    * the collect runs in the artifact-build step, never on the query
    * path, and a driver sized for Spark broadcasts (≥ 2 GB heap)
    * absorbs it; shrink `m` if building on a smaller driver. */
  private[graft] def frozenBigramModel(s: SparkSession, dir: String,
                                       m: Int = BigramServeTopM): Map[String, Long] =
    bigramModel(s, dir)
      .orderBy(col("c2").desc, col("w1"), col("w2")).limit(m)
      .select(concat_ws(" ", col("w1"), col("w2")).as("k"), col("bits"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  /** q93's per-doc verdict, shared with the selector-agreement matrix
    * (Curation q178) so the two relations cannot drift. */
  private[graft] def bigramVerdicts(s: SparkSession, dir: String): DataFrame =
    q93(s, dir).select("doc_id", "keep")

  private def q93(s: SparkSession, dir: String): DataFrame = {
    val model = bigramModel(s, dir)
    bigrams(Tables.documentsWide(s, dir))
      .join(model, Seq("w1", "w2"), "left")
      .withColumn("b", coalesce(col("bits"), lit(LmOovBits)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("b")).as("total_bits"))
      .withColumn("millibits", expr("(total_bits * 1000) div n_bigrams"))
      .withColumn("keep", col("millibits") >= LmLo && col("millibits") <= LmHi)
      .select("doc_id", "n_bigrams", "total_bits", "millibits", "keep")
      .orderBy("doc_id")
  }

  private val q93Sql =
    s"""WITH big AS (
      |  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |       LATERAL (SELECT unnest(range(1, len(ts))) AS i)
      |  WHERE len(ts) >= 2),
      |m2 AS (
      |  SELECT w1, w2, COUNT(*) AS c2 FROM big
      |  WHERE doc_id % $LmTrainMod = 0 GROUP BY w1, w2),
      |m1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM m2 GROUP BY w1),
      |model AS (
      |  SELECT m2.w1, m2.w2, CAST(length(bin(c1 // c2)) - 1 AS BIGINT) AS bits
      |  FROM m2 JOIN m1 USING (w1)),
      |scored AS (
      |  SELECT b.doc_id, COUNT(*) AS n_bigrams,
      |         CAST(SUM(COALESCE(m.bits, $LmOovBits)) AS BIGINT) AS total_bits
      |  FROM big b LEFT JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
      |  GROUP BY b.doc_id)
      |SELECT doc_id, n_bigrams, total_bits,
      |       (total_bits * 1000) // n_bigrams AS millibits,
      |       (total_bits * 1000) // n_bigrams BETWEEN $LmLo AND $LmHi AS keep
      |FROM scored ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q96 — COMPOSED CORPUS PREPARE: the module's end artifact, q72's
  // first-failing-stage verdict pattern applied to corpus preparation.
  // Pipeline order (each doc reports the FIRST stage that drops it):
  //   1. per-source boilerplate strip (q90's marking),
  //   2. empty_after_strip — everything the doc had was boilerplate,
  //   3. exact_dup — first-seen-wins on the md5 of the CLEANED text
  //      (dedup after stripping: two docs differing only in boilerplate
  //      ARE duplicates — the composition order is the semantics),
  //   4. too_short — cleaned token count below MinCleanToks,
  //   5. kept — assigned a training shard + position by q92's
  //      permutation over exactly the surviving set.
  // Scale shape: q90's uniform-key df aggregation + mark join; one
  // (clean_hash) window — md5-uniform keys, the q66 shape; the shard
  // positions run the q60 two-phase prefix sum over the kept set. No
  // stage rescans the corpus: cleaning, hashing, and the verdict ride
  // one reassembly aggregation.
  private[graft] val MinCleanToks = 16

  /** The q96 verdict chain, shared with q100 (which adds a media-dup
    * gate between too_short and kept): strip → empty_after_strip →
    * exact_dup → too_short → [mediaDup] → kept, then q92's permutation
    * over exactly the surviving set. `mediaDup` is a (doc_id) relation
    * of docs whose attached media near-duplicates an earlier doc's —
    * None for the text-only q96. */
  /** The verdict chain WITHOUT the shard placement or the output sort
    * — q109's funnel rollup reads only (doc_id, n_clean_toks, verdict),
    * and the optimizer cannot prune the placement left join (it can't
    * prove `placed` is key-unique), so the ledger previously paid the
    * whole two-phase prefix sum + a corpus sort for columns it never
    * read (guide §2.4). */
  private def verdictChain(s: SparkSession, dir: String,
                           mediaDup: Option[DataFrame]): DataFrame = {
    // clean_text is DROPPED the moment the token count and hash are
    // computed (guide §2.3 — shuffle keys and metadata, not payloads:
    // nothing downstream reads the reassembled text, yet the full
    // reassembled string previously rode through every downstream
    // exchange of the verdict chain). Plan references below share the
    // strip pipeline's exchanges via ReuseExchange — measured faster
    // than a tracked cache here (columnar encode of the roll-up cost
    // more than the deduped narrow segments).
    val cleaned = strippedDocs(Tables.documentsWide(s, dir))
      .withColumn("n_clean_toks",
        when(col("clean_text") === "", lit(0))
          .otherwise(size(split(col("clean_text"), " "))).cast("int"))
      .withColumn("clean_hash", md5(col("clean_text")))
      .select("doc_id", "n_segs", "n_kept", "n_clean_toks", "clean_hash")
    // first-seen-wins WITHOUT a hash-partitioned window: rk > 1 is
    // equivalent to doc_id ≠ min(doc_id) over the hash group, and the
    // min computes as a map-side-combined aggregation + equi-join — a
    // viral dup group (one clean_text replicated a billion times at
    // 100 TB) costs one partial-agg counter per map task and an
    // AQE-splittable join key, where a window would pin the whole
    // group's rows on ONE task (the msat probe's regime, BASELINE.md)
    val keepers = cleaned.groupBy("clean_hash").agg(min(col("doc_id")).as("keeper"))
    val base = cleaned.join(keepers, "clean_hash")
      .withColumn("is_dup", col("doc_id") =!= col("keeper"))
    val withMedia = mediaDup.fold(base.withColumn("media_dup", lit(null).cast("boolean"))) {
      md => base.join(md.select(col("doc_id")).distinct()
        .withColumn("media_dup", lit(true)), Seq("doc_id"), "left")
    }
    withMedia
      .withColumn("verdict",
        when(col("n_clean_toks") === 0, lit("empty_after_strip"))
          .when(col("is_dup"), lit("exact_dup"))
          .when(col("n_clean_toks") < MinCleanToks, lit("too_short"))
          .when(col("media_dup"), lit("media_dup"))
          .otherwise(lit("kept")))
  }

  private def prepareVerdicts(s: SparkSession, dir: String,
                              mediaDup: Option[DataFrame]): DataFrame = {
    val ranked = verdictChain(s, dir, mediaDup)
    val placed = shardPositions(
      ranked.filter(col("verdict") === "kept").select("doc_id"))
      .select("doc_id", "shard", "pos")
    ranked.select("doc_id", "n_segs", "n_kept", "n_clean_toks", "verdict")
      .join(placed, Seq("doc_id"), "left")
      .orderBy("doc_id")
      .select("doc_id", "n_segs", "n_kept", "n_clean_toks", "verdict", "shard", "pos")
  }

  private def q96(s: SparkSession, dir: String): DataFrame =
    prepareVerdicts(s, dir, mediaDup = None)

  private val q96Sql =
    s"""WITH t AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS ts,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents),
      |segs AS (
      |  SELECT doc_id, source, CAST(seg_id AS INT) AS seg_id,
      |         array_to_string(ts[(seg_id * $BoilerSegLen + 1):(seg_id * $BoilerSegLen + $BoilerSegLen)], ' ') AS seg
      |  FROM (SELECT doc_id, source, ts, unnest(range(0, (n - 1) // $BoilerSegLen + 1)) AS seg_id FROM t)),
      |boiler AS (
      |  SELECT source, seg FROM segs
      |  GROUP BY source, seg HAVING COUNT(DISTINCT doc_id) >= $BoilerMinDf),
      |marked AS (
      |  SELECT s.doc_id, s.seg_id, s.seg, b.seg IS NULL AS kept
      |  FROM segs s LEFT JOIN boiler b ON s.source = b.source AND s.seg = b.seg),
      |cleaned AS (
      |  SELECT doc_id,
      |         CAST(COUNT(*) AS INT) AS n_segs,
      |         CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS INT) AS n_kept,
      |         COALESCE(string_agg(CASE WHEN kept THEN seg END, ' ' ORDER BY seg_id), '') AS clean_text
      |  FROM marked GROUP BY doc_id),
      |scored AS (
      |  SELECT doc_id, n_segs, n_kept,
      |         CAST(CASE WHEN clean_text = '' THEN 0
      |              ELSE len(string_split(clean_text, ' ')) END AS INT) AS n_clean_toks,
      |         md5(clean_text) AS clean_hash
      |  FROM cleaned),
      |ranked AS (
      |  SELECT *,
      |         ROW_NUMBER() OVER (PARTITION BY clean_hash ORDER BY doc_id) AS rk
      |  FROM scored),
      |verdicts AS (
      |  SELECT doc_id, n_segs, n_kept, n_clean_toks,
      |         CASE WHEN n_clean_toks = 0 THEN 'empty_after_strip'
      |              WHEN rk > 1 THEN 'exact_dup'
      |              WHEN n_clean_toks < $MinCleanToks THEN 'too_short'
      |              ELSE 'kept' END AS verdict
      |  FROM ranked),
      |keyed AS (
      |  SELECT doc_id,
      |         CAST('0x' || substring(md5('shard:' || doc_id), 1, 15) AS BIGINT) AS key
      |  FROM verdicts WHERE verdict = 'kept'),
      |placed AS (
      |  SELECT doc_id, CAST(key % $NumShards AS INT) AS shard,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY key % $NumShards ORDER BY key, doc_id) AS BIGINT) AS pos
      |  FROM keyed)
      |SELECT v.doc_id, v.n_segs, v.n_kept, v.n_clean_toks, v.verdict, p.shard, p.pos
      |FROM verdicts v LEFT JOIN placed p ON v.doc_id = p.doc_id
      |ORDER BY v.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q100 — MULTIMODAL CORPUS PREPARE: q96's verdict chain extended with
  // the perceptual-dedup family — the "one artifact per corpus drop" a
  // production multimodal pipeline ships. Stage order (first failing
  // stage wins, q72's verdict pattern): boilerplate strip →
  // empty_after_strip → exact_dup (cleaned text) → too_short →
  // media_dup → kept, placed by q92's permutation over the survivors.
  // media_dup fires when the doc's ATTACHED media near-duplicates an
  // EARLIER doc's: q94's image-aHash Hamming pairs and q95's audio-
  // envelope pairs drop the later (d2) side; q97's signature groups
  // drop the non-leaders — the same later-copy attribution as
  // exact_dup's rk ordering and q99's dup accounting.
  //
  // All three codecs run through the CHECKED dead-letter decode path
  // (imageAHashesChecked / audioEnvelopeHashesChecked /
  // videoSignaturesChecked): a corrupt payload lands decode_ok = false,
  // cannot testify to a media_dup verdict, and never kills the prepare
  // job — the end-to-end composition the K8 contract exists for (specs
  // corrupt each modality; the oracle certifies the clean-path decode).
  //
  // Scale shape: q96's uniform-key shuffles + three narrow per-partition
  // codec maps; ONLY fixed-width hash relations (64/32/128 chars per
  // media item) are shuffled or joined — corpus media bytes never leave
  // their scan partitions. Candidate generation is the shared capped
  // bandedHammingPairs machinery; the verdict join adds one md5-uniform
  // doc_id equi-join to q96's plan.
  private def q100(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Multimodal
    // sorted = false on all three codecs: every downstream consumer here
    // joins or aggregates the hash relations, so the pre-codec global id
    // sorts (3 sampling passes + 3 range exchanges) bought nothing
    val img = Multimodal.imageAHashesChecked(
        Multimodal.synthesizeImages(s, dir, sorted = false)).toDF()
      .filter(col("decode_ok")).select("doc_id", "ahash")
    val aud = Multimodal.audioEnvelopeHashesChecked(
        Multimodal.synthesizeAudio(s, dir, sorted = false)).toDF()
      .filter(col("decode_ok")).select("doc_id", "ehash")
    val vid = Multimodal.videoSignaturesChecked(
        Multimodal.synthesizeVideos(s, dir, sorted = false)).toDF()
      .filter(col("decode_ok")).select("doc_id", "sig")
    // group leaders via agg + join, not a sig window — the saturation
    // regime (one viral video, a billion copies) must split across
    // tasks; see prepareVerdicts
    val vidDup = vid
      .join(vid.groupBy("sig").agg(min(col("doc_id")).as("gid")), "sig")
      .filter(col("doc_id") =!= col("gid"))
      .select("doc_id")
    val mediaDup = Dedup.bandedHammingPairs(img, "ahash", nBands = 8, bandBits = 8,
        hamMax = TextPipeline.AHashHamMax, ordered = false).select(col("d2").as("doc_id"))
      .unionByName(Dedup.bandedHammingPairs(aud, "ehash", nBands = 4, bandBits = 8,
        hamMax = TextPipeline.EnvHamMax, ordered = false).select(col("d2").as("doc_id")))
      .unionByName(vidDup)
    prepareVerdicts(s, dir, Some(mediaDup))
  }

  // The oracle replays q96's chain plus all three media formulas
  // relationally (it never sees PNG/WAV/AVI bytes): a hash match
  // certifies the three checked decode round-trips AND the composed
  // verdict semantics in one gate.
  private val q100Sql =
    s"""WITH d0 AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS ts,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents),
      |segs AS (
      |  SELECT doc_id, source, CAST(seg_id AS INT) AS seg_id,
      |         array_to_string(ts[(seg_id * $BoilerSegLen + 1):(seg_id * $BoilerSegLen + $BoilerSegLen)], ' ') AS seg
      |  FROM (SELECT doc_id, source, ts, unnest(range(0, (n - 1) // $BoilerSegLen + 1)) AS seg_id FROM d0)),
      |boiler AS (
      |  SELECT source, seg FROM segs
      |  GROUP BY source, seg HAVING COUNT(DISTINCT doc_id) >= $BoilerMinDf),
      |marked AS (
      |  SELECT s.doc_id, s.seg_id, s.seg, b.seg IS NULL AS kept
      |  FROM segs s LEFT JOIN boiler b ON s.source = b.source AND s.seg = b.seg),
      |cleaned AS (
      |  SELECT doc_id,
      |         CAST(COUNT(*) AS INT) AS n_segs,
      |         CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS INT) AS n_kept,
      |         COALESCE(string_agg(CASE WHEN kept THEN seg END, ' ' ORDER BY seg_id), '') AS clean_text
      |  FROM marked GROUP BY doc_id),
      |scored AS (
      |  SELECT doc_id, n_segs, n_kept,
      |         CAST(CASE WHEN clean_text = '' THEN 0
      |              ELSE len(string_split(clean_text, ' ')) END AS INT) AS n_clean_toks,
      |         md5(clean_text) AS clean_hash
      |  FROM cleaned),
      |ranked AS (
      |  SELECT *,
      |         ROW_NUMBER() OVER (PARTITION BY clean_hash ORDER BY doc_id) AS rk
      |  FROM scored),
      |i_img AS (
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
      |                    THEN '1' ELSE '0' END, '' ORDER BY b) AS ahash
      |  FROM i_bsum JOIN i_tot USING (doc_id) GROUP BY doc_id),
      |i_bands AS (
      |  SELECT doc_id, ahash, b AS band, substring(ahash, b * 8 + 1, 8) AS bk
      |  FROM i_ah CROSS JOIN (SELECT unnest(range(8)) AS b)),
      |i_bsz AS (SELECT band, bk, COUNT(*) AS c FROM i_bands GROUP BY band, bk),
      |i_cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.ahash AS h1, b.ahash AS h2
      |  FROM i_bands a JOIN i_bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
      |  JOIN i_bsz k ON k.band = a.band AND k.bk = a.bk
      |  WHERE k.c <= ${Dedup.BucketCap}),
      |i_dup AS (
      |  SELECT DISTINCT d2 AS doc_id FROM i_cand
      |  WHERE len(list_filter([substring(h1, i, 1) != substring(h2, i, 1) for i in range(1, 65)], x -> x)) <= ${TextPipeline.AHashHamMax}),
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
      |         string_agg(CASE WHEN s * n >= t * c THEN '1' ELSE '0' END, '' ORDER BY f) AS ehash
      |  FROM a_fs JOIN a_tot USING (doc_id) GROUP BY doc_id),
      |a_bands AS (
      |  SELECT doc_id, ehash, b AS band, substring(ehash, b * 8 + 1, 8) AS bk
      |  FROM a_ah CROSS JOIN (SELECT unnest(range(4)) AS b)),
      |a_bsz AS (SELECT band, bk, COUNT(*) AS c FROM a_bands GROUP BY band, bk),
      |a_cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.ehash AS h1, b.ehash AS h2
      |  FROM a_bands a JOIN a_bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
      |  JOIN a_bsz k ON k.band = a.band AND k.bk = a.bk
      |  WHERE k.c <= ${Dedup.BucketCap}),
      |a_dup AS (
      |  SELECT DISTINCT d2 AS doc_id FROM a_cand
      |  WHERE len(list_filter([substring(h1, i, 1) != substring(h2, i, 1) for i in range(1, 33)], x -> x)) <= ${TextPipeline.EnvHamMax}),
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
      |                    THEN '1' ELSE '0' END, '' ORDER BY f, b) AS sig
      |  FROM v_bsum JOIN v_ftot USING (doc_id, f) GROUP BY doc_id),
      |v_dup AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY sig) AS gid FROM v_sig)
      |  WHERE doc_id <> gid),
      |mdup AS (
      |  SELECT doc_id FROM i_dup
      |  UNION SELECT doc_id FROM a_dup
      |  UNION SELECT doc_id FROM v_dup),
      |verdicts AS (
      |  SELECT r.doc_id, n_segs, n_kept, n_clean_toks,
      |         CASE WHEN n_clean_toks = 0 THEN 'empty_after_strip'
      |              WHEN rk > 1 THEN 'exact_dup'
      |              WHEN n_clean_toks < $MinCleanToks THEN 'too_short'
      |              WHEN m.doc_id IS NOT NULL THEN 'media_dup'
      |              ELSE 'kept' END AS verdict
      |  FROM ranked r LEFT JOIN mdup m ON r.doc_id = m.doc_id),
      |keyed AS (
      |  SELECT doc_id,
      |         CAST('0x' || substring(md5('shard:' || doc_id), 1, 15) AS BIGINT) AS key
      |  FROM verdicts WHERE verdict = 'kept'),
      |placed AS (
      |  SELECT doc_id, CAST(key % $NumShards AS INT) AS shard,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY key % $NumShards ORDER BY key, doc_id) AS BIGINT) AS pos
      |  FROM keyed)
      |SELECT v.doc_id, v.n_segs, v.n_kept, v.n_clean_toks, v.verdict, p.shard, p.pos
      |FROM verdicts v LEFT JOIN placed p ON v.doc_id = p.doc_id
      |ORDER BY v.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q98 — RENDEZVOUS (HRW) SHARD REBALANCE: the minimal-movement
  // resharding plan for growing a sharded corpus store (Thaler &
  // Ravishankar's highest-random-weight hashing — the scheme behind
  // consistent cache/shard assignment). Each doc's shard is the argmax
  // of md5('hrw:'||doc||':'||shard) over the shard set; growing 16 → 20
  // shards moves a document IFF one of the four NEW shards wins its
  // argmax — expected 4/20 = 20% movement, and every move lands on a
  // new shard (old shards never exchange docs — the property mod-N
  // sharding lacks, where 16 → 20 relocates ~80%). The plan is a PURE
  // NARROW MAP: per doc, 20 md5s + argmax via array_max/array_position
  // (no struct-ordering dependence across engines), zero shuffle at any
  // corpus size; the output sort is the only exchange.
  private val OldShards = 16
  private val NewShards = 20
  private def hrwArr(n: Int) =
    s"transform(sequence(0, ${n - 1}), s -> CAST(conv(substring(md5(concat('hrw:', CAST(doc_id AS STRING), ':', CAST(s AS STRING))), 1, 15), 16, 10) AS BIGINT))"
  private def q98(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"))
      .withColumn("h_old", expr(hrwArr(OldShards)))
      .withColumn("h_new", expr(hrwArr(NewShards)))
      .withColumn("shard_old",
        (expr("array_position(h_old, array_max(h_old))") - 1).cast("int"))
      .withColumn("shard_new",
        (expr("array_position(h_new, array_max(h_new))") - 1).cast("int"))
      .withColumn("moved", col("shard_old") =!= col("shard_new"))
      .select("doc_id", "shard_old", "shard_new", "moved")
      .orderBy("doc_id")
  }

  private val q98Sql = {
    def arr(n: Int) =
      s"[CAST(('0x' || substring(md5('hrw:' || doc_id || ':' || s), 1, 15)) AS BIGINT) for s in range(0, $n)]"
    s"""WITH hs AS (
      |  SELECT doc_id, ${arr(OldShards)} AS h_old, ${arr(NewShards)} AS h_new
      |  FROM documents),
      |pick AS (
      |  SELECT doc_id,
      |         CAST(list_position(h_old, list_max(h_old)) - 1 AS INT) AS shard_old,
      |         CAST(list_position(h_new, list_max(h_new)) - 1 AS INT) AS shard_new
      |  FROM hs)
      |SELECT doc_id, shard_old, shard_new, shard_old != shard_new AS moved
      |FROM pick ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q99 — DATASET CARD: the per-source release report (dataset-card
  // tables à la The Pile / ROOTS documentation): document and token
  // volume, language spread, global exact-dup count attributed to the
  // source holding the LATER copy, and the short-document rate in
  // integer ppm. Scale shape: one (text-md5) first-seen window —
  // md5-uniform keys, the q66 shape — then one (source) aggregation
  // whose key cardinality is the source list; everything else rides the
  // same pass. The ppm rate is integer div (the catalog's
  // transcendental-free discipline).
  private val CardShortToks = 16
  private def q99(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        md5(col("text")).as("th"))
    // first-seen via agg + join, not a th window — a viral exact-dup
    // group must split across tasks; see prepareVerdicts
    val docs = keyed
      .join(keyed.groupBy("th").agg(min(col("doc_id")).as("keeper")), "th")
      .withColumn("is_dup", col("doc_id") =!= col("keeper"))
    docs.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"),
        expr(s"(1000000 * sum(CASE WHEN n_toks < $CardShortToks THEN 1 ELSE 0 END)) div count(1)")
          .as("short_ppm"))
      .orderBy("source")
  }

  private val q99Sql =
    s"""WITH d AS (
      |  SELECT doc_id, source, lang,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
      |         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1 AS is_dup
      |  FROM documents)
      |SELECT source,
      |       COUNT(*) AS n_docs,
      |       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
      |       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      |       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
      |       CAST((1000000 * SUM(CASE WHEN n_toks < $CardShortToks THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS short_ppm
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q109 — CURATION FUNNEL LEDGER: the stage-by-stage loss accounting a
  // dataset release publishes next to the q99 card — for every stage of
  // q96's prepare chain (empty_after_strip → exact_dup → too_short →
  // kept), how many documents ended there, how many raw and cleaned
  // tokens they carried, and what fraction of the corpus that is
  // (integer ppm). This is the "where did my data go" audit: the strip
  // stage's token cost is visible as the raw-vs-clean gap, dedup's as
  // the exact_dup row, and the kept row is exactly what trains.
  //
  // Scale: reuses q96's verdict relation unchanged (same plan, no new
  // corpus pass beyond one narrow raw-token map) and rolls it up into a
  // ≤4-row relation with map-side partials; corpus totals attach as a
  // broadcast 1-row cross join. No windows, nothing driver-side.
  private def q109(s: SparkSession, dir: String): DataFrame = {
    // verdictChain, not q96: the ledger never reads shard/pos, so the
    // placement prefix sum and the corpus sort are skipped (see
    // verdictChain's doc)
    val v = verdictChain(s, dir, None).select("doc_id", "n_clean_toks", "verdict")
    val raw = Tables.documents(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_raw"))
    val tot = raw.agg(count(lit(1)).as("total_docs"), sum(col("n_raw")).as("total_raw"))
    v.join(raw, "doc_id")
      .withColumn("stage_ord",
        when(col("verdict") === "empty_after_strip", 1)
          .when(col("verdict") === "exact_dup", 2)
          .when(col("verdict") === "too_short", 3)
          .otherwise(4))
      .groupBy("stage_ord", "verdict")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_raw")).as("n_raw_toks"),
        sum(col("n_clean_toks").cast("long")).as("n_clean_toks"))
      .crossJoin(broadcast(tot))
      .withColumn("doc_ppm", expr("(1000000 * n_docs) div total_docs"))
      .withColumn("raw_tok_ppm", expr("(1000000 * n_raw_toks) div total_raw"))
      .select(col("stage_ord"), col("verdict").as("stage"), col("n_docs"),
        col("n_raw_toks"), col("n_clean_toks"), col("doc_ppm"), col("raw_tok_ppm"))
      .orderBy("stage_ord")
  }

  private val q109Sql =
    s"""WITH v AS ($q96Sql),
      |raw AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_raw
      |  FROM documents),
      |tot AS (
      |  SELECT COUNT(*) AS total_docs, CAST(SUM(n_raw) AS BIGINT) AS total_raw
      |  FROM raw),
      |staged AS (
      |  SELECT CASE v.verdict WHEN 'empty_after_strip' THEN 1 WHEN 'exact_dup' THEN 2
      |              WHEN 'too_short' THEN 3 ELSE 4 END AS stage_ord,
      |         v.verdict AS stage, r.n_raw,
      |         CAST(v.n_clean_toks AS BIGINT) AS n_clean
      |  FROM v JOIN raw r ON v.doc_id = r.doc_id)
      |SELECT stage_ord, stage, COUNT(*) AS n_docs,
      |       CAST(SUM(n_raw) AS BIGINT) AS n_raw_toks,
      |       CAST(SUM(n_clean) AS BIGINT) AS n_clean_toks,
      |       (1000000 * COUNT(*)) // tot.total_docs AS doc_ppm,
      |       (1000000 * CAST(SUM(n_raw) AS BIGINT)) // tot.total_raw AS raw_tok_ppm
      |FROM staged CROSS JOIN tot
      |GROUP BY stage_ord, stage, tot.total_docs, tot.total_raw
      |ORDER BY stage_ord""".stripMargin

  // ---------------------------------------------------------------------
  // q106 — CORPUS SNAPSHOT CHURN DIFF: the generation-to-generation
  // delta report a dataset release process publishes — given two corpus
  // snapshots, classify every document as added / removed / changed /
  // unchanged and roll the churn up per source in integer ppm. The two
  // generations are derived deterministically from the documents table
  // (a 1-in-20 md5 draw removes docs from gen A, a disjoint 1-in-20
  // draw removes from gen B, a third draw simulates a re-crawl content
  // edit), so the oracle replays the exact same synthetic delta; in
  // production the two sides are two parquet snapshot paths and the
  // plan is unchanged.
  //
  // Scale: each side reduces to (doc_id, source, content-md5) BEFORE
  // the diff join — only fixed-width hashes and ids ever shuffle, never
  // document bytes (the 100 TB contract: the diff of two 50 TB
  // snapshots moves two id+hash relations). The full-outer join is
  // doc_id-uniform; the rollup is a partial-aggregated source-sized
  // relation. Status comes from hash comparison, so a re-crawled doc
  // with byte-identical content correctly reports unchanged.
  private def q106(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("h20", conv(substring(md5(concat(lit("gen:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 20L)
    val genA = base.filter(col("h20") =!= 0L)
      .select(col("doc_id"), col("source").as("src_a"), md5(col("text")).as("ha"))
    val genB = base.filter(col("h20") =!= 1L)
      .select(col("doc_id"), col("source").as("src_b"),
        md5(when(col("h20") === 2L, concat(col("text"), lit(" u")))
          .otherwise(col("text"))).as("hb"))
    genA.join(genB, Seq("doc_id"), "full_outer")
      .withColumn("source", coalesce(col("src_a"), col("src_b")))
      .withColumn("status",
        when(col("hb").isNull, lit("removed"))
          .when(col("ha").isNull, lit("added"))
          .when(col("ha") =!= col("hb"), lit("changed"))
          .otherwise(lit("unchanged")))
      .groupBy("source")
      .agg(
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"),
        count(lit(1)).as("n_union"))
      .withColumn("churn_ppm",
        expr("(1000000 * (n_added + n_removed + n_changed)) div n_union"))
      .select("source", "n_added", "n_removed", "n_changed", "n_unchanged",
        "n_union", "churn_ppm")
      .orderBy("source")
  }

  private val q106Sql =
    """WITH base AS (
      |  SELECT doc_id, source, text,
      |         CAST(('0x' || substring(md5('gen:' || doc_id::VARCHAR), 1, 15)) AS BIGINT) % 20 AS h20
      |  FROM documents),
      |ga AS (SELECT doc_id, source AS src_a, md5(text) AS ha FROM base WHERE h20 != 0),
      |gb AS (SELECT doc_id, source AS src_b,
      |              md5(CASE WHEN h20 = 2 THEN text || ' u' ELSE text END) AS hb
      |       FROM base WHERE h20 != 1),
      |diff AS (
      |  SELECT COALESCE(ga.src_a, gb.src_b) AS source,
      |         CASE WHEN gb.hb IS NULL THEN 'removed'
      |              WHEN ga.ha IS NULL THEN 'added'
      |              WHEN ga.ha != gb.hb THEN 'changed'
      |              ELSE 'unchanged' END AS status
      |  FROM ga FULL OUTER JOIN gb ON ga.doc_id = gb.doc_id)
      |SELECT source,
      |       CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
      |       CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |       CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      |       CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
      |       COUNT(*) AS n_union,
      |       (1000000 * CAST(SUM(CASE WHEN status != 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)) // COUNT(*) AS churn_ppm
      |FROM diff GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q154 — SHUFFLE-KEY SKEW PROFILER (L116): the pre-flight audit a
  // 100 TB job runs BEFORE hashing a corpus on a candidate key. Every
  // text-family shuffle in this catalog keys on the token (postings
  // builds, vocab aggregations, df joins); under Zipf the head token
  // carries a constant FRACTION of the corpus, so the partition that
  // receives it scales linearly with data while every other partition
  // stays balanced — the one straggler that turns a 30-minute stage
  // into a 10-hour one. This profiles the key's heavy hitters and
  // prices the fix: per top token, its corpus share (ppm) and the
  // SALT FACTOR — the number of sub-keys `(token, hash % salt)` must
  // fan into so no sub-key exceeds an even partition's share at the
  // catalog's parallelism (the salting recipe q33's bucket cap and
  // AQE skew-join both implement downstream; this is the report that
  // says WHICH keys need it and by how much). `n_keys`/`total` ride
  // along so the reader can see the balanced-world denominator.
  //
  // Scale shape: ONE uniform (token) aggregation — the profiler costs
  // exactly the shuffle it is auditing, once, offline — then the
  // TakeOrdered top-16 (never a vocab-wide window) and a broadcast
  // 1-row totals attach. Pure integer arithmetic throughout.
  private val SkewTopK = 16
  private val SkewParts = 32L
  private def q154(s: SparkSession, dir: String): DataFrame = {
    val cnt = graft.Caches.track(Tables.documentsWide(s, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt")))
    val tot = cnt.agg(sum(col("cnt")).as("total"),
      count(lit(1)).as("n_keys"))
    graft.functions.TopK.ranked(cnt, SkewTopK,
      order = Seq(col("cnt").desc, col("token")),
      ascKeys = Seq(-col("cnt"), col("token")),
      cols = Seq("token", "cnt"))
      .crossJoin(broadcast(tot))
      .withColumn("share_ppm", expr("cnt * 1000000 div total"))
      .withColumn("salt_factor",
        expr(s"(cnt + (total div $SkewParts + 1) - 1) div (total div $SkewParts + 1)"))
      .select("rank", "token", "cnt", "share_ppm", "salt_factor",
        "n_keys", "total")
      .orderBy("rank")
  }

  private val q154Sql =
    s"""WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |cnt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY token),
      |tot AS (
      |  SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS n_keys FROM cnt),
      |ranked AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS INT) AS rank,
      |         token, cnt
      |  FROM cnt)
      |SELECT rank, token, cnt,
      |       (cnt * 1000000) // total AS share_ppm,
      |       (cnt + (total // $SkewParts + 1) - 1) // (total // $SkewParts + 1) AS salt_factor,
      |       n_keys, total
      |FROM ranked CROSS JOIN tot
      |WHERE rank <= $SkewTopK ORDER BY rank""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q90_boilerplate_strip" -> (q90 _),
    "q154_skew_profile"     -> (q154 _),
    "q91_bm25_topk"         -> (q91 _),
    "q115_retrieval_eval"   -> (q115 _),
    "q129_hybrid_fusion"    -> (q129 _),
    "q130_vocab_report"     -> (q130 _),
    "q135_served_hybrid"    -> (q135 _),
    "q138_hybrid_takedown"  -> (q138 _),
    "q141_rrf_k0_curve"     -> (q141 _),
    "q92_corpus_shard"      -> (q92 _),
    "q93_bigram_surprisal"  -> (q93 _),
    "q96_corpus_prepare"    -> (q96 _),
    "q98_shard_rebalance"   -> (q98 _),
    "q99_dataset_card"      -> (q99 _),
    "q100_multimodal_prepare" -> (q100 _),
    "q106_snapshot_churn"   -> (q106 _),
    "q109_funnel_ledger"    -> (q109 _),
  )

  override val oracle: Map[String, String] = Map(
    "q90_boilerplate_strip" -> q90Sql,
    "q154_skew_profile"     -> q154Sql,
    "q91_bm25_topk"         -> q91Sql,
    "q115_retrieval_eval"   -> q115Sql,
    "q129_hybrid_fusion"    -> q129Sql,
    "q130_vocab_report"     -> q130Sql,
    "q135_served_hybrid"    -> q135Sql,
    "q138_hybrid_takedown"  -> q138Sql,
    "q141_rrf_k0_curve"     -> q141Sql,
    "q92_corpus_shard"      -> q92Sql,
    "q93_bigram_surprisal"  -> q93Sql,
    "q96_corpus_prepare"    -> q96Sql,
    "q98_shard_rebalance"   -> q98Sql,
    "q99_dataset_card"      -> q99Sql,
    "q100_multimodal_prepare" -> q100Sql,
    "q106_snapshot_churn"   -> q106Sql,
    "q109_funnel_ledger"    -> q109Sql,
  )
}
