package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Artifacts, QueryModule, Tables}

/** q131–q134 — the PERSISTED LEXICAL INDEX lifecycle, completing the
  * retrieval family's production shapes the way q78/q79/q87/q124
  * completed the vector family's: BM25 today (q91) retrains its
  * statistics from raw text on every workload; a production pipeline
  * builds the inverted index ONCE (q131 serves it), appends each day's
  * shard as a delta generation (q132), honors removal requests with a
  * tombstone generation (q133 — opt-outs/takedowns are first-class in
  * a training-data pipeline, and BM25 is exactly SUBTRACTIVE the same
  * way it is additive), and periodically compacts generations ∪
  * tombstones back into one physical artifact (q134) — never
  * rescanning the corpus after the build. (Reference anchor for the
  * incremental contract: the watermark replay discipline of
  * /root/reference/nikon_ETL.py:425-499.)
  *
  * The artifact (fingerprinted, marker-last — [[Artifacts.publish]]):
  *  - `postings/` — the inverted index: (term, doc_id, tf, dl),
  *    globally sorted by (term, doc_id) at build time so parquet
  *    row-group min/max stats prune a term-restricted serve scan to
  *    the workload's slivers of the file.
  *  - `stats/` — ONE row (n_docs, n_toks): the corpus-level BM25
  *    normalizers (N and, via their ratio, avgdl).
  *  Per-term document frequency is NOT materialized: df for a served
  *  term is a count over that term's own postings — already read for
  *  scoring — so the artifact carries no relation that a merge could
  *  corrupt.
  *
  * Serving reads the artifact ONLY (PlanSpec: no documents scan). The
  * workload's terms are plan-time literals, so the postings filter is
  * an `In` pushed to the parquet scan; scoring is [[Corpus.bm25Score]]
  * — the IDENTICAL core the fresh path uses (same idf/weight trees,
  * same canonical-order fold), shared so the two paths cannot drift —
  * and q91's exact top-k cut. q131's oracle IS q91's SQL: a hash match
  * proves the index round-trip (build → freeze → serve) reproduces the
  * fresh computation bit for bit.
  *
  * q132 is the DAILY INTAKE: the shard's postings are computed from
  * the day's documents alone (a shard-sized explode), published as a
  * delta generation, and serving unions the generations' postings with
  * the advanced stats row. Everything BM25 needs is EXACTLY additive
  * under disjoint doc ids: df(term) adds because shard ids are fresh,
  * N and total tokens add, and per-doc (tf, dl) rows are untouched —
  * so the oracle's from-scratch rebuild over corpus ∪ re-keyed shard
  * must hash-match the two-generation serve, proving the additive
  * merge with no approximation caveat.
  *
  * Scale shape: the build explodes the corpus once into the per-
  * (doc, term) aggregation every fresh BM25 already pays, then sorts
  * postings by term (offline, once). Serving moves only the workload
  * terms' postings (Heaps-bounded slivers under pushdown); intake
  * computes over the day's shard only. The corpus is re-read by no
  * step after the build.
  */
object LexIndex extends QueryModule {

  import Intake.ShardBase

  private[graft] def fullPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/lex-${Intake.dataFingerprint(s, dir)}"
  private[graft] def gen0Path(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/lex0-${Intake.dataFingerprint(s, dir)}"
  private[graft] def gen1Path(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/lex1-${Intake.dataFingerprint(s, dir)}"
  private[graft] def tombPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/lext-${Intake.dataFingerprint(s, dir)}"
  private[graft] def compactPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/lexc-${Intake.dataFingerprint(s, dir)}"
  private[graft] def fullTombPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/lexft-${Intake.dataFingerprint(s, dir)}"

  private def corpusDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documentsWide(s, dir).select("doc_id", "text")
      .filter(Intake.corpus(col("doc_id")))

  /** The day's arrivals, re-keyed above every corpus id (fresh ids by
    * construction — the additivity precondition; dedup against the
    * corpus is q84/q102's business upstream). */
  private def shardDocs(s: SparkSession, dir: String): DataFrame =
    Intake.rekey(Tables.documents(s, dir).select("doc_id", "text")
      .filter(Intake.arrivals(col("doc_id"))), 1)

  /** Full inverted-index relation of a (doc_id, text) corpus:
    * (term, doc_id, tf, dl) for EVERY term — workload-independent, the
    * one corpus-sized aggregation the build pays. `dl` counts every
    * split token (empties included), matching the fresh path's length
    * convention exactly. */
  private def postingsOf(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), split(col("text"), " ").as("ts"))
    .select(col("doc_id"), size(col("ts")).cast("long").as("dl"),
      explode(col("ts")).as("term"))
    .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
    .select("term", "doc_id", "tf", "dl")

  private def statsOf(docs: DataFrame): DataFrame = docs
    .select(size(split(col("text"), " ")).cast("long").as("dl"))
    .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_toks"))

  /** One generation's relations, written under `tmp`: postings sorted
    * by (term, doc_id) — ordered parquet row groups give the serve
    * scan real min/max pruning — the one-row stats, and `doclens/`
    * (doc_id, dl): the per-doc length roster takedown accounting reads
    * so a removal request never needs the raw corpus (every doc has
    * ≥ 1 split token, so the roster covers every indexed doc). */
  private def writeGeneration(tmp: String, docs: DataFrame): Unit = {
    postingsOf(docs).sort("term", "doc_id")
      .write.mode("overwrite").parquet(s"$tmp/postings")
    // doclens/stats are NARROW passes over docs (a scalar length per
    // row, no explode) — the token explode + per-(doc, term) agg runs
    // exactly once, for postings
    docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
      .write.mode("overwrite").parquet(s"$tmp/doclens")
    statsOf(docs).write.mode("overwrite").parquet(s"$tmp/stats")
  }

  /** Offline build: the full corpus as generation 0. */
  private[graft] def build(s: SparkSession, docs: DataFrame, path: String): String =
    Artifacts.publish(s, path)(tmp => writeGeneration(tmp, docs))

  /** The intake chain's corpus generation (q132–q134): [[build]] plus
    * the fail-loud re-key disjointness guard — the additivity proofs
    * assume shard ids land above every corpus id, so a corpus that
    * breaks the precondition must refuse to build, not serve wrong
    * df/N ([[Intake.assertRekeyDisjoint]]). Priced once, at
    * publish time. */
  private def buildGen0(s: SparkSession, dir: String): String =
    Artifacts.publish(s, gen0Path(s, dir)) { tmp =>
      val docs = corpusDocs(s, dir)
      Intake.assertRekeyDisjoint(docs, "lex")
      writeGeneration(tmp, docs)
    }

  /** Daily intake: the shard's postings and stats delta, computed from
    * the day's documents alone and published as a generation. */
  private[graft] def ingest(s: SparkSession, shard: DataFrame, outPath: String): String =
    Artifacts.publish(s, outPath)(tmp => writeGeneration(tmp, shard))

  /** Serve the fixed workload from artifact generations only: postings
    * union (workload terms as literal pushed filters), stats added
    * across generations — tombstone generations contribute a NEGATIVE
    * stats row and an id list the postings anti-join — then the SHARED
    * scoring core + top-k cut. */
  private[graft] def serve(s: SparkSession, genPaths: Seq[String],
                           tombPaths: Seq[String] = Nil): DataFrame =
    Corpus.bm25TopK(servedScored(s, genPaths, tombPaths))

  /** `df` minus the rows whose doc_id a tombstone generation at
    * `tombPaths` removes: one broadcast anti-join against
    * [[Artifacts.tombstoned]]. */
  private def untombed(s: SparkSession, df: DataFrame, tombPaths: Seq[String]): DataFrame =
    Artifacts.tombstoned(s, tombPaths)
      .fold(df)(dead => df.join(broadcast(dead), Seq("doc_id"), "left_anti"))

  /** The artifact-served BM25 scored relation (qid, doc_id, score,
    * n_hit) BEFORE the top-k cut — [[serve]]'s core, and the lexical
    * arm of the served hybrid fusion (Corpus q135). */
  private[graft] def servedScored(s: SparkSession, genPaths: Seq[String],
                                  tombPaths: Seq[String] = Nil): DataFrame = {
    import s.implicits._
    val workTerms = Corpus.Bm25Queries.flatMap(_._2.split(" ")).distinct
    val terms = Corpus.Bm25Queries
      .flatMap { case (q, txt) => txt.split(" ").map(t => (q, t)) }
      .toDF("qid", "term")
    val live = genPaths.map { g =>
      s.read.parquet(s"$g/postings").filter(col("term").isin(workTerms: _*))
    }.reduce(_ unionByName _)
    val tf = untombed(s, live, tombPaths)
    val stats = (genPaths ++ tombPaths).map(g => s.read.parquet(s"$g/stats"))
      .reduce(_ unionByName _)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_toks")).as("n_toks"))
    Corpus.bm25Score(tf, stats, terms)
  }

  /** Build-or-reuse the full-corpus index (q131's artifact) and return
    * its path — the lexical-arm entry point for q135. */
  private[graft] def fullIndex(s: SparkSession, dir: String): String =
    build(s, Tables.documentsWide(s, dir).select("doc_id", "text"), fullPath(s, dir))

  /** Publish a TAKEDOWN generation for the given removal-request ids:
    * `ids/` (the anti-join list) and a NEGATIVE one-row stats delta.
    * Accounting reads the index's own `doclens/` roster — the raw
    * corpus is never touched (removal requests arrive as bare ids;
    * their lengths live in the index). BM25 is exactly SUBTRACTIVE the
    * way q132 shows it additive: dropping a doc's postings drops its
    * df contributions, and N/token totals subtract via the roster.
    *
    * `tombPaths` = tombstone generations already published: the roster
    * anti-joins their ids so a doc named by two OVERLAPPING removal
    * requests subtracts from the summed stats exactly once (the
    * postings anti-join was always idempotent; without this, the
    * second tombstone's negative stats row would double-count it and
    * skew N/avgdl for every later serve and compaction). */
  private[graft] def takedown(s: SparkSession, ids: DataFrame,
                              genPaths: Seq[String], outPath: String,
                              tombPaths: Seq[String] = Nil): String =
    Artifacts.publish(s, outPath) { tmp =>
      val live = genPaths.map(g => s.read.parquet(s"$g/doclens"))
        .reduce(_ unionByName _)
        .join(broadcast(ids), "doc_id")
      val roster = untombed(s, live, tombPaths)
      roster.select("doc_id").write.mode("overwrite").parquet(s"$tmp/ids")
      roster.agg((-count(lit(1))).as("n_docs"), (-sum(col("dl"))).as("n_toks"))
        .write.mode("overwrite").parquet(s"$tmp/stats")
    }

  /** COMPACT generations ∪ tombstones into ONE physical artifact (the
    * q124 lifecycle move, lexical edition): tombstoned postings and
    * roster rows are physically dropped, the full postings re-sort
    * restores one ordered file per term range, and the stats rows fold
    * to a single positive row — serving the compacted artifact must be
    * indistinguishable from the logical union (the oracle and
    * LexIndexSpec both pin it). Offline, once per epoch; the one
    * corpus-sized input is the fixed-width postings relation itself. */
  private[graft] def compact(s: SparkSession, genPaths: Seq[String],
                             tombPaths: Seq[String], outPath: String): String =
    Artifacts.publish(s, outPath) { tmp =>
      def drop(df: DataFrame): DataFrame = untombed(s, df, tombPaths)
      drop(genPaths.map(g => s.read.parquet(s"$g/postings")).reduce(_ unionByName _))
        .sort("term", "doc_id").write.mode("overwrite").parquet(s"$tmp/postings")
      drop(genPaths.map(g => s.read.parquet(s"$g/doclens")).reduce(_ unionByName _))
        .write.mode("overwrite").parquet(s"$tmp/doclens")
      (genPaths ++ tombPaths).map(g => s.read.parquet(s"$g/stats"))
        .reduce(_ unionByName _)
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_toks")).as("n_toks"))
        .write.mode("overwrite").parquet(s"$tmp/stats")
    }

  private def q131(s: SparkSession, dir: String): DataFrame =
    serve(s, Seq(fullIndex(s, dir)))

  private def q132(s: SparkSession, dir: String): DataFrame = {
    val g0 = buildGen0(s, dir)
    val g1 = ingest(s, shardDocs(s, dir), gen1Path(s, dir))
    serve(s, Seq(g0, g1))
  }

  /** Removal-request ids, derived from the index's own roster by id
    * arithmetic (every 7th corpus doc "opted out") — the request is a
    * bare id list; the raw corpus is never read. The SAME arithmetic
    * names the vector arm's removal set (Similarity.fullPqTombstone),
    * so the fused serve (q138) masks one request on both artifacts. */
  private[graft] def takedownIds(s: SparkSession, g0: String): DataFrame =
    s.read.parquet(s"$g0/doclens").select("doc_id")
      .filter(Intake.requested(col("doc_id")))

  /** The FULL-index takedown twin for the served hybrid (Corpus q138):
    * the shared removal request priced against q131's artifact. */
  private[graft] def fullTombstone(s: SparkSession, dir: String): String = {
    val idx = fullIndex(s, dir)
    takedown(s, takedownIds(s, idx), Seq(idx), fullTombPath(s, dir))
  }

  private def q133(s: SparkSession, dir: String): DataFrame = {
    val g0 = buildGen0(s, dir)
    val g1 = ingest(s, shardDocs(s, dir), gen1Path(s, dir))
    val t = takedown(s, takedownIds(s, g0), Seq(g0, g1), tombPath(s, dir))
    serve(s, Seq(g0, g1), Seq(t))
  }

  private def q134(s: SparkSession, dir: String): DataFrame = {
    val g0 = buildGen0(s, dir)
    val g1 = ingest(s, shardDocs(s, dir), gen1Path(s, dir))
    val t = takedown(s, takedownIds(s, g0), Seq(g0, g1), tombPath(s, dir))
    val c = compact(s, Seq(g0, g1), Seq(t), compactPath(s, dir))
    serve(s, Seq(c))
  }

  // q131's oracle IS q91's fresh-path SQL — the whole point: the
  // persisted index must be invisible in the result.
  private val q131Sql = Corpus.oracle("q91_bm25_topk")

  // q132's oracle rebuilds from scratch over corpus ∪ re-keyed shard —
  // never seeing the artifact — and reuses the q91 CTE stack over that
  // union: a hash match proves the generation union + added stats equal
  // the fresh computation (df/N/avgdl additivity made exact).
  private val q132Sql = Corpus.oracle("q91_bm25_topk").replace(
    "FROM documents",
    s"""FROM (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4
      |        UNION ALL
      |        SELECT doc_id + $ShardBase AS doc_id, text FROM documents
      |        WHERE doc_id % 5 = 4) documents""".stripMargin)

  // q133/q134's oracle rebuilds from scratch over (corpus MINUS the
  // takedown set) ∪ re-keyed shard — a hash match proves exact BM25
  // subtractivity for the tombstone serve (q133) and that physical
  // compaction is indistinguishable from the logical union (q134).
  private val q133Sql = Corpus.oracle("q91_bm25_topk").replace(
    "FROM documents",
    s"""FROM (SELECT doc_id, text FROM documents
      |        WHERE doc_id % 5 <> 4 AND doc_id % 7 <> 3
      |        UNION ALL
      |        SELECT doc_id + $ShardBase AS doc_id, text FROM documents
      |        WHERE doc_id % 5 = 4) documents""".stripMargin)

  // ---------------------------------------------------------------------
  // q166 — LEXICAL RETENTION-WINDOW SERVE (the q162 move on the BM25
  // index): per-era generations turn into a TTL policy — the serve
  // unions only the LIVE window's generations, so a retired era's
  // postings, df contributions, and N/avgdl mass drop out with no
  // state rewrite (the exact inverse of q132's additive intake; BM25
  // is subtractive by era the same way q133 shows it subtractive by
  // id). The relation is the windowed top-k PLUS the audit columns
  // compliance wants: `rank_full` — where this doc ranked in the
  // full-history serve (both artifacts, no corpus read) — and
  // `resurfaced` = the doc is in the windowed top-k only because
  // retired-era docs vacated slots (absent from the full top-k), so
  // every retirement-enabled promotion is visible, not silent.
  //
  // Eras split the corpus by doc_id parity (era 0 = retired evens,
  // era 1 = live odds — q162's fixture geometry). Scale shape: two
  // offline era builds (each the q131 build over its half), then TWO
  // artifact serves over workload-term slivers; retirement itself is
  // free (a generation list edit). The corpus is never read at serve
  // time.
  private[graft] def lexEraPath(s: SparkSession, dir: String, tag: String): String =
    s"${Artifacts.root}/lexr$tag-${Intake.dataFingerprint(s, dir)}"

  private def q166(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsWide(s, dir).select("doc_id", "text")
    val e0 = build(s, docs.filter(Intake.era(col("doc_id"), 0)), lexEraPath(s, dir, "0"))
    val e1 = build(s, docs.filter(Intake.era(col("doc_id"), 1)), lexEraPath(s, dir, "1"))
    val win = serve(s, Seq(e1))
    val full = serve(s, Seq(e0, e1))
      .select(col("qid"), col("doc_id"), col("rank").as("rank_full"))
    win.join(full, Seq("qid", "doc_id"), "left")
      .withColumn("resurfaced", col("rank_full").isNull)
      .select("qid", "rank", "doc_id", "score", "n_hit", "rank_full", "resurfaced")
      .orderBy("qid", "rank")
  }

  // The oracle stacks TWO from-scratch BM25 rebuilds in one query —
  // live era only (the never-ingested-that-era rebuild, q162's oracle
  // pattern) and full history (for the audit columns) — via prefixed
  // CTE instances; a hash match proves era retirement serves exactly
  // as if era 0 had never been ingested AND that every resurfaced row
  // is a genuine full-top-k absentee.
  private val q166Sql = {
    val live = Corpus.bm25SqlCtesFor(
      "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1)", "w_")
    val full = Corpus.bm25SqlCtesFor("documents", "f_")
    s"""WITH $live,
      |$full,
      |w_ranked AS (
      |  SELECT qid, doc_id, score, n_hit,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INT) AS rank
      |  FROM w_scored),
      |f_ranked AS (
      |  SELECT qid, doc_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INT) AS rank
      |  FROM f_scored)
      |SELECT w.qid, w.rank, w.doc_id, ROUND(w.score, 4) AS score, w.n_hit,
      |       f.rank AS rank_full, f.rank IS NULL AS resurfaced
      |FROM w_ranked w LEFT JOIN f_ranked f
      |  ON w.qid = f.qid AND w.doc_id = f.doc_id AND f.rank <= ${Corpus.Bm25TopK}
      |WHERE w.rank <= ${Corpus.Bm25TopK} ORDER BY w.qid, w.rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q155 — POSITIONAL PHRASE INDEX (L117): the retrieval capability the
  // bag-of-words family structurally cannot express. BM25 (q91/q131)
  // scores term MULTISETS — "slow fast" and "fast slow" are the same
  // query to it — but dedup forensics, quote attribution, and exact-
  // phrase search all need ORDER: "which documents contain this exact
  // word sequence, and how often?". The standard answer is positional
  // postings (Manning/Raghavan/Schütze IR ch. 2.4): the inverted index
  // keyed (term, doc, POSITION), with a phrase match = an adjacency
  // chain p(w₀)=k, p(w₁)=k+1, … — the same artifact Lucene stores for
  // its PhraseQuery.
  //
  // The artifact (`positions/`, fingerprinted + marker-last like every
  // index in this family) is sorted (term, doc_id, pos), so the serve's
  // workload-literal term filter is an `In` pushed to the parquet scan
  // and reads only the phrase terms' slivers. The adjacency chain is a
  // cascade of equi-joins on the uniform (doc_id, start-position) key —
  // each join step prunes to docs still matching the prefix, so
  // selectivity only tightens left to right. Occurrence counting is a
  // per-(qid, doc) aggregate; the final cut is the family's shared
  // per-qid top-k discipline (candidates are already bounded by the
  // rarest phrase term's postings). The corpus is never re-read at
  // serve time.
  private val PhraseTopK = 5
  private[graft] val PhraseQueries: Seq[(Int, String)] = Seq(
    1 -> "table value",
    2 -> "row scan",
    3 -> "value table part",
    4 -> "data window",
    5 -> "slow fast")

  private[graft] def phrasePath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/phr-${Intake.dataFingerprint(s, dir)}"
  private[graft] def phrGen0Path(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/phr0-${Intake.dataFingerprint(s, dir)}"
  private[graft] def phrGen1Path(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/phr1-${Intake.dataFingerprint(s, dir)}"

  /** The positional postings relation of a (doc_id, text) corpus:
    * (term, doc_id, pos) for every token occurrence. */
  private def positionsOf(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
    .select(col("term"), col("doc_id"), col("pos").cast("long").as("pos"))

  /** One positional generation under `path`: one corpus-sized
    * posexplode into (term, doc_id, pos)-sorted postings — the only
    * pass that ever reads the text. */
  private[graft] def buildPhraseGen(s: SparkSession, docs: DataFrame,
                                    path: String): String =
    Artifacts.publish(s, path) { tmp =>
      positionsOf(docs).sort("term", "doc_id", "pos")
        .write.mode("overwrite").parquet(s"$tmp/positions")
    }

  /** Build-or-reuse the full-corpus positional index (q155's artifact). */
  private[graft] def buildPhraseIndex(s: SparkSession, dir: String): String =
    buildPhraseGen(s, Tables.documentsWide(s, dir).select("doc_id", "text"),
      phrasePath(s, dir))

  /** Phrase-occurrence serve over a positional postings relation:
    * (qid, doc_id, p0) — one row per occurrence, p0 = the phrase's
    * start position. Factored for LexIndexSpec. */
  private[graft] def phraseOccurrences(pos: DataFrame): DataFrame =
    PhraseQueries.map { case (qid, phrase) =>
      phrase.split(" ").zipWithIndex.map { case (w, i) =>
        pos.filter(col("term") === w)
          .select(col("doc_id"), (col("pos") - i).as("p0"))
      }.reduce((a, b) => a.join(b, Seq("doc_id", "p0")))
        .select(lit(qid).as("qid"), col("doc_id"), col("p0"))
    }.reduce(_ unionByName _)

  /** Serve the phrase workload from positional generations: postings
    * union (positions are PER-DOCUMENT, so phrase matching composes
    * across generations with no reconciliation at all — the property
    * the pack family's GLOBAL positions famously lack), adjacency
    * chains, per-qid top-k. */
  private[graft] def servePhrases(s: SparkSession, genPaths: Seq[String]): DataFrame = {
    val pos = genPaths.map(g => s.read.parquet(s"$g/positions"))
      .reduce(_ unionByName _)
    phraseOccurrences(pos)
      .groupBy("qid", "doc_id").agg(count(lit(1)).as("n_occ"))
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("n_occ").desc, col("doc_id"))).cast("int"))
      .filter(col("rank") <= PhraseTopK)
      .select("qid", "rank", "doc_id", "n_occ")
      .orderBy("qid", "rank")
  }

  private def q155(s: SparkSession, dir: String): DataFrame =
    servePhrases(s, Seq(buildPhraseIndex(s, dir)))

  // q157 — POSITIONAL INTAKE (L119): the daily-generation move (q132's
  // discipline) on the phrase artifact. Because positions are
  // per-document, phrase postings are EXACTLY additive under disjoint
  // doc ids — no stats row to advance, no df to reconcile, no boundary
  // to stitch: the day's shard posexplodes alone, publishes as a
  // generation, and the union serve is definitionally the from-scratch
  // build (the oracle proves it by rebuilding over corpus ∪ re-keyed
  // shard, never seeing the artifact). The corpus is re-read by no
  // step after its generation-0 build.
  private def q157(s: SparkSession, dir: String): DataFrame = {
    val (g0, g1) = phraseChain(s, dir)
    servePhrases(s, Seq(g0, g1))
  }

  // The oracle replays positions from raw text (the q128 LATERAL
  // ordinal-unnest pattern) and chains the same adjacency joins — a
  // hash match proves the persisted positional artifact serves exactly
  // the from-scratch phrase scan. The CTE chain is parameterized
  // (corpus relation + name prefix) so the retention oracle (q169) can
  // stack a live-era and a full-history replay in one query — the
  // bm25SqlCtesFor move, positional edition.
  private def phraseRankedSqlCtes(corpusRel: String, p: String): String = {
    val occs = PhraseQueries.map { case (qid, phrase) =>
      val ws = phrase.split(" ")
      val joins = ws.indices.drop(1).map(i =>
        s"JOIN ${p}toks t$i ON t$i.doc_id = t0.doc_id AND t$i.pos = t0.pos + $i")
        .mkString(" ")
      val preds = ws.zipWithIndex
        .map { case (w, i) => s"t$i.term = '$w'" }.mkString(" AND ")
      s"SELECT $qid AS qid, t0.doc_id FROM ${p}toks t0 $joins WHERE $preds"
    }.mkString("\n  UNION ALL\n  ")
    s"""${p}toks AS (
      |  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, ts[u.i] AS term
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM $corpusRel),
      |       LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i) u),
      |${p}occ AS (
      |  $occs),
      |${p}cnt AS (
      |  SELECT qid, doc_id, COUNT(*) AS n_occ FROM ${p}occ GROUP BY qid, doc_id),
      |${p}ranked AS (
      |  SELECT qid, doc_id, n_occ,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |           ORDER BY n_occ DESC, doc_id) AS INT) AS rank
      |  FROM ${p}cnt)""".stripMargin
  }

  private val q155Sql =
    s"""WITH ${phraseRankedSqlCtes("documents", "")}
      |SELECT qid, rank, doc_id, n_occ FROM ranked
      |WHERE rank <= $PhraseTopK ORDER BY qid, rank""".stripMargin

  // q159/q160 — the REMOVAL half of the positional lifecycle, matching
  // the family discipline (q133 tombstone / q134 compaction on the BM25
  // index): phrase matching carries NO corpus-level statistics — no df,
  // no N, no avgdl — so a takedown is the PUREST tombstone in the
  // catalog: an id list whose anti-join masks postings, with literally
  // nothing to subtract (the property that makes positions per-doc also
  // makes removal stateless). Compaction physically drops the masked
  // rows and re-sorts, and serving the compacted artifact must be
  // indistinguishable from the logical union — q160's oracle IS
  // q159's SQL, the q134 move.
  private[graft] def phrTombPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/phrt-${Intake.dataFingerprint(s, dir)}"
  private[graft] def phrCompactPath(s: SparkSession, dir: String): String =
    s"${Artifacts.root}/phrc-${Intake.dataFingerprint(s, dir)}"

  /** Serve phrases from generations minus tombstoned ids: the postings
    * union anti-joins the tombstoned ids before the adjacency chains (state-free subtractivity — see q159's header). */
  private[graft] def servePhrasesTomb(s: SparkSession, genPaths: Seq[String],
                                      tombPaths: Seq[String]): DataFrame = {
    val pos = genPaths.map(g => s.read.parquet(s"$g/positions"))
      .reduce(_ unionByName _)
    phraseOccurrences(untombed(s, pos, tombPaths))
      .groupBy("qid", "doc_id").agg(count(lit(1)).as("n_occ"))
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("n_occ").desc, col("doc_id"))).cast("int"))
      .filter(col("rank") <= PhraseTopK)
      .select("qid", "rank", "doc_id", "n_occ")
      .orderBy("qid", "rank")
  }

  /** Publish a positional tombstone: just the bare id list — phrase
    * serving has no statistics to adjust. */
  private[graft] def phraseTakedown(s: SparkSession, ids: DataFrame,
                                    outPath: String): String =
    Artifacts.publish(s, outPath) { tmp =>
      ids.select("doc_id").distinct()
        .write.mode("overwrite").parquet(s"$tmp/ids")
    }

  /** Compact positional generations ∪ tombstones into one artifact:
    * masked rows physically dropped, (term, doc_id, pos) order
    * restored for scan pruning. */
  private[graft] def phraseCompact(s: SparkSession, genPaths: Seq[String],
                                   tombPaths: Seq[String], outPath: String): String =
    Artifacts.publish(s, outPath) { tmp =>
      val pos = genPaths.map(g => s.read.parquet(s"$g/positions")).reduce(_ unionByName _)
      untombed(s, pos, tombPaths).sort("term", "doc_id", "pos")
        .write.mode("overwrite").parquet(s"$tmp/positions")
    }

  /** The positional chain's generations (gen0 + intake), built-or-
    * reused — shared by q157/q159/q160. */
  private def phraseChain(s: SparkSession, dir: String): (String, String) = {
    val g0 = Artifacts.publish(s, phrGen0Path(s, dir)) { tmp =>
      val docs = corpusDocs(s, dir)
      Intake.assertRekeyDisjoint(docs, "phrase")
      positionsOf(docs).sort("term", "doc_id", "pos")
        .write.mode("overwrite").parquet(s"$tmp/positions")
    }
    (g0, buildPhraseGen(s, shardDocs(s, dir), phrGen1Path(s, dir)))
  }

  private def q159(s: SparkSession, dir: String): DataFrame = {
    val (g0, g1) = phraseChain(s, dir)
    // the standing removal-request arithmetic (q133/q136's fixture):
    // ids from the artifact's own postings roster, never the corpus
    val ids = s.read.parquet(s"$g0/positions").select("doc_id").distinct()
      .filter(Intake.requested(col("doc_id")))
    val t = phraseTakedown(s, ids, phrTombPath(s, dir))
    servePhrasesTomb(s, Seq(g0, g1), Seq(t))
  }

  private def q160(s: SparkSession, dir: String): DataFrame = {
    val (g0, g1) = phraseChain(s, dir)
    val ids = s.read.parquet(s"$g0/positions").select("doc_id").distinct()
      .filter(Intake.requested(col("doc_id")))
    val t = phraseTakedown(s, ids, phrTombPath(s, dir))
    val c = phraseCompact(s, Seq(g0, g1), Seq(t), phrCompactPath(s, dir))
    servePhrases(s, Seq(c))
  }

  // ---------------------------------------------------------------------
  // q169 — POSITIONAL RETENTION-WINDOW SERVE: the TTL move (q162/q166/
  // q167) on the fourth and last serving family, completing retention
  // across every persisted index in the catalog (dedup, lexical,
  // vector, positional). Phrase matching carries no corpus statistics
  // (the property that made its takedown the catalog's purest), so era
  // retirement is the purest of the four retentions too: the serve
  // unions only the live window's position generations and NOTHING
  // else changes — no stats to re-add, no df to shrink. The audit
  // columns are the family's: rank_full (the doc's full-history phrase
  // rank) and resurfaced (in the windowed top-k only because retired
  // docs vacated slots). Eras split by doc_id parity (era 0 = retired
  // evens, era 1 = live odds — the q162 fixture geometry).
  private[graft] def phrEraPath(s: SparkSession, dir: String, tag: String): String =
    s"${Artifacts.root}/phrr$tag-${Intake.dataFingerprint(s, dir)}"

  private def q169(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsWide(s, dir).select("doc_id", "text")
    val e0 = buildPhraseGen(s, docs.filter(Intake.era(col("doc_id"), 0)), phrEraPath(s, dir, "0"))
    val e1 = buildPhraseGen(s, docs.filter(Intake.era(col("doc_id"), 1)), phrEraPath(s, dir, "1"))
    val win = servePhrases(s, Seq(e1))
    val full = servePhrases(s, Seq(e0, e1))
      .select(col("qid"), col("doc_id"), col("rank").as("rank_full"))
    win.join(full, Seq("qid", "doc_id"), "left")
      .withColumn("resurfaced", col("rank_full").isNull)
      .select("qid", "rank", "doc_id", "n_occ", "rank_full", "resurfaced")
      .orderBy("qid", "rank")
  }

  // q169's oracle stacks TWO from-scratch positional replays (live era
  // only — the never-ingested-that-era rebuild — and full history for
  // the audit columns) via prefixed CTE instances, the q166 pattern on
  // the phrase stack.
  private val q169Sql =
    s"""WITH ${phraseRankedSqlCtes("(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1)", "w_")},
      |${phraseRankedSqlCtes("documents", "f_")}
      |SELECT w.qid, w.rank, w.doc_id, w.n_occ,
      |       f.rank AS rank_full, f.rank IS NULL AS resurfaced
      |FROM w_ranked w LEFT JOIN f_ranked f
      |  ON w.qid = f.qid AND w.doc_id = f.doc_id AND f.rank <= $PhraseTopK
      |WHERE w.rank <= $PhraseTopK ORDER BY w.qid, w.rank""".stripMargin

  // q157's oracle: the q155 replay over corpus ∪ re-keyed shard — a
  // hash match proves the generation union serves exactly the
  // from-scratch positional build (phrase additivity made exact).
  private val q157Sql = {
    val sql = q155Sql.replace(
      "string_split(text, ' ') AS ts FROM documents)",
      s"""string_split(text, ' ') AS ts FROM (
        |    SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4
        |    UNION ALL
        |    SELECT doc_id + $ShardBase AS doc_id, text FROM documents
        |    WHERE doc_id % 5 = 4))""".stripMargin)
    require(sql != q155Sql, "q157 oracle corpus∪shard splice did not fire")
    sql
  }

  // q159's oracle: the q155 replay over (corpus MINUS the takedown
  // set) ∪ re-keyed shard — exact phrase subtractivity, never seeing
  // the artifact. q160's oracle IS q159's SQL: physical compaction
  // must be indistinguishable from the logical union (the q134 move).
  private val q159Sql = {
    val sql = q155Sql.replace(
      "string_split(text, ' ') AS ts FROM documents)",
      s"""string_split(text, ' ') AS ts FROM (
        |    SELECT doc_id, text FROM documents
        |    WHERE doc_id % 5 <> 4 AND doc_id % 7 <> 3
        |    UNION ALL
        |    SELECT doc_id + $ShardBase AS doc_id, text FROM documents
        |    WHERE doc_id % 5 = 4))""".stripMargin)
    require(sql != q155Sql, "q159 oracle takedown splice did not fire")
    sql
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q131_lex_index_serve"  -> ((s, dir) => q131(s, dir)),
    "q155_phrase_index"     -> ((s, dir) => q155(s, dir)),
    "q157_phrase_intake"    -> ((s, dir) => q157(s, dir)),
    "q159_phrase_takedown"  -> ((s, dir) => q159(s, dir)),
    "q160_phrase_compact"   -> ((s, dir) => q160(s, dir)),
    "q132_incremental_lex"  -> ((s, dir) => q132(s, dir)),
    "q133_lex_takedown"     -> ((s, dir) => q133(s, dir)),
    "q134_lex_compact"      -> ((s, dir) => q134(s, dir)),
    "q166_lex_retention"    -> ((s, dir) => q166(s, dir)),
    "q169_phrase_retention" -> ((s, dir) => q169(s, dir)),
  )

  override def oracle: Map[String, String] = Map(
    "q131_lex_index_serve"  -> q131Sql,
    "q155_phrase_index"     -> q155Sql,
    "q157_phrase_intake"    -> q157Sql,
    "q159_phrase_takedown"  -> q159Sql,
    "q160_phrase_compact"   -> q159Sql,
    "q132_incremental_lex"  -> q132Sql,
    "q133_lex_takedown"     -> q133Sql,
    "q134_lex_compact"      -> q133Sql,
    "q166_lex_retention"    -> q166Sql,
    "q169_phrase_retention" -> q169Sql,
  )
}
