package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Artifacts, QueryModule, Tables}

/** q179 — INCREMENTAL CONTAINMENT INTAKE: q172's asymmetric
  * set-containment detector in the production artifact shape (the q84
  * pattern, the family's seventh persisted index). The corpus's
  * containment state is persisted ONCE; every following day a small
  * shard is verdicted against the ARTIFACT only — "is this new doc
  * subsumed by something we already have?" — never a corpus rescan
  * (reference anchor: the watermark-driven incremental contract of
  * /root/reference/nikon_ETL.py:425-499 — only new slices touch
  * persisted state).
  *
  * Artifact layout (fingerprinted, marker-last, q78 publication):
  *  - `postings/` — DISTINCT (tok, doc_id): the corpus's shingle-token
  *    postings (md5-int64 tokens, q32's construction).
  *  - `sets/`     — (doc_id, set, n): sorted shingle arrays for exact
  *    verification.
  *  - `df/`       — (tok, df): corpus document frequencies, FROZEN at
  *    build time; the shard's prefix ranks rarest-first against them.
  *
  * Serving exactness: a shard doc A is contained in B at t = 9/10 iff
  * |A∩B| ≥ ⌈0.9·|A|⌉ (pure integer test: 10·inter ≥ 9·n1). The prefix
  * bound — if no token among A's first n1 − ⌈t·n1⌉ + 1 (in ANY fixed
  * order of A's tokens) is shared, then shared ≤ ⌈t·n1⌉ − 1 — holds for
  * EVERY ordering, so ranking by the FROZEN corpus df (unseen tokens
  * rank first at df 0; they match no posting and only cost slots) keeps
  * the candidate join exact while maximally selective against the
  * frozen state. Verdict precedence per shard doc:
  *    contained_in_corpus (≥1 corpus container; MIN container cited) >
  *    contained_in_batch  (contained in another shard doc, min-id
  *                         keeps under mutual containment) >
  *    kept. Docs under [[MinSet]] distinct shingles abstain (kept) —
  *    a 3-shingle "document" being a substring of something is noise,
  *    the q172 convention.
  *
  * Scale shape: the shard is small by definition; the candidate join
  * is shard-prefix × postings on the uniform int64 token key (one pass
  * over the index, shard-proportional output); verification joins the
  * bounded candidate set against `sets/` with the codegen'd
  * graft_inter_count kernel; batch containment runs q172's machinery
  * on the shard alone. [[ingest]] folds kept docs into a new
  * generation (postings/sets union, df summed — additive under the
  * re-key disjointness guard), after which replaying the same shard
  * keeps nothing.
  *
  * The staged shard plants all three verdict classes on [[Intake]]'s
  * splits, three of its arms: the arrivals as they are, corpus
  * SNIPPETS (first half of each [[Intake.recrawled]] corpus doc with
  * ≥ 12 tokens, re-keyed +1·ShardBase — a prefix cut, so its shingles
  * are a subset of the full doc's: contained_in_corpus at containment
  * 1.0), and snippets OF THE NEW PAGES ([[Intake.resubmitted]]
  * arrivals with ≥ 12 tokens, re-keyed +3·ShardBase — their containers
  * are shard docs, not corpus: contained_in_batch).
  */
object IncrementalContain extends QueryModule {
  import Intake.ShardBase

  private[graft] val MinSet = 4    // contained side must carry >= 4 shingles
  private val SnipMinToks = 12     // snippets cut docs with >= 12 tokens

  private[graft] def indexPath(s: SparkSession, dir: String): String = {
    val fp = Intake.dataFingerprint(s, dir)
    s"${Artifacts.root}/contain-${Artifacts.key(s"contain#$fp")}"
  }
  private[graft] def shardPath(s: SparkSession, dir: String): String = {
    val fp = Intake.dataFingerprint(s, dir)
    s"${Artifacts.root}/contain-shard-${Artifacts.key(s"containshard#$fp")}"
  }

  private def texts(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id", "text")

  /** First-half prefix cut: tokens 1 .. n div 2 rejoined. */
  private def halfCut(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= SnipMinToks)
      .select(col("doc_id"),
        expr("array_join(slice(ts, 1, size(ts) div 2), ' ')").as("text"))

  private def shardDocs(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    docs.filter(Intake.arrivals(id))
      .unionByName(Intake.rekey(halfCut(docs.filter(Intake.recrawled(id))), 1))
      .unionByName(Intake.rekey(halfCut(docs.filter(Intake.resubmitted(id))), 3))
  }

  /** One containment-index generation (postings, verification sets,
    * frozen df) from the given docs — the era-granular build q183's
    * retention window composes; [[buildIndex]] is the single-era case. */
  private[graft] def buildGenIndex(s: SparkSession, docs: DataFrame,
                                   outPath: String): String =
    Artifacts.publish(s, outPath) { tmp =>
      Intake.assertRekeyDisjoint(docs, "contain")
      val sets = Dedup.shingleSetsOf(docs)
      sets.write.mode("overwrite").parquet(s"$tmp/sets")
      val postings = sets.select(col("doc_id"), explode(col("set")).as("tok"))
      postings.write.mode("overwrite").parquet(s"$tmp/postings")
      postings.groupBy("tok").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$tmp/df")
    }

  /** Offline: persist postings, verification sets, and frozen df. */
  private[graft] def buildIndex(s: SparkSession, dir: String): String =
    buildGenIndex(s, texts(s, dir).filter(Intake.corpus(col("doc_id"))), indexPath(s, dir))

  private[graft] def stageShard(s: SparkSession, dir: String): String =
    Artifacts.publish(s, shardPath(s, dir)) { tmp =>
      val all = texts(s, dir)
      Intake.assertRekeyDisjoint(all, "contain")
      shardDocs(all).write.mode("overwrite").parquet(s"$tmp/docs")
    }

  /** Postings with each container's verification set attached
    * (cdoc, tok, s2, n2) — the static side of both the batch serve and
    * the streaming twin ([[graft.streaming.Streams.containScore]]). In
    * production a bucketed artifact table co-locates this join for free. */
  private def postexOf(postings: DataFrame, sets: DataFrame): DataFrame =
    postings.withColumnRenamed("doc_id", "cdoc")
      .join(sets.select(col("doc_id").as("cdoc"),
        col("set").as("s2"), col("n").as("n2")), "cdoc")

  /** [[postexOf]] over one persisted generation. */
  private[graft] def postex(s: SparkSession, idxPath: String): DataFrame =
    postexOf(s.read.parquet(s"$idxPath/postings"), s.read.parquet(s"$idxPath/sets"))

  /** Shard prefix, rarest-first against a FROZEN df relation (unseen
    * tokens df 0 — exact for any order, see scaladoc). Carries each
    * prefix row's frozen df and the per-doc prefix MAX df (`pmax`) —
    * the regime gate [[corpusContainers]] routes on. */
  private def shardPrefix(shardSets: DataFrame, dfRel: DataFrame): DataFrame =
    // tracked cache (plan-keyed, so every same-(shardSets, dfRel) call
    // site shares one build): the prefix feeds the gated corpus arm
    // TWICE (banded + exact routes) and the batch arm — untracked, the
    // explode + df join + double window ran up to 3× per verdict serve
    // (guide §2.4)
    graft.Caches.track(shardSets.filter(col("n") >= MinSet)
      .select(col("doc_id").as("sdoc"), col("n").as("n1"),
        col("set").as("s1"), explode(col("set")).as("tok"))
      .join(dfRel, Seq("tok"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("sdoc").orderBy("df", "tok")))
      .filter(col("rk") <= col("n1") - expr("(9 * n1 + 9) div 10") + 1)
      .withColumn("pmax", max(col("df")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("sdoc")))
      .select("sdoc", "tok", "n1", "s1", "pmax"))

  /** Corpus-arm containers (doc_id, container) for the shard against
    * the given artifact relations. The exact containment test runs
    * INSIDE the token equi-join (the q32 round-9 discipline): on a
    * small shingle universe — the regime this corpus family inhabits —
    * prefix selectivity collapses and the matched-pair stream grows
    * toward |shard|·|corpus|; with graft_overlap_reaches(s1, s2,
    * ⌈0.9·n1⌉) in the join condition a non-containing pair dies in ~12
    * merge steps and ONLY true containments are ever materialized,
    * deduplicated, or aggregated. The container's set rides the
    * postings via one cdoc-keyed join (in production a bucketed
    * artifact table co-locates it for free). Also the q183 audit arm,
    * pointed at a retired era's relations.
    *
    * REGIME GATE (the round-17 ask, strengthened): candidate generation
    * routes PER SHARD DOC on the frozen df spectrum — q180's banded
    * path where it is provably lossless, the exact path everywhere
    * else, decided entirely from artifact state (each prefix row's
    * frozen df). A doc whose whole rarest-first prefix sits under
    * [[Dedup.ContainBandCap]] can only match under-cap postings (df IS
    * the posting count of a token), so for it the banded join — the
    * prefix against the df-capped posting slice — generates exactly the
    * candidates the full-postings join would: zero recall loss, by
    * construction, not by threshold. Docs with an over-cap prefix token
    * (the fixed-vocab / boilerplate regime) keep the exact arm — the
    * early-exit join that regime already owns. On a Heaps-law corpus
    * ~every doc routes banded and the corpus-sized join side shrinks to
    * the under-cap posting slice (the stopword head's rows — the bulk
    * of a Zipf posting list — never shuffle); on the fixed-vocab
    * bootstrap every doc routes exact and the plan is unchanged. Gated
    * ≡ exact is spec-pinned on BOTH routes (ContainGateSpec plants an
    * over-cap boilerplate block next to a Heaps tail). */
  private[graft] def corpusContainers(shardSets: DataFrame, postings: DataFrame,
                                      sets: DataFrame, dfRel: DataFrame,
                                      gated: Boolean = true): DataFrame = {
    val prefix = shardPrefix(shardSets, dfRel)
    val postex = postexOf(postings, sets)
    def containJoin(pfx: DataFrame, post: DataFrame): DataFrame =
      pfx.as("a").join(post.as("b"),
        col("a.tok") === col("b.tok") &&
          col("b.n2") * 10 >= col("a.n1") * 9 &&
          expr("graft_overlap_reaches(a.s1, b.s2, cast((9 * a.n1 + 9) div 10 AS bigint))"))
        .select(col("a.sdoc"), col("b.cdoc"))
    val pairs =
      if (!gated) containJoin(prefix, postex)
      else {
        val cap = Dedup.ContainBandCap
        val bandedPost = postex.join(
          dfRel.filter(col("df") <= cap).select("tok"), Seq("tok"), "left_semi")
        containJoin(prefix.filter(col("pmax") <= cap), bandedPost)
          .unionByName(containJoin(prefix.filter(col("pmax") > cap), postex))
      }
    pairs.groupBy(col("sdoc").as("doc_id"))
      .agg(min(col("cdoc")).as("container"))
  }

  /** Online: verdict every shard doc against the artifact ONLY. */
  private[graft] def verdictsAgainst(s: SparkSession, shard: DataFrame,
                                     idxPath: String): DataFrame =
    verdictsCore(shard,
      s.read.parquet(s"$idxPath/postings"), s.read.parquet(s"$idxPath/sets"),
      s.read.parquet(s"$idxPath/df"))

  /** [[verdictsAgainst]] against a WINDOW of generations (the q162 move):
    * postings and sets union (generation doc ids are disjoint by the
    * re-key guard), df summed per token — additive by the same
    * disjointness, so the window's frozen df equals what a single build
    * over the window's docs would freeze. Retired eras simply drop out
    * of the union; no state is rewritten. */
  private[graft] def verdictsWindow(s: SparkSession, shard: DataFrame,
                                    idxPaths: Seq[String]): DataFrame =
    verdictsCore(shard,
      idxPaths.map(p => s.read.parquet(s"$p/postings")).reduce(_ unionByName _),
      idxPaths.map(p => s.read.parquet(s"$p/sets")).reduce(_ unionByName _),
      idxPaths.map(p => s.read.parquet(s"$p/df")).reduce(_ unionByName _)
        .groupBy("tok").agg(sum(col("df")).as("df")))

  private def verdictsCore(shard: DataFrame, postings: DataFrame,
                           sets: DataFrame, dfRel: DataFrame): DataFrame = {
    val shardSets = graft.Caches.track(Dedup.shingleSetsOf(shard))
    val corpusHit = corpusContainers(shardSets, postings, sets, dfRel)
    val prefix = shardPrefix(shardSets, dfRel)
    // batch containment: the same early-exit join pointed at the
    // shard's own exploded sets; mutual containment resolved on the
    // surviving pairs only (min-id keeps)
    val spost = shardSets.select(col("doc_id").as("db"), col("n").as("nb"),
      col("set").as("sb"), explode(col("set")).as("tok"))
    val pairs = prefix.as("a").join(spost.as("b"),
        col("a.tok") === col("b.tok") && col("a.sdoc") =!= col("b.db") &&
          col("b.nb") * 10 >= col("a.n1") * 9 &&
          expr("graft_overlap_reaches(a.s1, b.sb, cast((9 * a.n1 + 9) div 10 AS bigint))"))
      .select(col("a.sdoc").as("da"), col("a.n1").as("na"), col("a.s1").as("sa"),
        col("b.db").as("db"), col("b.nb").as("nb"), col("b.sb").as("sb"))
      .distinct()
      .withColumn("iab", expr("graft_inter_count(sa, sb)"))
      .withColumn("cab", col("iab") * 10 >= col("na") * 9)
      .withColumn("cba", col("iab") * 10 >= col("nb") * 9 && col("nb") >= MinSet)
      .filter(col("cab") && (!col("cba") || col("db") < col("da")))
    val batchHit = pairs.groupBy(col("da").as("doc_id"))
      .agg(min(col("db")).as("batch_container"))
    shard.select("doc_id")
      .join(corpusHit, Seq("doc_id"), "left")
      .join(batchHit, Seq("doc_id"), "left")
      .withColumn("verdict",
        when(col("container").isNotNull, "contained_in_corpus")
          .when(col("batch_container").isNotNull, "contained_in_batch")
          .otherwise("kept"))
      .withColumn("keep", col("verdict") === "kept")
      .select("doc_id", "verdict", "keep", "container")
      .orderBy("doc_id")
  }

  /** Fold kept shard docs into a new artifact generation: postings and
    * sets union (re-keyed ids are disjoint by the guard), df summed. */
  private[graft] def ingest(s: SparkSession, shard: DataFrame,
                            idxPath: String, outPath: String): String =
    Artifacts.publish(s, outPath) { tmp =>
      val kept = shard.join(
        verdictsAgainst(s, shard, idxPath).filter(col("keep")).select("doc_id"), "doc_id")
      val keptSets = Dedup.shingleSetsOf(kept)
      s.read.parquet(s"$idxPath/sets").unionByName(keptSets)
        .write.mode("overwrite").parquet(s"$tmp/sets")
      val keptPost = keptSets.select(col("doc_id"), explode(col("set")).as("tok"))
      s.read.parquet(s"$idxPath/postings").unionByName(keptPost)
        .write.mode("overwrite").parquet(s"$tmp/postings")
      s.read.parquet(s"$idxPath/df")
        .unionByName(keptPost.groupBy("tok").agg(count(lit(1)).as("df")))
        .groupBy("tok").agg(sum(col("df")).as("df"))
        .write.mode("overwrite").parquet(s"$tmp/df")
    }

  private def q179(s: SparkSession, dir: String): DataFrame = {
    val idx = buildIndex(s, dir)
    val shard = stageShard(s, dir)
    verdictsAgainst(s, s.read.parquet(s"$shard/docs"), idx)
  }

  // ---------------------------------------------------------------------
  // q182 — CONTAINMENT-INDEX TAKEDOWN (redact, don't re-admit): q142's
  // removal contract carried to the seventh serving family. A removed
  // doc lives in this index as postings/sets/df state AND as the
  // min-container CITATION the serve emits. The committed policy is
  // REDACTION: the shingle state stays and keeps BLOCKING (dropping it
  // would re-admit the next crawl of content the request wants gone —
  // the q142 front-door argument, verbatim), but the verdict stops
  // citing the removed doc's id — `container` nulls where the cited
  // min-container is tombstoned; verdicts and keeps are bit-identical
  // to q179's (the oracle proves it: q179's composed ground truth with
  // a CASE redaction on the citation). The tombstone generation is the
  // q133 shape: `ids/` = request ∩ the index's own sets roster — the
  // corpus is never read.
  private[graft] def tombPath(s: SparkSession, dir: String): String = {
    val fp = Intake.dataFingerprint(s, dir)
    s"${Artifacts.root}/contain-tomb-${Artifacts.key(s"containtomb#$fp")}"
  }

  /** Publish the redaction tombstone under `outBase`: the request
    * priced against the index's own sets roster (unknown ids drop — the
    * q133 contract; [[Artifacts.tombstone]]). */
  private[graft] def takedown(s: SparkSession, ids: DataFrame,
                              idxPath: String, outBase: String): String =
    Artifacts.tombstone(s, s.read.parquet(s"$idxPath/sets").select("doc_id"), ids, outBase)

  private def q182(s: SparkSession, dir: String): DataFrame = {
    val idx = buildIndex(s, dir)
    val shard = stageShard(s, dir)
    val t = takedown(s,
      s.read.parquet(s"$idx/sets").select("doc_id").filter(Intake.requested(col("doc_id"))),
      idx, tombPath(s, dir))
    Intake.redacted(s, verdictsAgainst(s, s.read.parquet(s"$shard/docs"), idx),
      "container", Seq(t))
  }

  // ---------------------------------------------------------------------
  // q183 — CONTAINMENT RETENTION-WINDOW SERVE (q162's move on the
  // seventh family): per-era generations become a TTL policy. The serve
  // unions only the LIVE window's generations — postings/sets union, df
  // summed (additive under the re-key disjointness guard, so the
  // window's frozen df equals a single build over the live docs) — and
  // a shard doc whose only container lives in a retired era is admitted
  // again. The audit bit compliance wants rides along: `readmitted` —
  // kept now, but the retired era's index would have contained it
  // (corpus arm against era 0's relations, era-0's own frozen df).
  // Fixture eras: corpus parity split (era 0 = even ids = RETIRED, era
  // 1 = odd = live). The shard's +1e6 snippets cut docs with
  // doc_id % 10 = 0 — ALL even, all era-0 — so every corpus-snippet
  // containment crosses the retired era and the readmission path is
  // non-vacuously exercised on the driver corpus.
  private[graft] def genPath(s: SparkSession, dir: String, tag: String): String = {
    val fp = Intake.dataFingerprint(s, dir)
    s"${Artifacts.root}/contain-gen$tag-${Artifacts.key(s"containgen$tag#$fp")}"
  }

  private def q183(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val g0 = buildGenIndex(s,
      texts(s, dir).filter(Intake.corpus(id) && Intake.era(id, 0)), genPath(s, dir, "0"))
    val g1 = buildGenIndex(s,
      texts(s, dir).filter(Intake.corpus(id) && Intake.era(id, 1)), genPath(s, dir, "1"))
    val shard = s.read.parquet(s"${stageShard(s, dir)}/docs")
    val win = verdictsWindow(s, shard, Seq(g1)) // era 0 retired
    // the audit bit: would the retired era's index have contained it?
    // (same tracked shardSets plan as the serve — the cache is shared)
    val hit0 = corpusContainers(graft.Caches.track(Dedup.shingleSetsOf(shard)),
        s.read.parquet(s"$g0/postings"), s.read.parquet(s"$g0/sets"),
        s.read.parquet(s"$g0/df"))
      .select("doc_id").withColumn("b0", lit(true))
    win.join(hit0, Seq("doc_id"), "left")
      .withColumn("readmitted", col("keep") && coalesce(col("b0"), lit(false)))
      .select("doc_id", "verdict", "keep", "container", "readmitted")
      .orderBy("doc_id")
  }

  // Oracle: composed corpus∪shard ground truth from raw documents —
  // never sees the artifact (the q84 convention), so a hash match
  // proves the served verdicts equal a from-scratch recomputation.
  private val q179Sql =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),
      |snip AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |  WHERE len(string_split(text, ' ')) >= $SnipMinToks),
      |shard AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4
      |  UNION ALL
      |  SELECT doc_id + $ShardBase, array_to_string(ts[1 : len(ts) // 2], ' ')
      |  FROM snip WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + ${3 * ShardBase}, array_to_string(ts[1 : len(ts) // 2], ' ')
      |  FROM snip WHERE doc_id % 20 = 4),
      |ctoks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM corpus WHERE len(string_split(text, ' ')) >= 2),
      |cshing AS (SELECT DISTINCT doc_id, unnest([ts[i] || ' ' || ts[i + 1] for i in range(1, len(ts))]) AS shingle FROM ctoks),
      |ctok AS (SELECT DISTINCT doc_id, CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS tok FROM cshing),
      |csize AS (SELECT doc_id, COUNT(*) AS n FROM ctok GROUP BY doc_id),
      |stoks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM shard WHERE len(string_split(text, ' ')) >= 2),
      |sshing AS (SELECT DISTINCT doc_id, unnest([ts[i] || ' ' || ts[i + 1] for i in range(1, len(ts))]) AS shingle FROM stoks),
      |stok AS (SELECT DISTINCT doc_id, CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS tok FROM sshing),
      |ssize AS (SELECT doc_id, COUNT(*) AS n FROM stok GROUP BY doc_id),
      |chit AS (
      |  SELECT j.doc_id, MIN(j.cdoc) AS container
      |  FROM (
      |    SELECT s.doc_id, c.doc_id AS cdoc, COUNT(*) AS inter
      |    FROM stok s JOIN ctok c ON s.tok = c.tok
      |    GROUP BY 1, 2) j
      |  JOIN ssize sz ON j.doc_id = sz.doc_id
      |  WHERE sz.n >= $MinSet AND j.inter * 10 >= sz.n * 9
      |  GROUP BY j.doc_id),
      |bpair AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS iab
      |  FROM stok a JOIN stok b ON a.tok = b.tok AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2),
      |bhit AS (
      |  SELECT p.da AS doc_id, MIN(p.db) AS batch_container
      |  FROM bpair p
      |  JOIN ssize za ON p.da = za.doc_id
      |  JOIN ssize zb ON p.db = zb.doc_id
      |  WHERE za.n >= $MinSet
      |    AND p.iab * 10 >= za.n * 9
      |    AND (NOT (p.iab * 10 >= zb.n * 9 AND zb.n >= $MinSet) OR p.db < p.da)
      |  GROUP BY 1)
      |SELECT s.doc_id,
      |       CASE WHEN ch.container IS NOT NULL THEN 'contained_in_corpus'
      |            WHEN bh.batch_container IS NOT NULL THEN 'contained_in_batch'
      |            ELSE 'kept' END AS verdict,
      |       (ch.container IS NULL AND bh.batch_container IS NULL) AS keep,
      |       ch.container
      |FROM shard s
      |LEFT JOIN chit ch ON s.doc_id = ch.doc_id
      |LEFT JOIN bhit bh ON s.doc_id = bh.doc_id
      |ORDER BY s.doc_id""".stripMargin

  // q182's oracle: q179's composed ground truth with the CASE redaction
  // on the cited container — a hash match proves redaction touches ONLY
  // the citation column (the q142 oracle pattern).
  private val q182Sql = q179Sql.replace(
    "       ch.container\nFROM shard s",
    "       CASE WHEN ch.container % 7 = 3 THEN NULL ELSE ch.container END AS container\nFROM shard s")
  require(q182Sql != q179Sql, "q182 oracle redaction splice did not fire")

  // q183's oracle replays the WINDOWED verdict from raw documents (q179's
  // CTE stack with corpus := the live era only) plus the retired era's
  // containment probe for the readmission bit — never seeing any
  // artifact. A hash match proves retirement serves exactly as if the
  // retired era had never been ingested, with every expiry-enabled
  // admission accounted.
  private val q183Sql =
    s"""WITH corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4 AND doc_id % 2 = 1),
      |era0 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4 AND doc_id % 2 = 0),
      |snip AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |  WHERE len(string_split(text, ' ')) >= $SnipMinToks),
      |shard AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4
      |  UNION ALL
      |  SELECT doc_id + $ShardBase, array_to_string(ts[1 : len(ts) // 2], ' ')
      |  FROM snip WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + ${3 * ShardBase}, array_to_string(ts[1 : len(ts) // 2], ' ')
      |  FROM snip WHERE doc_id % 20 = 4),
      |ctoks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM corpus WHERE len(string_split(text, ' ')) >= 2),
      |cshing AS (SELECT DISTINCT doc_id, unnest([ts[i] || ' ' || ts[i + 1] for i in range(1, len(ts))]) AS shingle FROM ctoks),
      |ctok AS (SELECT DISTINCT doc_id, CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS tok FROM cshing),
      |e0toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM era0 WHERE len(string_split(text, ' ')) >= 2),
      |e0shing AS (SELECT DISTINCT doc_id, unnest([ts[i] || ' ' || ts[i + 1] for i in range(1, len(ts))]) AS shingle FROM e0toks),
      |e0tok AS (SELECT DISTINCT doc_id, CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS tok FROM e0shing),
      |stoks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM shard WHERE len(string_split(text, ' ')) >= 2),
      |sshing AS (SELECT DISTINCT doc_id, unnest([ts[i] || ' ' || ts[i + 1] for i in range(1, len(ts))]) AS shingle FROM stoks),
      |stok AS (SELECT DISTINCT doc_id, CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS tok FROM sshing),
      |ssize AS (SELECT doc_id, COUNT(*) AS n FROM stok GROUP BY doc_id),
      |chit AS (
      |  SELECT j.doc_id, MIN(j.cdoc) AS container
      |  FROM (
      |    SELECT s.doc_id, c.doc_id AS cdoc, COUNT(*) AS inter
      |    FROM stok s JOIN ctok c ON s.tok = c.tok
      |    GROUP BY 1, 2) j
      |  JOIN ssize sz ON j.doc_id = sz.doc_id
      |  WHERE sz.n >= $MinSet AND j.inter * 10 >= sz.n * 9
      |  GROUP BY j.doc_id),
      |chit0 AS (
      |  SELECT DISTINCT j.doc_id
      |  FROM (
      |    SELECT s.doc_id, c.doc_id AS cdoc, COUNT(*) AS inter
      |    FROM stok s JOIN e0tok c ON s.tok = c.tok
      |    GROUP BY 1, 2) j
      |  JOIN ssize sz ON j.doc_id = sz.doc_id
      |  WHERE sz.n >= $MinSet AND j.inter * 10 >= sz.n * 9),
      |bpair AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS iab
      |  FROM stok a JOIN stok b ON a.tok = b.tok AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2),
      |bhit AS (
      |  SELECT p.da AS doc_id, MIN(p.db) AS batch_container
      |  FROM bpair p
      |  JOIN ssize za ON p.da = za.doc_id
      |  JOIN ssize zb ON p.db = zb.doc_id
      |  WHERE za.n >= $MinSet
      |    AND p.iab * 10 >= za.n * 9
      |    AND (NOT (p.iab * 10 >= zb.n * 9 AND zb.n >= $MinSet) OR p.db < p.da)
      |  GROUP BY 1)
      |SELECT s.doc_id,
      |       CASE WHEN ch.container IS NOT NULL THEN 'contained_in_corpus'
      |            WHEN bh.batch_container IS NOT NULL THEN 'contained_in_batch'
      |            ELSE 'kept' END AS verdict,
      |       (ch.container IS NULL AND bh.batch_container IS NULL) AS keep,
      |       ch.container,
      |       (ch.container IS NULL AND bh.batch_container IS NULL
      |        AND c0.doc_id IS NOT NULL) AS readmitted
      |FROM shard s
      |LEFT JOIN chit ch ON s.doc_id = ch.doc_id
      |LEFT JOIN bhit bh ON s.doc_id = bh.doc_id
      |LEFT JOIN chit0 c0 ON s.doc_id = c0.doc_id
      |ORDER BY s.doc_id""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q179_contain_intake" -> (q179 _),
    "q182_contain_takedown" -> (q182 _),
    "q183_contain_retention" -> (q183 _),
  )
  override val oracle: Map[String, String] = Map(
    "q179_contain_intake" -> q179Sql,
    "q182_contain_takedown" -> q182Sql,
    "q183_contain_retention" -> q183Sql,
  )
}
