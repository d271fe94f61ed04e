package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Artifacts, PrefixSum, QueryModule, Tables}

/** Corpus curation operators a large-scale training-data pipeline runs
  * AFTER dedup (Dedup.scala) and quality scoring (TextPipeline.scala):
  * benchmark decontamination, deterministic stratified sampling, domain
  * mixture weighting, and PII redaction. Beyond the reference's own
  * operator set — these are the intake-side ops its relational surface
  * would grow at 100 TB.
  *
  * Scale stance:
  *  - Decontamination (q51) is an equi-join on an int64 n-gram key with
  *    a document-frequency cap, so ubiquitous n-grams (the join-key skew
  *    at corpus scale) are excluded BY DEFINITION — standard practice,
  *    since a stop-phrase shared with an eval doc is not contamination.
  *  - Sampling (q52) is hash-based and stateless: keep iff a 60-bit
  *    md5 integer of the doc id falls under the stratum's rate
  *    threshold. No RNG, no seed plumbing, no shuffle beyond the
  *    stratum-count window; replays identically on any cluster.
  *  - Mixture weights (q53) are two partial-aggregated passes; the
  *    normalizer is the MAX stratum (order-insensitive), never an
  *    FP sum over strata (order-dependent across engines/partitions).
  *  - Redaction (q54) is a pure narrow map — regex extraction and
  *    replacement run inside whole-stage codegen, no shuffle at all.
  *
  * Every hash is md5 so the DuckDB oracle replays each step bit-exactly
  * (int64 tokens via the same hex-prefix construction as Dedup q32).
  */
object Curation extends QueryModule {

  // ---------------------------------------------------------------------
  // q51 — benchmark decontamination: the eval split is the deterministic
  // slice doc_id % 17 == 5; a training document is contaminated if it
  // shares ≥ MinShared distinct rare token-3-grams with an eval document
  // (near-duplicate leakage shows up as 30-90 shared trigrams on this
  // corpus; incidental vocabulary overlap stays at 1-3). "Rare" = document
  // frequency ≤ max(2, corpus/20): frequent trigrams are boilerplate, not
  // leakage, and excluding them also bounds the join key's fan-out.
  private val EvalMod = 17
  private val EvalPhase = 5
  private val MinShared = 4

  /** The (doc_id, tok) relation of RARE trigram keys — the shared
    * contamination DEFINITION of q51 (exact one-shot) and q85 (bloom
    * serving twin). Tracked caches: the trigram relation feeds total,
    * dfreq, and the rare filter; the rare relation feeds both sides of
    * the train/eval join. */
  private def rareTrigrams(s: SparkSession, dir: String): DataFrame = {
    val tri = graft.Caches.track(Tables.documentsWide(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ts) - 2), i -> concat_ws(' ', element_at(ts, i), element_at(ts, i + 1), element_at(ts, i + 2)))"
      )).as("g"))
      .select(col("doc_id"),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("tok"))
      .distinct())
    val total = tri.select(countDistinct(col("doc_id")).as("total"))
    val dfreq = tri.groupBy("tok").agg(count(lit(1)).as("df"))
    graft.Caches.track(tri.join(dfreq, "tok")
      .crossJoin(broadcast(total))
      .filter(col("df") <= greatest(lit(2), expr("total div 20")))
      .select("doc_id", "tok"))
  }

  private def q51(s: SparkSession, dir: String): DataFrame = {
    val rare = rareTrigrams(s, dir)
    val ev = rare.filter(col("doc_id") % EvalMod === EvalPhase)
      .select(col("doc_id").as("eval_doc"), col("tok"))
    val tr = rare.filter(col("doc_id") % EvalMod =!= EvalPhase)
    tr.join(ev, "tok")
      .groupBy(col("doc_id").as("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinShared)
      .orderBy("train_doc", "eval_doc")
      .select("train_doc", "eval_doc", "n_shared")
  }

  /** q51's train⋈eval join through [[graft.functions.Skew.saltedJoin]]
    * — the D3 cross-check strategy (q26's anti/except pattern) and the
    * documented MANUAL skew fallback for this operator. q51's rarity
    * filter admits trigrams up to df = corpus/20, so at 100 TB a
    * single admitted trigram can put corpus/20 train rows on one
    * reducer; when AQE's skew split can't fire (bucketed or
    * pre-partitioned inputs), the salted phrasing spreads each hot tok
    * over `salt` sub-keys (eval side replicated ×salt — the smaller
    * side by the 1-in-17 split). Row-identical to q51 by construction;
    * CurationSpec pins salted ≡ unsalted on a hot-key fixture AND the
    * driver corpus. Not the default plan: on a skew-free corpus the
    * eval-side replication is pure overhead. */
  def q51Salted(s: SparkSession, dir: String, salt: Int = 8): DataFrame = {
    val rare = rareTrigrams(s, dir)
    val ev = rare.filter(col("doc_id") % EvalMod === EvalPhase)
      .select(col("doc_id").as("eval_doc"), col("tok"))
    val tr = rare.filter(col("doc_id") % EvalMod =!= EvalPhase)
    graft.functions.Skew.saltedJoin(tr, ev, "tok", salt)
      .groupBy(col("doc_id").as("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinShared)
      .orderBy("train_doc", "eval_doc")
      .select("train_doc", "eval_doc", "n_shared")
  }

  private val q51Sql =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |tri AS (
      |  SELECT DISTINCT doc_id,
      |         CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS tok
      |  FROM (SELECT doc_id, unnest([ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] for i in range(1, len(ts) - 1)]) AS g FROM toks)),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS total FROM tri),
      |dfreq AS (SELECT tok, COUNT(*) AS df FROM tri GROUP BY tok),
      |rare AS (
      |  SELECT t.doc_id, t.tok FROM tri t JOIN dfreq d USING (tok) CROSS JOIN n
      |  WHERE d.df <= GREATEST(2, n.total // 20)),
      |ev AS (SELECT doc_id AS eval_doc, tok FROM rare WHERE doc_id % $EvalMod = $EvalPhase),
      |tr AS (SELECT doc_id, tok FROM rare WHERE doc_id % $EvalMod != $EvalPhase)
      |SELECT tr.doc_id AS train_doc, ev.eval_doc, COUNT(*) AS n_shared
      |FROM tr JOIN ev USING (tok)
      |GROUP BY 1, 2 HAVING COUNT(*) >= $MinShared
      |ORDER BY train_doc, eval_doc""".stripMargin

  // ---------------------------------------------------------------------
  // q85 — Bloom-prefiltered decontamination: q51's exact contamination
  // report through the SERVING-SHAPED plan. At 100 TB the training
  // side's rare-trigram stream is the dominant exchange of q51's join;
  // the eval benchmark's key set, while too large to broadcast as a
  // hash relation at ~10 M keys × 8 B + map overhead, fits a Bloom
  // filter at ~2 bytes/key. So: build the filter over the eval keys
  // with ONE aggregation (4 xxhash64 bit positions per key, bit_or
  // word packing), ship it as a one-row broadcast array, and kill the
  // training stream MAP-SIDE with four codegen'd bit probes before any
  // exchange. No false negatives by construction (every probed bit of
  // a true eval key is set), and false positives (~0.2 % at 16
  // bits/key) die in the exact join that follows — so the output is
  // bit-identical to q51 and shares its oracle; CurationSpec asserts
  // the row identity, PlanSpec pins the probe below the join. This is
  // the explicit form of the bloom semi-join reduction Spark's own
  // InjectRuntimeFilter applies when statistics let it; here it is an
  // operator, deterministic and always-on. The offline half is ONE
  // driver action (the word-collect, bounded by mBits/64 rows): the
  // filter-sizing count rides the packing job as a broadcast 1-row
  // aggregate over the same cached key relation, and each packed row
  // carries m_bits back to the driver — control-plane, the q68-audited
  // pattern (r15: the sizing used to be a separate count() action; the
  // extra job was q85's calm drift vs its committed row).
  private val BloomK = 4

  private def q85(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rare = rareTrigrams(s, dir)
    val ev = rare.filter(col("doc_id") % EvalMod === EvalPhase)
      .select(col("doc_id").as("eval_doc"), col("tok"))
    val tr = rare.filter(col("doc_id") % EvalMod =!= EvalPhase)

    // offline half: the filter over the eval side's distinct keys.
    // Tracked cache: the key set feeds the sizing aggregate AND the
    // packing explode inside the one collect below — uncached, each
    // subtree re-ran the distinct over the rare relation.
    val evKeys = graft.Caches.track(ev.select("tok").distinct())
    // 16 bits/key, K=4 -> fpr ~0.2%; m_bits is a broadcast scalar so
    // sizing and packing are the same job, not count() + collect()
    val sizing = evKeys.agg(
      greatest(lit(16384L), lit(16L) * count(lit(1))).as("m_bits"))
    val packed = evKeys.crossJoin(broadcast(sizing))
      .select(col("m_bits"), explode(expr(
        s"transform(sequence(0, ${BloomK - 1}), k -> pmod(xxhash64(tok, k), m_bits))")).as("pos"))
      .groupBy(expr("cast(pos div 64 AS int)").as("w"))
      .agg(expr("bit_or(shiftleft(1L, cast(pos % 64 AS int)))").as("bits"),
        min(col("m_bits")).as("m_bits"))
      .collect() // control plane: ≤ mBits/64 rows by construction
    // empty eval side -> no packed rows; any m_bits works (all-zero
    // words reject every probe, and the exact join is empty anyway)
    val mBits = if (packed.isEmpty) 16384L else packed.head.getLong(2)
    val nWords = ((mBits + 63) / 64).toInt
    val words = new Array[Long](nWords)
    packed.foreach(r => words(r.getInt(0)) = r.getLong(1))
    val bloom = Seq(Tuple1(words.toSeq)).toDF("bloom")

    // online half: four bit probes, all built-in codegen'd expressions,
    // evaluated before the training stream reaches any exchange
    val hit = (0 until BloomK).map { k =>
      val pos = s"pmod(xxhash64(tok, $k), ${mBits}L)"
      expr(s"(element_at(bloom, cast(($pos) div 64 AS int) + 1) & shiftleft(1L, cast(($pos) % 64 AS int))) <> 0")
    }.reduce(_ && _)

    tr.crossJoin(broadcast(bloom))
      .filter(hit)
      .drop("bloom")
      .join(ev, "tok")
      .groupBy(col("doc_id").as("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinShared)
      .orderBy("train_doc", "eval_doc")
      .select("train_doc", "eval_doc", "n_shared")
  }

  // ---------------------------------------------------------------------
  // q52 — deterministic stratified sampling: strata are (lang, source);
  // each stratum is downsampled to ≈ TargetPerStratum docs by keeping a
  // document iff its 60-bit md5 integer falls below rate·2^60. The
  // threshold uses floor() explicitly because DuckDB's CAST(double AS
  // BIGINT) rounds while Spark's truncates — floor makes both exact on
  // the same IEEE double.
  private val TargetPerStratum = 48

  private def q52(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang", "source")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"))
      .withColumn("n_stratum", count(lit(1)).over(w))
      .withColumn("u",
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("long"))
      .withColumn("keep", col("u") < floor(
        least(lit(1.0), lit(TargetPerStratum.toDouble) / col("n_stratum"))
          * lit(1152921504606846976.0)).cast("long"))
      .select("doc_id", "lang", "source", "n_stratum", "keep")
      .orderBy("doc_id")
  }

  private val q52Sql =
    s"""WITH d AS (
      |  SELECT doc_id, lang, source,
      |         COUNT(*) OVER (PARTITION BY lang, source) AS n_stratum
      |  FROM documents)
      |SELECT doc_id, lang, source, n_stratum,
      |       CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT)
      |         < CAST(FLOOR(LEAST(1.0, ${TargetPerStratum.toDouble} / n_stratum) * 1152921504606846976.0) AS BIGINT) AS keep
      |FROM d ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q53 — domain mixture weights at sampling temperature τ = 1/2: per
  // (lang, source) stratum, weight ∝ (token share)^τ — the standard
  // down-weighting of dominant domains when composing a training mix.
  // Normalized by the LARGEST stratum (a MAX, order-insensitive and
  // engine-portable) rather than the sum of powers, which would be an
  // order-dependent FP reduction.
  private def q53(s: SparkSession, dir: String): DataFrame = {
    val strata = Tables.documents(s, dir)
      .select(col("lang"), col("source"), size(split(col("text"), " ")).as("nt"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val mx = strata.select(max(col("n_tokens")).as("max_tokens"))
    strata.crossJoin(broadcast(mx))
      .withColumn("weight",
        round(sqrt(col("n_tokens").cast("double") / col("max_tokens")), 6))
      .select("lang", "source", "n_docs", "n_tokens", "weight")
      .orderBy("lang", "source")
  }

  private val q53Sql =
    """WITH strata AS (
      |  SELECT lang, source, COUNT(*) AS n_docs,
      |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY lang, source),
      |mx AS (SELECT MAX(n_tokens) AS max_tokens FROM strata)
      |SELECT lang, source, n_docs, n_tokens,
      |       ROUND(SQRT(CAST(n_tokens AS DOUBLE) / max_tokens), 6) AS weight
      |FROM strata CROSS JOIN mx
      |ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------------
  // q104 — token-budget EPOCH PLAN: the operational step after q53's
  // mixture weights — given the corpus's per-(lang, source) token
  // inventory and a total training-token budget, how many tokens (and
  // therefore how many EPOCHS) does each stratum contribute? The shape
  // every large-model data plan publishes (The Pile's epochs table,
  // LLaMA's sampling proportions): τ=1/2 stratum weights, a budget split
  // proportional to weight, per-stratum epoch counts, and a cap flag
  // where the plan would cycle a small stratum past MaxEpochs (the
  // repeated-data degradation bound) — capped strata report the tokens
  // they actually contribute; redistribution of the shortfall is the
  // planner's caller's policy, not silently applied here.
  //
  // Determinism & scale: ALL allocation arithmetic is int64 — stratum
  // weight is floor(sqrt(n_tokens)) (IEEE sqrt is correctly rounded, so
  // floor() agrees across engines), the budget share is
  // wi * (budget DIV Σwi) (two int ops, no FP sum anywhere — and no
  // int64 overflow even at 100 TB: budget DIV Σwi caps the factor
  // before multiplication), epochs in integer milliepochs. Plan cost:
  // one partial-aggregated pass over documents + a broadcast 1-row
  // totals attachment — trivially flat at any corpus size.
  private val MaxEpochs = 4L
  private def q104(s: SparkSession, dir: String): DataFrame = {
    val strata = Tables.documents(s, dir)
      .select(col("lang"), col("source"), size(split(col("text"), " ")).as("nt"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .withColumn("wi", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val tot = strata.select(sum(col("wi")).as("sum_wi"),
      sum(col("n_tokens")).as("tot_tokens"))
    strata.crossJoin(broadcast(tot))
      .withColumn("budget", col("tot_tokens") * 2)
      .withColumn("weight_ppm", expr("wi * 1000000 DIV sum_wi"))
      .withColumn("target_tokens", expr("wi * (budget DIV sum_wi)"))
      .withColumn("epochs_milli", expr("target_tokens * 1000 DIV n_tokens"))
      .withColumn("capped", col("epochs_milli") > MaxEpochs * 1000L)
      .withColumn("planned_tokens",
        least(col("target_tokens"), col("n_tokens") * MaxEpochs))
      .select("lang", "source", "n_docs", "n_tokens", "weight_ppm",
        "target_tokens", "epochs_milli", "capped", "planned_tokens")
      .orderBy("lang", "source")
  }

  private val q104Sql =
    s"""WITH strata AS (
      |  SELECT lang, source, COUNT(*) AS n_docs,
      |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY lang, source),
      |w AS (
      |  SELECT *, CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS wi
      |  FROM strata),
      |tot AS (
      |  SELECT CAST(SUM(wi) AS BIGINT) AS sum_wi,
      |         CAST(SUM(n_tokens) AS BIGINT) * 2 AS budget
      |  FROM w)
      |SELECT lang, source, n_docs, n_tokens,
      |       wi * 1000000 // sum_wi AS weight_ppm,
      |       wi * (budget // sum_wi) AS target_tokens,
      |       wi * (budget // sum_wi) * 1000 // n_tokens AS epochs_milli,
      |       wi * (budget // sum_wi) * 1000 // n_tokens > ${MaxEpochs * 1000L} AS capped,
      |       LEAST(wi * (budget // sum_wi), n_tokens * $MaxEpochs) AS planned_tokens
      |FROM w CROSS JOIN tot
      |ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------------
  // q105 — EPOCH PLAN MATERIALIZATION: q104's per-stratum epoch counts
  // expanded into the per-copy relation a training data loader actually
  // consumes — one row per (document, epoch copy), each copy assigned a
  // deterministic shard. A stratum planned at e.g. 2.4 epochs
  // contributes every document twice (epoch_idx 0, 1) plus a
  // deterministic 40 % top-up draw (epoch_idx 2): the fractional epoch
  // is a PER-DOCUMENT md5-threshold keep salted by the epoch index, so
  // the top-up subset is stable across runs and clusters, and different
  // epochs of the same stratum sample DIFFERENT subsets (the draw key
  // is (doc, epoch), not (doc)). Shards come from an epoch-salted md5
  // too, so each epoch's copies land in a fresh permutation — the
  // "reshuffle every epoch" training contract — without any global sort.
  //
  // Determinism & scale: the plan relation (one row per stratum) reuses
  // q104's all-int64 arithmetic and BROADCASTS; the expansion is a
  // narrow explode bounded by MaxEpochs+1 copies per doc — no shuffle
  // anywhere except the stratum aggregation itself (partial-aggregated,
  // stratum-count-sized output). The fractional threshold is
  // frac_milli · (2⁶⁰ div 1000) — pure integer compare against the
  // 60-bit md5 draw, bit-identical on any engine and partitioning.
  private def q105(s: SparkSession, dir: String): DataFrame = {
    val strata = Tables.documents(s, dir)
      .select(col("lang"), col("source"), size(split(col("text"), " ")).as("nt"))
      .groupBy("lang", "source")
      .agg(sum(col("nt")).as("n_tokens"))
      .withColumn("wi", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val tot = strata.select(sum(col("wi")).as("sum_wi"),
      sum(col("n_tokens")).as("tot_tokens"))
    val plan = strata.crossJoin(broadcast(tot))
      .withColumn("budget", col("tot_tokens") * 2)
      .withColumn("em", least(
        expr("wi * (budget DIV sum_wi) * 1000 DIV n_tokens"),
        lit(MaxEpochs * 1000L)))
      .select("lang", "source", "em")
    Tables.documents(s, dir).select("doc_id", "lang", "source")
      .join(broadcast(plan), Seq("lang", "source"))
      .select(col("doc_id"), col("lang"), col("source"), col("em"),
        explode(expr("sequence(0, em div 1000)")).as("epoch_idx"))
      .withColumn("u", conv(substring(md5(concat(lit("ep:"),
        col("doc_id").cast("string"), lit(":"),
        col("epoch_idx").cast("string"))), 1, 15), 16, 10).cast("long"))
      .filter(col("epoch_idx") < expr("em div 1000") ||
        col("u") < (col("em") % 1000L) * lit(1152921504606846L))
      .withColumn("shard", conv(substring(md5(concat(lit("sh:"),
        col("doc_id").cast("string"), lit(":"),
        col("epoch_idx").cast("string"))), 1, 15), 16, 10).cast("long") % 16L)
      .select("doc_id", "lang", "source", "epoch_idx", "shard")
      .orderBy("doc_id", "epoch_idx")
  }

  private val q105Sql =
    s"""WITH strata AS (
      |  SELECT lang, source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY lang, source),
      |w AS (
      |  SELECT *, CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS wi
      |  FROM strata),
      |tot AS (
      |  SELECT CAST(SUM(wi) AS BIGINT) AS sum_wi,
      |         CAST(SUM(n_tokens) AS BIGINT) * 2 AS budget
      |  FROM w),
      |plan AS (
      |  SELECT lang, source,
      |         LEAST(wi * (budget // sum_wi) * 1000 // n_tokens, ${MaxEpochs * 1000L}) AS em
      |  FROM w CROSS JOIN tot),
      |copies AS (
      |  SELECT d.doc_id, d.lang, d.source, p.em, e.epoch_idx
      |  FROM documents d
      |  JOIN plan p ON d.lang = p.lang AND d.source = p.source
      |  JOIN (SELECT unnest(range(0, ${MaxEpochs + 1})) AS epoch_idx) e
      |    ON e.epoch_idx <= p.em // 1000)
      |SELECT doc_id, lang, source, epoch_idx,
      |       CAST(('0x' || substring(md5('sh:' || doc_id::VARCHAR || ':' || epoch_idx::VARCHAR), 1, 15)) AS BIGINT) % 16 AS shard
      |FROM copies
      |WHERE epoch_idx < em // 1000
      |   OR CAST(('0x' || substring(md5('ep:' || doc_id::VARCHAR || ':' || epoch_idx::VARCHAR), 1, 15)) AS BIGINT)
      |        < (em % 1000) * 1152921504606846
      |ORDER BY doc_id, epoch_idx""".stripMargin

  // ---------------------------------------------------------------------
  // q111 — N-GRAM NOVELTY AUDIT: per-document memorization/overlap share
  // against a frozen reference slice — for every candidate document, the
  // fraction of its distinct 8-grams that already occur anywhere in the
  // reference (a deterministic 30 % md5 slice standing in for "the
  // previous release" or "the eval suite corpus"), in integer ppm, with
  // a low-novelty flag. q51 answers "which train/eval PAIRS leak"; this
  // answers the per-document question a release audit asks: how much of
  // this doc is already covered. 8-gram granularity is the ExactSubstr
  // family's working unit (long enough to be specific, short enough to
  // catch partial copies).
  //
  // Scale: the gram is md5-HASHED INSIDE the explode transform, so the
  // corpus-sized gram relation carries fixed-width 32-char keys only —
  // gram text never shuffles. Distinct + join + per-doc agg are all on
  // the md5-uniform key; no windows, no skew (a boilerplate gram
  // repeated billions of times dedups map-side in the distinct's
  // partial aggregation).
  private[graft] val NovN = 8
  private[graft] val NovOverlapPpm = 500000L

  /** The novelty audit's gram relation: (doc_id, is_ref, g = gram md5),
    * one row per 8-gram occurrence, shared by q111 and the streaming
    * twin's reference-artifact builder. */
  private[graft] def noveltyGrams(s: SparkSession, dir: String): DataFrame =
    Tables.documentsWide(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .withColumn("n", size(col("ts")))
      .filter(col("n") >= NovN)
      .withColumn("is_ref", conv(substring(md5(concat(lit("ref:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 10L < 3)
      .select(col("doc_id"), col("is_ref"), explode(expr(
        s"transform(sequence(1, n - ${NovN - 1}), i -> md5(array_join(slice(ts, i, $NovN), ' ')))")).as("g"))

  /** The frozen reference-gram artifact the streaming twin serves from:
    * distinct gram hashes of the reference slice. */
  private[graft] def referenceGrams(s: SparkSession, dir: String): DataFrame =
    noveltyGrams(s, dir).filter(col("is_ref")).select("g").distinct()

  private def q111(s: SparkSession, dir: String): DataFrame = {
    val grams = graft.Caches.track(noveltyGrams(s, dir))
    val refGrams = grams.filter(col("is_ref")).select("g").distinct()
      .withColumn("seen", lit(1L))
    grams.filter(!col("is_ref")).select("doc_id", "g").distinct()
      .join(refGrams, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("seen"), lit(0L))).as("n_seen"))
      .withColumn("novelty_ppm", expr("(1000000 * (n_grams - n_seen)) div n_grams"))
      .withColumn("flag_overlap", col("novelty_ppm") < NovOverlapPpm)
      .select("doc_id", "n_grams", "n_seen", "novelty_ppm", "flag_overlap")
      .orderBy("doc_id")
  }

  private val q111Sql =
    s"""WITH base AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts, len(string_split(text, ' ')) AS n,
      |         CAST('0x' || substring(md5('ref:' || doc_id::VARCHAR), 1, 15) AS BIGINT) % 10 < 3 AS is_ref
      |  FROM documents WHERE len(string_split(text, ' ')) >= $NovN),
      |grams AS (
      |  SELECT doc_id, is_ref, md5(array_to_string(ts[i:i + ${NovN - 1}], ' ')) AS g
      |  FROM (SELECT doc_id, is_ref, ts, unnest(range(1, n - ${NovN - 2})) AS i FROM base)),
      |refg AS (SELECT DISTINCT g FROM grams WHERE is_ref),
      |cand AS (SELECT DISTINCT doc_id, g FROM grams WHERE NOT is_ref),
      |j AS (
      |  SELECT c.doc_id, CASE WHEN r.g IS NULL THEN 0 ELSE 1 END AS seen
      |  FROM cand c LEFT JOIN refg r ON c.g = r.g)
      |SELECT doc_id, COUNT(*) AS n_grams, CAST(SUM(seen) AS BIGINT) AS n_seen,
      |       (1000000 * (COUNT(*) - CAST(SUM(seen) AS BIGINT))) // COUNT(*) AS novelty_ppm,
      |       (1000000 * (COUNT(*) - CAST(SUM(seen) AS BIGINT))) // COUNT(*) < $NovOverlapPpm AS flag_overlap
      |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q112 — EXACT STRATIFIED TRAIN/VAL/TEST SPLIT: within every
  // (lang, source) stratum, docs are ranked by a deterministic md5
  // permutation and the first n div 10 go to test, the next n div 10 to
  // val, the rest to train — EXACT per-stratum quotas (the md5-threshold
  // keeps of q52/q76 hit rates only in expectation; an eval split wants
  // exact counts). Reproducible on any engine and partitioning.
  //
  // Scale: per-stratum rank is a corpus-sized total order, so it is a
  // PrefixSum position over the key's high 6 bits (bucket order ≡ key
  // order); bucket bound: ≤ 64 key buckets per stratum. A null lang or
  // source is its own stratum, as in the oracle's one plain window, so
  // the sizes join back null-safe too.
  private def q112(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(s, dir).select("doc_id", "lang", "source")
      .withColumn("key", conv(substring(md5(concat(lit("split:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long"))
      .withColumn("bucket", (col("key") / lit(1L << 54)).cast("int"))
    val sizes = keyed.groupBy(col("lang").as("s_lang"), col("source").as("s_source"))
      .agg(count(lit(1)).as("n"))
    PrefixSum.positions(keyed, Seq("lang", "source"), Seq("bucket"),
        Seq(col("key"), col("doc_id")), "rank")
      .join(broadcast(sizes),
        col("lang") <=> col("s_lang") && col("source") <=> col("s_source"))
      .withColumn("split",
        when(col("rank") <= expr("n div 10"), lit("test"))
          .when(col("rank") <= expr("2 * (n div 10)"), lit("val"))
          .otherwise(lit("train")))
      .select("doc_id", "lang", "source", "rank", "split")
      .orderBy("doc_id")
  }

  private val q112Sql =
    """WITH keyed AS (
      |  SELECT doc_id, lang, source,
      |         CAST('0x' || substring(md5('split:' || doc_id::VARCHAR), 1, 15) AS BIGINT) AS key
      |  FROM documents),
      |ranked AS (
      |  SELECT doc_id, lang, source,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY key, doc_id) AS BIGINT) AS rank,
      |         COUNT(*) OVER (PARTITION BY lang, source) AS n
      |  FROM keyed)
      |SELECT doc_id, lang, source, rank,
      |       CASE WHEN rank <= n // 10 THEN 'test'
      |            WHEN rank <= 2 * (n // 10) THEN 'val'
      |            ELSE 'train' END AS split
      |FROM ranked ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q113 — SOURCE OVERLAP MATRIX (KMV set sketch + exact audit): for
  // every pair of sources, how much CONTENT do they share? Measured the
  // way corpus-overlap studies measure it (the WebText-vs-CommonCrawl
  // shape): Jaccard between the sources' distinct 8-gram shingle sets
  // — document-level hashes only see verbatim whole-doc copies; shingle
  // sets see shared passages. Answered two ways under one hash gate: a
  // k-minimum-values sketch estimate (the mergeable KMV/theta-sketch
  // construction: each source's signature is its k smallest distinct
  // shingle-hash values; the pair's Jaccard estimate is the fraction of
  // the union's k smallest that both sources hold) and the exact
  // Jaccard for audit (feasible here; at 100 TB only the sketch path
  // runs and the signature relation is k·|sources| rows).
  //
  // Scale: the k-smallest-per-source selection NEVER sorts a source
  // partition — a count-prune first (hv < 8k/n · 2⁶⁰, integer
  // arithmetic; sources under 8k docs keep everything) cuts each
  // source to ~8k candidate rows, and only that bounded relation sees
  // the per-source rank window. Signatures are ≤k-element arrays
  // (bounded collect); the pair matrix is |sources|² and broadcast.
  // All hashes are md5 — both engines see identical integers, so the
  // sketch (not just the exact side) is bit-deterministic.
  private val KmvK = 32
  private def q113(s: SparkSession, dir: String): DataFrame = {
    val hv = graft.Caches.track(Tables.documentsWide(s, dir)
      .select(col("source"), split(col("text"), " ").as("ts"))
      .withColumn("n", size(col("ts")))
      .filter(col("n") >= NovN)
      .select(col("source"), explode(expr(
        s"""transform(sequence(1, n - ${NovN - 1}),
           |  i -> conv(substring(md5(array_join(slice(ts, i, $NovN), ' ')), 1, 15), 16, 10))""".stripMargin)).as("hs"))
      .select(col("source"), col("hs").cast("long").as("hv"))
      .distinct())
    val counts = hv.groupBy("source").agg(count(lit(1)).as("n"))
    val pruned = hv.join(broadcast(counts), "source")
      .filter(col("hv") < when(col("n") <= 8 * KmvK, lit(Long.MaxValue))
        .otherwise(expr(s"(1152921504606846976L div n) * ${8 * KmvK}")))
    // tiny (≤k·|sources| rows) but consumed twice by the pair self-join:
    // cache so the prune + rank subtree runs once
    val sigs = graft.Caches.track(pruned
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy("hv")))
      .filter(col("rk") <= KmvK)
      .groupBy("source").agg(sort_array(collect_list(col("hv"))).as("sig")))
    val pairs = sigs.select(col("source").as("s1"), col("sig").as("sig1"))
      .join(broadcast(sigs.select(col("source").as("s2"), col("sig").as("sig2"))),
        col("s1") < col("s2"))
      .withColumn("merged", array_sort(array_union(col("sig1"), col("sig2"))))
      .withColumn("kk", least(lit(KmvK), size(col("merged"))))
      .withColumn("top", expr("slice(merged, 1, kk)"))
      .withColumn("common",
        size(expr("array_intersect(array_intersect(top, sig1), sig2)")))
      .withColumn("est_ppm", expr("(1000000 * CAST(common AS BIGINT)) div kk"))
      .select("s1", "s2", "est_ppm")
    val inter = hv.select(col("source").as("s1"), col("hv"))
      .join(hv.select(col("source").as("s2"), col("hv")), "hv")
      .filter(col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(counts.select(col("source").as("s1"), col("n").as("n1"))), "s1")
      .join(broadcast(counts.select(col("source").as("s2"), col("n").as("n2"))), "s2")
      .join(inter, Seq("s1", "s2"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .withColumn("exact_ppm", expr("(1000000 * inter) div (n1 + n2 - inter)"))
      .select("s1", "s2", "n1", "n2", "inter", "est_ppm", "exact_ppm")
      .orderBy("s1", "s2")
  }

  private val q113Sql =
    s"""WITH hv AS (
      |  SELECT DISTINCT source,
      |         CAST('0x' || substring(md5(array_to_string(ts[i:i + ${NovN - 1}], ' ')), 1, 15) AS BIGINT) AS hv
      |  FROM (SELECT source, ts, unnest(range(1, n - ${NovN - 2})) AS i
      |        FROM (SELECT source, string_split(text, ' ') AS ts, len(string_split(text, ' ')) AS n
      |              FROM documents WHERE len(string_split(text, ' ')) >= $NovN))),
      |counts AS (SELECT source, COUNT(*) AS n FROM hv GROUP BY source),
      |pruned AS (
      |  SELECT h.source, h.hv FROM hv h JOIN counts c ON h.source = c.source
      |  WHERE h.hv < CASE WHEN c.n <= ${8 * KmvK} THEN 9223372036854775807
      |               ELSE (1152921504606846976 // c.n) * ${8 * KmvK} END),
      |sig AS (
      |  SELECT source, hv FROM (
      |    SELECT source, hv, ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rk
      |    FROM pruned) WHERE rk <= $KmvK),
      |p AS (
      |  SELECT a.source AS s1, b.source AS s2
      |  FROM counts a JOIN counts b ON a.source < b.source),
      |uni AS (
      |  SELECT s1, s2, hv,
      |         ROW_NUMBER() OVER (PARTITION BY s1, s2 ORDER BY hv) AS ur,
      |         COUNT(*) OVER (PARTITION BY s1, s2) AS un
      |  FROM (SELECT DISTINCT p.s1, p.s2, g.hv
      |        FROM p JOIN sig g ON g.source = p.s1 OR g.source = p.s2)),
      |est AS (
      |  SELECT u.s1, u.s2,
      |         (1000000 * CAST(SUM(CASE WHEN ga.hv IS NOT NULL AND gb.hv IS NOT NULL
      |                                  THEN 1 ELSE 0 END) AS BIGINT))
      |           // MAX(LEAST($KmvK, u.un)) AS est_ppm
      |  FROM uni u
      |  LEFT JOIN sig ga ON ga.source = u.s1 AND ga.hv = u.hv
      |  LEFT JOIN sig gb ON gb.source = u.s2 AND gb.hv = u.hv
      |  WHERE u.ur <= LEAST($KmvK, u.un)
      |  GROUP BY u.s1, u.s2),
      |inter AS (
      |  SELECT a.source AS s1, b.source AS s2, COUNT(*) AS inter
      |  FROM hv a JOIN hv b ON a.hv = b.hv AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT p.s1, p.s2, c1.n AS n1, c2.n AS n2,
      |       COALESCE(i.inter, 0) AS inter, e.est_ppm,
      |       (1000000 * COALESCE(i.inter, 0)) // (c1.n + c2.n - COALESCE(i.inter, 0)) AS exact_ppm
      |FROM p JOIN counts c1 ON p.s1 = c1.source
      |JOIN counts c2 ON p.s2 = c2.source
      |JOIN est e ON p.s1 = e.s1 AND p.s2 = e.s2
      |LEFT JOIN inter i ON p.s1 = i.s1 AND p.s2 = i.s2
      |ORDER BY p.s1, p.s2""".stripMargin

  // ---------------------------------------------------------------------
  // q118 — BATCH-PACKING EFFICIENCY REPORT: how many padding tokens
  // does the training loader waste, and how much does length-bucketed
  // batching save? For batch sizes B ∈ {64, 256} sequences, the report
  // compares two deterministic batchings of the corpus — the q92
  // shard-local permutation order ("random", what a naive loader reads)
  // and length-bucketed order (docs grouped into len-div-16 buckets,
  // permutation order within — the standard bucketing trick) — and
  // prices each batch at max(len)·count versus its real token sum.
  // The gap in integer ppm is the padding waste a trainer pays.
  //
  // Scale: both orders materialize positions as PrefixSum positions
  // over (group, md5-high-bits) buckets; the per-batch rollup
  // keys (b, group, batch) are uniform by construction, and the final
  // report is 4 rows. The oracle positions each group with ONE plain
  // window ordered (kb, key, doc_id) — the same total order —
  // cross-checking the formulations.
  private val PadBatches = Seq(64, 256)
  private def q118(s: SparkSession, dir: String): DataFrame = {
    val lens = graft.Caches.track(Tables.documents(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("len"))
      .withColumn("key", conv(substring(md5(concat(lit("shard:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")))
    val rnd = lens
      .withColumn("grp", (col("key") % 16L).cast("int"))
      .withColumn("kb", (col("key") / lit(1L << 54)).cast("int"))
    val bkt = lens
      .withColumn("grp", (col("len") / 16L).cast("int"))
      .withColumn("kb", (col("key") / lit(1L << 54)).cast("int"))
    def report(df: DataFrame, strategy: String): DataFrame =
      // bucket bound: ≤ 64 key buckets per group
      PrefixSum.positions(df, Seq("grp"), Seq("kb"), Seq(col("key"), col("doc_id")), "pos")
        .select(col("grp"), col("pos"), col("len"),
          explode(typedLit(PadBatches)).as("b"))
        .withColumn("batch", expr("(pos - 1) div b"))
        .groupBy("b", "grp", "batch")
        .agg(count(lit(1)).as("n"), max(col("len")).as("mx"),
          sum(col("len")).as("real"))
        .groupBy("b")
        .agg(count(lit(1)).as("n_batches"),
          sum(col("real")).as("real_tokens"),
          sum(col("mx") * col("n")).as("padded_tokens"))
        .withColumn("strategy", lit(strategy))
    report(rnd, "random").unionByName(report(bkt, "length_bucketed"))
      .withColumn("pad_ppm",
        expr("(1000000 * (padded_tokens - real_tokens)) div padded_tokens"))
      .select("strategy", "b", "n_batches", "real_tokens", "padded_tokens", "pad_ppm")
      .orderBy("strategy", "b")
  }

  private val q118Sql =
    """WITH lens AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len,
      |         CAST('0x' || substring(md5('shard:' || doc_id::VARCHAR), 1, 15) AS BIGINT) AS key
      |  FROM documents),
      |bs(b) AS (VALUES (64), (256)),
      |rnd AS (SELECT doc_id, len, key, CAST(key % 16 AS INT) AS grp,
      |               CAST(key // 18014398509481984 AS INT) AS kb FROM lens),
      |bkt AS (SELECT doc_id, len, key, CAST(len // 16 AS INT) AS grp,
      |               CAST(key // 18014398509481984 AS INT) AS kb FROM lens),
      |rp AS (SELECT grp, len,
      |              ROW_NUMBER() OVER (PARTITION BY grp ORDER BY kb, key, doc_id) AS pos
      |       FROM rnd),
      |bp AS (SELECT grp, len,
      |              ROW_NUMBER() OVER (PARTITION BY grp ORDER BY kb, key, doc_id) AS pos
      |       FROM bkt),
      |batches AS (
      |  SELECT 'random' AS strategy, bs.b, rp.grp, (pos - 1) // bs.b AS batch,
      |         COUNT(*) AS n, MAX(len) AS mx, CAST(SUM(len) AS BIGINT) AS real
      |  FROM rp CROSS JOIN bs GROUP BY 1, 2, 3, 4
      |  UNION ALL
      |  SELECT 'length_bucketed', bs.b, bp.grp, (pos - 1) // bs.b,
      |         COUNT(*), MAX(len), CAST(SUM(len) AS BIGINT)
      |  FROM bp CROSS JOIN bs GROUP BY 1, 2, 3, 4)
      |SELECT strategy, b, COUNT(*) AS n_batches,
      |       CAST(SUM(real) AS BIGINT) AS real_tokens,
      |       CAST(SUM(mx * n) AS BIGINT) AS padded_tokens,
      |       (1000000 * (CAST(SUM(mx * n) AS BIGINT) - CAST(SUM(real) AS BIGINT)))
      |         // CAST(SUM(mx * n) AS BIGINT) AS pad_ppm
      |FROM batches GROUP BY strategy, b ORDER BY strategy, b""".stripMargin

  // ---------------------------------------------------------------------
  // q76 — TEMPERATURE-WEIGHTED MIXTURE RESAMPLING: q53's τ=1/2 domain
  // weights APPLIED — each document keeps with probability equal to its
  // stratum's weight, via the same deterministic md5-threshold keep as
  // q52 (u < w·2^60, floor()'d for the cross-engine cast divergence).
  // This is the step that actually materializes a rebalanced training
  // mix from the mixture design: dominant domains are down-sampled
  // toward the τ-damped share, the largest stratum (weight 1) keeps
  // everything, and the whole draw replays identically on any cluster —
  // no RNG, no state. Plan: the stratum weight relation is
  // strata-sized (broadcast); the keep decision is a narrow map.
  private def q76(s: SparkSession, dir: String): DataFrame = {
    val strata = Tables.documents(s, dir)
      .select(col("lang"), col("source"), size(split(col("text"), " ")).as("nt"))
      .groupBy("lang", "source")
      .agg(sum(col("nt")).as("n_tokens"))
    val mx = strata.select(max(col("n_tokens")).as("max_tokens"))
    val weights = strata.crossJoin(broadcast(mx))
      .withColumn("weight",
        round(sqrt(col("n_tokens").cast("double") / col("max_tokens")), 6))
      .select("lang", "source", "weight")
    Tables.documents(s, dir).select("doc_id", "lang", "source")
      .join(broadcast(weights), Seq("lang", "source"))
      .withColumn("u",
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("long"))
      .withColumn("keep",
        col("u") < floor(col("weight") * lit(1152921504606846976.0)).cast("long"))
      .select("doc_id", "lang", "source", "weight", "keep")
      .orderBy("doc_id")
  }

  private val q76Sql =
    """WITH strata AS (
      |  SELECT lang, source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY lang, source),
      |mx AS (SELECT MAX(n_tokens) AS max_tokens FROM strata),
      |weights AS (
      |  SELECT lang, source, ROUND(SQRT(CAST(n_tokens AS DOUBLE) / max_tokens), 6) AS weight
      |  FROM strata CROSS JOIN mx)
      |SELECT d.doc_id, d.lang, d.source, w.weight,
      |       CAST(('0x' || substring(md5(d.doc_id::VARCHAR), 1, 15)) AS BIGINT)
      |         < CAST(FLOOR(w.weight * 1152921504606846976.0) AS BIGINT) AS keep
      |FROM documents d JOIN weights w ON d.lang = w.lang AND d.source = w.source
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q54 — PII redaction over an intake feed. The synthetic corpus
  // carries no PII, so the feed INJECTS deterministic contact strings
  // into a slice of documents (labeled fixture, both engines build the
  // same feed); the operator then counts and redacts emails and
  // 555-prefixed phone extensions. Pure codegen'd narrow map — the shape
  // that sweeps 100 TB at scan speed. Output carries md5(clean text) so
  // the oracle verifies the exact redacted bytes without shipping them.
  /** Shared with the streaming intake flow (Streams.intake), so batch
    * and stream scrub identically. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "555-[0-9]{4}"

  private def q54(s: SparkSession, dir: String): DataFrame = {
    val feed = Tables.documents(s, dir)
      .withColumn("t", concat(
        col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" tel 555-0"), (col("doc_id") % 900 + 100).cast("string")))
          .otherwise(lit(""))))
    feed
      .withColumn("n_emails", size(regexp_extract_all(col("t"), lit(EmailRe), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(col("t"), lit(PhoneRe), lit(0))))
      .withColumn("clean_hash", md5(
        regexp_replace(regexp_replace(col("t"), EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")))
      .select("doc_id", "n_emails", "n_phones", "clean_hash")
      .orderBy("doc_id")
  }

  private val q54Sql =
    s"""WITH feed AS (
      |  SELECT doc_id,
      |         text
      |           || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id::VARCHAR || '@example.com' ELSE '' END
      |           || CASE WHEN doc_id % 11 = 0 THEN ' tel 555-0' || (doc_id % 900 + 100)::VARCHAR ELSE '' END AS t
      |  FROM documents)
      |SELECT doc_id,
      |       len(regexp_extract_all(t, '$EmailRe')) AS n_emails,
      |       len(regexp_extract_all(t, '$PhoneRe')) AS n_phones,
      |       md5(regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g')) AS clean_hash
      |FROM feed ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q60 — SEQUENCE PACKING: the GPT-style pretraining layout — documents
  // concatenate in doc_id order and split at fixed SeqLen-token
  // boundaries; each document reports its sequence id, offset within the
  // sequence, and how many sequences it spans. All pure integer window
  // math over a global prefix sum of token counts.
  //
  // Scale shape: offsets come from IncrementalPack.withStartOff, the
  // one pack-offset function (a PrefixSum over doc_id-range buckets),
  // never a one-partition cumsum; the oracle computes the plain global
  // cumsum and the results agree exactly because the arithmetic is
  // identical.
  private val SeqLen = IncrementalPack.SeqLen

  private def q60(s: SparkSession, dir: String): DataFrame =
    IncrementalPack.withStartOff(Tables.documents(s, dir)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"),
          lit(0L).as("base_off")))
      .withColumn("cum", col("start_off") + col("n_tokens"))
      .withColumn("seq_id", expr(s"start_off div $SeqLen"))
      .withColumn("offset", expr(s"start_off % $SeqLen"))
      .withColumn("n_seqs", expr(s"(cum - 1) div $SeqLen") - col("seq_id") + 1)
      .select("doc_id", "n_tokens", "seq_id", "offset", "n_seqs")
      .orderBy("doc_id")

  // ---------------------------------------------------------------------
  // q127 — PACKED-SEQUENCE MATERIALIZATION: q60 plans the layout; this
  // EXECUTES it (the round's plan→execute discipline, q125/q126's, on
  // the text side) — the per-sequence artifact a trainer actually
  // reads: for every SeqLen-token training sequence, its token count
  // (the last sequence may be partial), how many documents it spans,
  // the first/last contributing doc, its fill ratio, and the md5 of its
  // EXACT token content in order — the checkable bytes of the packed
  // shard without dumping the corpus.
  //
  // Scale shape: the pack is IncrementalPack's offline pack (q60's
  // offsets via IncrementalPack.withStartOff, then a narrow token
  // explode); the ONLY corpus-sized shuffle keys on
  // seq_id, whose groups are FIXED at SeqLen tokens BY CONSTRUCTION — a
  // perfectly uniform exchange at any corpus size, and the ordered
  // collect per group is bounded at SeqLen elements (the q36
  // bounded-group discipline). The oracle replays the plain global
  // cumsum + string_agg; identical integers, independent plan.
  private def q127(s: SparkSession, dir: String): DataFrame =
    IncrementalPack.packedWithContent(Tables.documentsWide(s, dir)
        .select(col("doc_id"), col("text"), lit(0L).as("base_off")))
      .withColumn("content_hash", md5(col("content")))
      .withColumn("fill_ppm", expr(s"(1000000 * CAST(n_tokens AS BIGINT)) div $SeqLen"))
      .select("seq_id", "n_tokens", "n_docs", "first_doc", "last_doc",
        "fill_ppm", "content_hash")
      .orderBy("seq_id")

  private val q127Sql =
    s"""WITH n AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
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

  private val q60Sql =
    s"""WITH n AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM n)
      |SELECT doc_id, n_tokens,
      |       (cum - n_tokens) // $SeqLen AS seq_id,
      |       (cum - n_tokens) % $SeqLen AS "offset",
      |       (cum - 1) // $SeqLen - (cum - n_tokens) // $SeqLen + 1 AS n_seqs
      |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q61 — DOCUMENT CHUNKING: split each document into fixed-width token
  // windows with overlap (the HF-tokenizer `return_overflowing_tokens`
  // shape): window = 48 tokens, stride = 32, so consecutive chunks share
  // 16 tokens of context. Chunk count is 1 + ⌈max(0, n−W)/S⌉ — the last
  // chunk clamps to the document end. Pure narrow explode (no shuffle);
  // chunk content is reported as md5 so the verified artifact is the
  // exact chunk bytes without dumping the corpus.
  private val ChunkW = 48
  private val ChunkS = 32

  private def q61(s: SparkSession, dir: String): DataFrame = {
    Tables.documentsWide(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .withColumn("n", size(col("ts")))
      .select(col("doc_id"), col("ts"), col("n"),
        explode(expr(s"sequence(0, greatest(0, (n - $ChunkW + $ChunkS - 1)) div $ChunkS)"))
          .as("chunk_id0"))
      .withColumn("chunk_id", col("chunk_id0").cast("int"))
      .withColumn("start", (col("chunk_id") * ChunkS + 1).cast("int"))
      .withColumn("chunk_len", least(lit(ChunkW), col("n") - col("start") + 1).cast("int"))
      .filter(col("chunk_len") > 0) // a stride landing past the end emits nothing
      .withColumn("chunk_hash", md5(concat_ws(" ", slice(col("ts"), col("start"), lit(ChunkW)))))
      .select("doc_id", "chunk_id", "start", "chunk_len", "chunk_hash")
      .orderBy("doc_id", "chunk_id")
  }

  private val q61Sql =
    s"""WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts, len(string_split(text, ' ')) AS n
      |  FROM documents),
      |chunks AS (
      |  SELECT doc_id, ts, n,
      |         unnest(range(0, GREATEST(0, (n - $ChunkW + $ChunkS - 1)) // $ChunkS + 1)) AS chunk_id
      |  FROM t)
      |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
      |       CAST(chunk_id * $ChunkS + 1 AS INT) AS start,
      |       CAST(LEAST($ChunkW, n - (chunk_id * $ChunkS + 1) + 1) AS INT) AS chunk_len,
      |       md5(array_to_string(ts[(chunk_id * $ChunkS + 1):(chunk_id * $ChunkS + $ChunkW)], ' ')) AS chunk_hash
      |FROM chunks
      |WHERE LEAST($ChunkW, n - (chunk_id * $ChunkS + 1) + 1) > 0
      |ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------------------------
  // q72 — the COMPOSED CURATION VERDICT, the end artifact an intake
  // pipeline materializes per document: one keep/drop decision plus the
  // FIRST failing stage as a reason code, in the order a production
  // pipeline applies them (cheapest-first, dedup before model scores):
  //   exact_dup   — not the lowest doc_id of its md5(text) group (q31)
  //   rules       — Gopher rule bitmask ≠ 0 (q65, ONE shared definition:
  //                 TextPipeline.withQualityRules)
  //   repetition  — dup-bigram/top-bigram fractions above the
  //                 MassiveText thresholds (q55's exact expressions;
  //                 documents too short to have bigrams pass)
  //   surprisal   — unigram millibits outside [1000, 9000] (q67's
  //                 integer-log2 model)
  //   kept        — survived everything
  // The reason column is the audit trail: at 100 TB you retire terabytes
  // per stage, and "why did this document disappear" must be answerable
  // without re-running the pipeline. Plan: ONE narrow document pass
  // computes the rule battery, the content hash, AND the repetition
  // verdict (withRepetitionFail's sorted-bigram runs — the standalone
  // q55's (doc, bigram)+(doc) exchanges disappear into the shared scan);
  // the only shuffles left are the md5 canon window and the two the
  // surprisal model genuinely needs (token model build + per-doc sum).
  private def q72(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsWide(s, dir)
    val rules = graft.queries.TextPipeline.withRepetitionFail(
        graft.queries.TextPipeline.withQualityRules(docs))
      .select(col("doc_id"), col("rule_mask"), col("rep_fail"),
        min(col("doc_id")).over(Window.partitionBy(md5(col("text")))).as("canon"))
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val model = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
    val total = model.agg(sum(col("freq")).as("total"))
    val bits = model.crossJoin(broadcast(total))
      .withColumn("bits", (length(bin(expr("total div freq"))) - 1).cast("long"))
      .select("tok", "bits")
    val sur = toks.join(broadcast(bits), "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nt"), sum(col("bits")).as("tb"))
      .withColumn("milli", expr("(tb * 1000) div nt"))
      .withColumn("sur_fail", col("milli") < 1000 || col("milli") > 9000)
      .select("doc_id", "sur_fail")
    rules
      .join(sur, Seq("doc_id"), "left")
      .withColumn("reason",
        when(col("doc_id") =!= col("canon"), "exact_dup")
          .when(col("rule_mask") =!= 0, "rules")
          .when(col("rep_fail"), "repetition")
          .when(coalesce(col("sur_fail"), lit(false)), "surprisal")
          .otherwise("kept"))
      .withColumn("keep", col("reason") === "kept")
      .select("doc_id", "reason", "keep")
      .orderBy("doc_id")
  }

  private val q72Sql =
    s"""WITH ${graft.queries.TextPipeline.rulesSqlCtes},
      |canon AS (
      |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon
      |  FROM documents),
      |btoks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |bi AS (
      |  SELECT doc_id,
      |         unnest([CAST('0x' || substring(md5(ts[i] || ' ' || ts[i + 1]), 1, 15) AS BIGINT)
      |                 for i in range(1, len(ts))]) AS tok
      |  FROM btoks),
      |bcnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM bi GROUP BY doc_id, tok),
      |rep AS (
      |  SELECT doc_id,
      |         (ROUND(CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) > 0.2
      |          OR ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) > 0.1) AS rep_fail
      |  FROM bcnt GROUP BY doc_id),
      |stoks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |smodel AS (SELECT tok, COUNT(*) AS freq FROM stoks GROUP BY tok),
      |sn AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM smodel),
      |sbits AS (
      |  SELECT tok, CAST(length(bin(total // freq)) - 1 AS BIGINT) AS bits
      |  FROM smodel CROSS JOIN sn),
      |sur AS (
      |  SELECT doc_id,
      |         ((CAST(SUM(bits) AS BIGINT) * 1000) // COUNT(*) < 1000
      |          OR (CAST(SUM(bits) AS BIGINT) * 1000) // COUNT(*) > 9000) AS sur_fail
      |  FROM stoks JOIN sbits USING (tok) GROUP BY doc_id),
      |verdict AS (
      |  SELECT m.doc_id,
      |         CASE WHEN c.doc_id != c.canon THEN 'exact_dup'
      |              WHEN m.rule_mask != 0 THEN 'rules'
      |              WHEN COALESCE(r.rep_fail, FALSE) THEN 'repetition'
      |              WHEN COALESCE(s.sur_fail, FALSE) THEN 'surprisal'
      |              ELSE 'kept' END AS reason
      |  FROM rqmask m
      |  JOIN canon c ON m.doc_id = c.doc_id
      |  LEFT JOIN rep r ON m.doc_id = r.doc_id
      |  LEFT JOIN sur s ON m.doc_id = s.doc_id)
      |SELECT doc_id, reason, reason = 'kept' AS keep
      |FROM verdict ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q73 — CORPUS DRIFT MONITOR: token-distribution divergence between
  // two intake snapshots (here the deterministic halves doc_id % 2 —
  // in production, yesterday's crawl vs today's). Each token's share of
  // its snapshot is quantized to integer PARTS PER BILLION before
  // differencing — shares are ≤ 1e9 regardless of corpus size, so the
  // arithmetic never overflows at 100 TB token counts (the naive
  // cross-product |c1·N2 − c2·N1| exceeds int64 once N reaches ~1e12
  // tokens), and the divergence ranking is bit-identical on any engine
  // and partitioning. Output: the top-20 drifting tokens; the same
  // per-token deltas sum to the corpus-level total-variation distance a
  // monitoring dashboard alerts on. Plan: ONE uniform (token)
  // aggregation with both snapshot counts as conditional sums — the
  // corpus shuffles once; the top-20 is orderBy+limit, which compiles
  // to TakeOrderedAndProject (per-partition partial top-K, driver
  // merges 20 rows/partition) — the Heaps-law-unbounded vocabulary is
  // never sorted on one partition. `rank` comes from TopK.ranked's
  // bounded sort_array aggregate over the ≤20 surviving rows (no
  // WindowExec anywhere in the plan).
  private val DriftTopK = 20
  private def q73(s: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.documents(s, dir)
      .select((col("doc_id") % 2).as("snap"), explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(sum(when(col("snap") === 0, 1L).otherwise(0L)).as("c1"),
           sum(when(col("snap") === 1, 1L).otherwise(0L)).as("c2"))
    val totals = cnt.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val shares = cnt.crossJoin(broadcast(totals))
      .withColumn("s1", expr("c1 * 1000000000 div n1"))
      .withColumn("s2", expr("c2 * 1000000000 div n2"))
      .withColumn("delta", abs(col("s1") - col("s2")))
    graft.functions.TopK.ranked(shares, DriftTopK,
      order = Seq(col("delta").desc, col("token")),
      ascKeys = Seq(-col("delta"), col("token")),
      cols = Seq("token", "c1", "c2", "s1", "s2", "delta"))
  }

  private val q73Sql =
    s"""WITH toks AS (
      |  SELECT doc_id % 2 AS snap, unnest(string_split(text, ' ')) AS token FROM documents),
      |cnt AS (
      |  SELECT token,
      |         CAST(SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |         CAST(SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |  FROM toks GROUP BY token),
      |totals AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM cnt),
      |shares AS (
      |  SELECT token, c1, c2,
      |         c1 * 1000000000 // n1 AS s1,
      |         c2 * 1000000000 // n2 AS s2
      |  FROM cnt CROSS JOIN totals),
      |ranked AS (
      |  SELECT token, c1, c2, s1, s2, ABS(s1 - s2) AS delta,
      |         CAST(ROW_NUMBER() OVER (ORDER BY ABS(s1 - s2) DESC, token) AS INT) AS rank
      |  FROM shares)
      |SELECT rank, token, c1, c2, s1, s2, delta
      |FROM ranked WHERE rank <= $DriftTopK ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------
  // q74 — DETERMINISTIC HYPERLOGLOG distinct-count sketch (Flajolet et
  // al. 2007), per language over document contents: the cardinality
  // estimator every 100 TB intake dashboard runs where COUNT(DISTINCT)'s
  // full shuffle is unaffordable. The register math is EXACT integers —
  // bucket = top 4 bits of the 60-bit md5 integer, ρ = 57 − bitlength of
  // the remaining 56 (bin(), the same transcendental-free ⌊log₂⌋ as
  // q67), register = MAX ρ — so the sketch is identical on both engines
  // and any partitioning (MAX is order-insensitive and idempotent: no
  // input dedup needed). The estimate α·m²/Σ2^(−M) is evaluated over an
  // int64 register sum (Σ 2^(57−M), ≤ 2^61 — never a FP accumulation)
  // in ONE fixed IEEE expression, so even the double hashes identically.
  // Exact distinct rides along as the small-scale cross-check; at 100 TB
  // you drop that column and keep the sketch — registers partial-
  // aggregate map-side, the shuffle is m rows per group.
  private val HllM = 16            // registers (b = 4 bits) → σ ≈ 26%
  private val HllRemPow = 72057594037927936L // 2^56: bucket/remainder split
  private def q74(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val r = docs.select(col("lang"),
        conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("hv"))
      .withColumn("bucket", expr(s"hv div ${HllRemPow}L"))
      .withColumn("rem", expr(s"hv % ${HllRemPow}L"))
      .withColumn("mm", when(col("rem") === 0, 57)
        .otherwise(lit(57) - length(bin(col("rem")))).cast("int"))
    val rho = r.groupBy("lang", "bucket").agg(max(col("mm")).as("mm"))
    val spine = docs.select("lang").distinct()
      .select(col("lang"), explode(expr(s"sequence(0, ${HllM - 1})")).as("bucket"))
    val regs = spine.join(rho, Seq("lang", "bucket"), "left").na.fill(0, Seq("mm"))
    val agg = regs.groupBy("lang").agg(
      sum(expr("shiftleft(cast(1 AS bigint), cast(57 - mm AS int))")).as("s"),
      sum(when(col("mm") === 0, 1L).otherwise(0L)).as("v_empty"))
    val ex = docs.groupBy("lang").agg(countDistinct(col("text")).as("n_exact"))
    ex.join(agg, "lang")
      // e-notation literals: Spark parses bare decimal literals as
      // DECIMAL (exact but different rounding); 6.73e-1/1.44e17 are
      // DOUBLE on both engines, so this is one identical IEEE expression
      .withColumn("est", expr("round(6.73e-1 * 256 * 1.44115188075855872e17 / s, 3)"))
      .select("lang", "n_exact", "v_empty", "est")
      .orderBy("lang")
  }

  private val q74Sql =
    s"""WITH h AS (
      |  SELECT lang, CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS hv
      |  FROM documents),
      |r AS (
      |  SELECT lang, hv // $HllRemPow AS bucket, hv % $HllRemPow AS rem FROM h),
      |rho AS (
      |  SELECT lang, bucket,
      |         MAX(CASE WHEN rem = 0 THEN 57 ELSE 57 - length(bin(rem)) END) AS mm
      |  FROM r GROUP BY lang, bucket),
      |spine AS (
      |  SELECT lang, unnest(range(0, $HllM)) AS bucket
      |  FROM (SELECT DISTINCT lang FROM documents)),
      |regs AS (
      |  SELECT sp.lang AS lang, sp.bucket, COALESCE(rho.mm, 0) AS mm
      |  FROM spine sp LEFT JOIN rho ON sp.lang = rho.lang AND sp.bucket = rho.bucket),
      |agg AS (
      |  SELECT lang,
      |         CAST(SUM(1::BIGINT << (57 - mm)) AS BIGINT) AS s,
      |         CAST(SUM(CASE WHEN mm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_empty
      |  FROM regs GROUP BY lang),
      |ex AS (SELECT lang, COUNT(DISTINCT text) AS n_exact FROM documents GROUP BY lang)
      |SELECT e.lang AS lang, e.n_exact, a.v_empty,
      |       ROUND(6.73e-1 * 256 * 1.44115188075855872e17 / a.s, 3) AS est
      |FROM ex e JOIN agg a ON e.lang = a.lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // q88 — trained quality classifier (the GPT-3 curated-similarity
  // filter, Brown et al. 2005.14165 appendix A: score every raw
  // document with a classifier trained to separate a trusted curated
  // corpus from the raw crawl, keep the curated-like). Training is
  // closed-form Bayesian token posteriors (the Graham spam-filter
  // lineage): per token, P(curated | tok) with add-one smoothing,
  // INTEGER-QUANTIZED to ppm — w = (10⁶·(c_cur+1)) div (c_all+2) — so
  // train and serve are pure int64 arithmetic, bit-identical across
  // engines and partitionings (the q56/q67 discipline: no
  // transcendental FP in a hash-compared column). The MODEL is bounded
  // by construction: tokens need corpus count ≥ MinDf to be eligible
  // (kills the Heaps-law singleton tail, which is unbounded at 100 TB)
  // and only the ClsVocab most class-divergent survive — ranked by
  // |w − prior| through orderBy+limit, i.e. a DISTRIBUTED partial
  // top-K (TakeOrderedAndProject), never a one-partition sort; ties
  // break on the md5-int64 of the token (numeric, collation-free).
  // A document scores the MEAN posterior over its modeled token
  // occurrences (the prior if none are modeled), keep = score ≥ prior:
  // "at least as curated-like as the base rate". Plan: one vocab-keyed
  // shuffle with map-side combine builds the counts, the ≤ClsVocab-row
  // model broadcasts, and scoring re-reads the cached projection once,
  // shuffling ≤1 row per (doc, partition) after partial aggregation.
  // On a vocabulary-uniform corpus (this fixture) the classifier
  // correctly finds only sampling noise, so scores cluster at the
  // prior and nothing is dropped; CurationSpec plants a
  // source-correlated corpus to assert the discrimination path.
  private val CuratedSrcs = Seq("src0", "src1", "src2", "src3")
  private val ClsMinDf = 5
  private val ClsVocab = 256

  private def q88(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Caches.track(Tables.documentsWide(s, dir)
      .select(col("doc_id"),
        col("source").isin(CuratedSrcs: _*).as("is_cur"), col("text")))
    val toks = docs.select(col("doc_id"), col("is_cur"),
      explode(split(col("text"), " ")).as("tok"))
    val counts = toks.groupBy("tok").agg(
      sum(when(col("is_cur"), 1L).otherwise(0L)).as("c_cur"),
      count(lit(1)).as("c_all"))
    val prior = docs.agg(expr(
      "(1000000 * sum(case when is_cur then 1 else 0 end)) div count(1)")
      .as("prior_ppm"))
    val model = counts.filter(col("c_all") >= ClsMinDf)
      .crossJoin(broadcast(prior))
      .withColumn("w_ppm", expr("(1000000 * (c_cur + 1)) div (c_all + 2)"))
      .orderBy(abs(col("w_ppm") - col("prior_ppm")).desc,
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
      .limit(ClsVocab)
      .select("tok", "w_ppm")
    val scored = toks.join(broadcast(model), "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_modeled"), sum(col("w_ppm")).as("w_sum"))
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
      .crossJoin(broadcast(prior))
      .withColumn("n_modeled", coalesce(col("n_modeled"), lit(0L)))
      .withColumn("score_ppm", when(col("n_modeled") > 0,
        expr("w_sum div n_modeled")).otherwise(col("prior_ppm")))
      .withColumn("keep", col("score_ppm") >= col("prior_ppm"))
      .select("doc_id", "n_modeled", "score_ppm", "keep")
      .orderBy("doc_id")
  }

  private val q88Sql = {
    val srcs = CuratedSrcs.map(x => s"'$x'").mkString(", ")
    s"""WITH docs AS (
      |  SELECT doc_id, source IN ($srcs) AS is_cur, text FROM documents),
      |toks AS (
      |  SELECT doc_id, is_cur, unnest(string_split(text, ' ')) AS tok FROM docs),
      |counts AS (
      |  SELECT tok, CAST(sum(CASE WHEN is_cur THEN 1 ELSE 0 END) AS BIGINT) AS c_cur,
      |         count(*) AS c_all
      |  FROM toks GROUP BY tok),
      |prior AS (
      |  SELECT (1000000 * CAST(sum(CASE WHEN is_cur THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS prior_ppm
      |  FROM docs),
      |model AS (
      |  SELECT tok, (1000000 * (c_cur + 1)) // (c_all + 2) AS w_ppm
      |  FROM counts CROSS JOIN prior
      |  WHERE c_all >= $ClsMinDf
      |  ORDER BY abs((1000000 * (c_cur + 1)) // (c_all + 2) - prior_ppm) DESC,
      |           CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT)
      |  LIMIT $ClsVocab),
      |scored AS (
      |  SELECT doc_id, count(*) AS n_modeled, CAST(sum(w_ppm) AS BIGINT) AS w_sum
      |  FROM toks JOIN model USING (tok) GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(s.n_modeled, 0) AS n_modeled,
      |       CASE WHEN COALESCE(s.n_modeled, 0) > 0 THEN s.w_sum // s.n_modeled
      |            ELSE p.prior_ppm END AS score_ppm,
      |       (CASE WHEN COALESCE(s.n_modeled, 0) > 0 THEN s.w_sum // s.n_modeled
      |             ELSE p.prior_ppm END) >= p.prior_ppm AS keep
      |FROM docs d LEFT JOIN scored s USING (doc_id) CROSS JOIN prior p
      |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q170 — DSIR IMPORTANCE-WEIGHTED DATA SELECTION (Xie et al. 2023,
  // "Data Selection for Language Models via Importance Resampling",
  // arXiv:2302.03169): the hashed-n-gram GENERATIVE twin of q88's
  // discriminative classifier, and the selector the paper shows scales
  // to web-corpus size. Two bag-of-features models are estimated — the
  // curated TARGET slice (q88's CuratedSrcs) and the uncurated RAW
  // pool — over unigram + adjacent-bigram features hashed into a FIXED
  // bucket space (the paper's 10k-bucket hashing, sized to the fixture
  // vocabulary); each raw document's importance weight is its
  // log-likelihood ratio log p_target(doc) − log p_raw(doc) under
  // add-one smoothing, and selection keeps the docs the target model
  // explains better THAN THE RAW-POOL AVERAGE. Two normalizations make
  // that decision honest: per-feature millibits (long docs accumulate
  // proportionally more smoothing-biased mass, so the raw sum measures
  // length, not target-likeness), and the above-average cut (add-one
  // smoothing over a small target slice deflates every p_target
  // uniformly, so the absolute sign of the LLR is all bias — the
  // RELATIVE ordering is the signal, which is also why the paper
  // resamples by rank, not by sign). The cut is one scalar aggregate
  // broadcast back — the deterministic analog of the paper's
  // Gumbel-top-k, with no corpus-wide sort anywhere.
  //
  // Exactness: per-bucket surprisal uses the q67 integer-log2
  // convention — floor(log2((T+B) div (c+1))) via length(bin(..))−1 —
  // so every weight is an exact int64 sum (order-insensitive,
  // bit-identical in DuckDB); no cross-engine libm log appears.
  //
  // Scale shape: THE reason DSIR is the 100 TB selector — the model is
  // a fixed B-row relation regardless of corpus size, so estimation
  // partial-aggregates the corpus sweep into ≤B rows per task before a
  // B-key exchange (never a Heaps-law vocab shuffle), and scoring is a
  // broadcast join + per-doc aggregation: one corpus scan per phase,
  // bounded state everywhere.
  private[graft] val DsirBuckets = 1024L

  /** (doc_id, is_cur, b): unigram + adjacent-bigram features of the
    * tokenized docs relation, hashed to [0, DsirBuckets). */
  private def dsirFeats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("is_cur"),
        explode(concat(col("ts"), expr(
          "transform(slice(ts, 1, size(ts) - 1), (t, i) -> concat(t, ' ', element_at(ts, i + 2)))"))).as("f"))
      .withColumn("b",
        conv(substring(md5(col("f")), 1, 15), 16, 10).cast("long") % DsirBuckets)
      .select("doc_id", "is_cur", "b")

  /** (weights, totals, scored): the ≤B-row per-bucket weight relation,
    * the 1-row smoothed totals, and the per-raw-doc scored relation
    * (doc_id, n_feats, weight_bits, w_mb). Shared by q170 and the
    * frozen serving model so batch and stream cannot drift. */
  private def dsirScored(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val docs = graft.Caches.track(Tables.documentsWide(s, dir)
      .select(col("doc_id"),
        col("source").isin(CuratedSrcs: _*).as("is_cur"),
        split(col("text"), " ").as("ts")))
    val feats = dsirFeats(docs)
    val model = feats.groupBy("b").agg(
      sum(when(col("is_cur"), 1L).otherwise(0L)).as("c_t"),
      sum(when(!col("is_cur"), 1L).otherwise(0L)).as("c_r"))
    val tot = feats.agg(
      (sum(when(col("is_cur"), 1L).otherwise(0L)) + DsirBuckets).as("t_t"),
      (sum(when(!col("is_cur"), 1L).otherwise(0L)) + DsirBuckets).as("t_r"))
    val weights = model.crossJoin(broadcast(tot))
      .withColumn("bits_t", (length(bin(expr("t_t div (c_t + 1)"))) - 1).cast("long"))
      .withColumn("bits_r", (length(bin(expr("t_r div (c_r + 1)"))) - 1).cast("long"))
      .select(col("b"), (col("bits_r") - col("bits_t")).as("w_bits"))
    val scored = feats.filter(!col("is_cur"))
      .join(broadcast(weights), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum(col("w_bits")).as("weight_bits"))
      .withColumn("w_mb", expr("(1000 * weight_bits) div n_feats"))
    (weights, tot, scored)
  }

  private def q170(s: SparkSession, dir: String): DataFrame = {
    val (_, _, scored) = dsirScored(s, dir)
    val cut = scored.agg(
      count(lit(1)).as("n_raw"), sum(col("w_mb")).as("sum_mb"))
    scored.crossJoin(broadcast(cut))
      .withColumn("selected", col("w_mb") * col("n_raw") > col("sum_mb"))
      .select("doc_id", "n_feats", "weight_bits", "w_mb", "selected")
      .orderBy("doc_id")
  }

  /** Frozen DSIR serving model for the streaming twin: per-bucket
    * weights (≤DsirBuckets rows by construction — bounded driver
    * state), the unseen-bucket default weight (c_t = c_r = 0 under the
    * same add-one integer-log2 arithmetic), and the frozen
    * above-average cut (n_raw, sum_mb) of the training-time raw pool.
    */
  private[graft] def dsirFrozenModel(s: SparkSession, dir: String)
      : (Map[Long, Long], Long, Long, Long) = {
    val (weights, tot, scored) = dsirScored(s, dir)
    val w = weights.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val t = tot.collect().head
    def bits(total: Long): Long = java.lang.Long.toBinaryString(total).length - 1L
    val wDefault = bits(t.getLong(1)) - bits(t.getLong(0))
    val cut = scored.agg(count(lit(1)), sum(col("w_mb"))).collect().head
    (w, wDefault, cut.getLong(0), cut.getLong(1))
  }

  private val q170Sql = {
    val srcs = CuratedSrcs.map(x => s"'$x'").mkString(", ")
    val B = DsirBuckets
    s"""WITH docs AS (
      |  SELECT doc_id, source IN ($srcs) AS is_cur, string_split(text, ' ') AS ts
      |  FROM documents),
      |feats AS (
      |  SELECT doc_id, is_cur,
      |         CAST(('0x' || substring(md5(f), 1, 15)) AS BIGINT) % $B AS b
      |  FROM (SELECT doc_id, is_cur,
      |               unnest(list_concat(ts,
      |                 list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1]))) AS f
      |        FROM docs)),
      |model AS (
      |  SELECT b,
      |         CAST(SUM(CASE WHEN is_cur THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
      |         CAST(SUM(CASE WHEN is_cur THEN 0 ELSE 1 END) AS BIGINT) AS c_r
      |  FROM feats GROUP BY b),
      |tot AS (
      |  SELECT CAST(SUM(CASE WHEN is_cur THEN 1 ELSE 0 END) + $B AS BIGINT) AS t_t,
      |         CAST(SUM(CASE WHEN is_cur THEN 0 ELSE 1 END) + $B AS BIGINT) AS t_r
      |  FROM feats),
      |weights AS (
      |  SELECT b, CAST(length(bin(t_r // (c_r + 1))) - 1 AS BIGINT)
      |           - CAST(length(bin(t_t // (c_t + 1))) - 1 AS BIGINT) AS w_bits
      |  FROM model CROSS JOIN tot),
      |scored AS (
      |  SELECT doc_id, COUNT(*) AS n_feats,
      |         CAST(SUM(w_bits) AS BIGINT) AS weight_bits,
      |         (1000 * CAST(SUM(w_bits) AS BIGINT)) // COUNT(*) AS w_mb
      |  FROM feats JOIN weights USING (b)
      |  WHERE NOT is_cur
      |  GROUP BY doc_id),
      |cut AS (SELECT COUNT(*) AS n_raw, CAST(SUM(w_mb) AS BIGINT) AS sum_mb FROM scored)
      |SELECT doc_id, n_feats, weight_bits, w_mb, w_mb * n_raw > sum_mb AS selected
      |FROM scored CROSS JOIN cut
      |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q173 — QUALITY-BUDGETED STRATIFIED SELECTION: the quality-aware
  // counterpart of q52's hash-random stratified sampling — given
  // per-stratum TOKEN budgets (the q104 τ=1/2 floor-sqrt weights over a
  // 40%-of-corpus total, capped at each stratum's own mass), fill every
  // (lang, source) stratum BEST-QUALITY-FIRST: a document is selected
  // iff its token prefix-sum STARTS inside the stratum's budget in
  // (quality DESC, doc_id) order (q156's phase-assignment convention).
  // This is the "keep the best N tokens per domain" selection step the
  // FineWeb-class pipelines run between scoring and mixing; q52 answers
  // the same budget with a blind hash draw, this answers it with the
  // quality ordering — the two relations differ exactly where quality
  // beats chance.
  //
  // Scale shape: the within-stratum prefix sum is a PrefixSum on the
  // per-mille quality bucket (quality is rounded to 6 places, so bucket
  // order refines the selection order); bucket bound: ≤ 1001 quality
  // buckets per stratum. Budgets are exact int64 arithmetic (q104's
  // conventions).
  private val SelBudgetPct = 40L
  private def q173(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Caches.track(Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        split(col("text"), " ").as("ts"))
      .withColumn("n_tokens", size(col("ts")).cast("long"))
      .withColumn("quality", TextPipeline.qualityCol(col("ts")))
      .drop("ts"))
    val strata = docs.groupBy("lang", "source")
      .agg(sum(col("n_tokens")).as("s_tokens"))
      .withColumn("wi", floor(sqrt(col("s_tokens").cast("double"))).cast("long"))
    val tot = strata.agg(sum(col("wi")).as("sum_wi"),
      (sum(col("s_tokens")) * SelBudgetPct).as("budget100"))
    val targets = strata.crossJoin(broadcast(tot))
      .withColumn("target_tokens",
        least(expr("wi * ((budget100 div 100) div sum_wi)"), col("s_tokens")))
      .select("lang", "source", "target_tokens")
    // quality DESC: buckets ascend in −qmille
    val qm = docs.withColumn("neg_qmille", -floor(col("quality") * 1000).cast("long"))
    PrefixSum.running(qm, Seq("lang", "source"), Seq("neg_qmille"),
        Seq(col("quality").desc, col("doc_id")), col("n_tokens") -> "cum_before")
      .join(broadcast(targets), Seq("lang", "source"))
      .withColumn("selected", col("cum_before") < col("target_tokens"))
      .select("doc_id", "lang", "source", "n_tokens", "quality",
        "cum_before", "target_tokens", "selected")
      .orderBy("doc_id")
  }

  private val q173Sql = {
    val qualityExpr =
      """ROUND((1.0 - CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a', 'is'))) AS DOUBLE)
        |              / len(string_split(text, ' ')))
        |      * LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0), 6)""".stripMargin
    s"""WITH docs AS (
      |  SELECT doc_id, lang, source,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |         $qualityExpr AS quality
      |  FROM documents),
      |strata AS (SELECT lang, source, CAST(SUM(n_tokens) AS BIGINT) AS s_tokens
      |           FROM docs GROUP BY lang, source),
      |w AS (SELECT *, CAST(FLOOR(SQRT(CAST(s_tokens AS DOUBLE))) AS BIGINT) AS wi FROM strata),
      |tot AS (SELECT CAST(SUM(wi) AS BIGINT) AS sum_wi,
      |               CAST(SUM(s_tokens) AS BIGINT) * $SelBudgetPct AS budget100 FROM w),
      |targets AS (
      |  SELECT lang, source, LEAST(wi * ((budget100 // 100) // sum_wi), s_tokens) AS target_tokens
      |  FROM w CROSS JOIN tot),
      |qm AS (SELECT *, CAST(FLOOR(quality * 1000) AS BIGINT) AS qmille FROM docs),
      |ib AS (
      |  SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY lang, source, qmille
      |             ORDER BY quality DESC, doc_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_in
      |  FROM qm),
      |off AS (
      |  SELECT lang, source, qmille,
      |         COALESCE(SUM(btoks) OVER (PARTITION BY lang, source ORDER BY qmille DESC
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS boff
      |  FROM (SELECT lang, source, qmille, CAST(SUM(n_tokens) AS BIGINT) AS btoks
      |        FROM qm GROUP BY 1, 2, 3))
      |SELECT i.doc_id, i.lang, i.source, i.n_tokens, i.quality,
      |       CAST(o.boff + i.cum_in AS BIGINT) AS cum_before, t.target_tokens,
      |       o.boff + i.cum_in < t.target_tokens AS selected
      |FROM ib i JOIN off o ON i.lang = o.lang AND i.source = o.source AND i.qmille = o.qmille
      |JOIN targets t ON i.lang = t.lang AND i.source = t.source
      |ORDER BY i.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q178 — SELECTOR AGREEMENT MATRIX: the q119 detector-agreement
  // discipline applied to the QUALITY selectors. A pipeline runs
  // several independent keep/drop signals — unigram surprisal (q67),
  // bigram-LM fluency (q93), the trained classifier (q88), DSIR
  // target-likeness (q170) — and the operational questions are "which
  // selectors are redundant?" (agreement ≈ 1 → drop the expensive one)
  // and "what does each uniquely catch?" (unique drops ≈ 0 → it never
  // fires alone). One row per unordered selector pair with the
  // keep/keep, drop/drop, disagree counts and agreement in ppm;
  // diagonal rows carry the selector's own drop mass plus its UNIQUE
  // drops (docs every other selector keeps). Verdicts come from the
  // FACTORED per-doc relations of the four parent queries (the q168
  // shared-core rule), and a selector that does not cover a doc
  // (single-token docs for the bigram LM, curated docs for DSIR)
  // ABSTAINS — abstention is keep, a selector vetoes only where it
  // actually scored.
  //
  // Scale shape: strictly the union of the parents' audited shapes
  // (each verdict relation is one of their per-doc outputs) + three
  // doc_id-keyed left joins into a cached 4-bit-wide relation; the
  // matrix explode emits a CONSTANT 10 structs per doc and aggregates
  // onto 10 keys; unique-drop sums are four passes over the cached
  // narrow relation.
  private val SelNames = Seq("bigram_lm", "classifier", "dsir", "quality", "surprisal")
  private[graft] def classifierVerdicts(s: SparkSession, dir: String): DataFrame =
    q88(s, dir).select("doc_id", "keep")
  private def dsirVerdicts(s: SparkSession, dir: String): DataFrame =
    q170(s, dir).select(col("doc_id"), col("selected").as("keep"))
  private def qualityVerdicts(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      (TextPipeline.qualityCol(split(col("text"), " ")) >= Dedup.QualityFloor).as("keep"))

  /** Persisted per-doc selector verdicts — the q78 train-once/serve-many
    * split applied to the selector family. q178 composes FOUR parent
    * detector stacks (q93/q88/q170/q67); their (doc_id, keep) verdict
    * relations are corpus-keyed artifacts a production pipeline
    * materializes once per corpus snapshot, not once per consumer. The
    * first consumer builds + publishes (fingerprinted, marker-last —
    * the q78 contract via Artifacts.publish); every later
    * consumer serves from the 2-column parquet, so the composition's
    * plan carries four scans instead of four detector stacks. No oracle
    * change: artifact rows ARE the deterministic parent relations, and
    * q178's oracle keeps composing the parents' CTE stacks from raw
    * tables — the hash gate proves artifact serving ≡ recomputation. */
  private def verdictArtifact(s: SparkSession, dir: String, name: String)
                             (build: => DataFrame): DataFrame = {
    val fp = Intake.dataFingerprint(s, dir)
    val path = Artifacts.publish(s, s"${Artifacts.root}/verdict-$name-$fp") { tmp =>
      build.write.mode("overwrite").parquet(s"$tmp/keep")
    }
    s.read.parquet(s"$path/keep")
  }

  private def q178(s: SparkSession, dir: String): DataFrame = {
    val verdicts = Seq(
      "bigram_lm" -> verdictArtifact(s, dir, "bigram")(Corpus.bigramVerdicts(s, dir)),
      "classifier" -> verdictArtifact(s, dir, "classifier")(classifierVerdicts(s, dir)),
      "dsir" -> verdictArtifact(s, dir, "dsir")(dsirVerdicts(s, dir)),
      // quality is a stateless narrow map over the documents scan the
      // base relation reads anyway — persisting it would trade one
      // codegen'd expression for an extra artifact read
      "quality" -> qualityVerdicts(s, dir),
      "surprisal" -> verdictArtifact(s, dir, "surprisal")(TextPipeline.surprisalVerdicts(s, dir)))
    val base = Tables.documents(s, dir).select("doc_id")
    val wide = graft.Caches.track(verdicts.foldLeft(base) { case (acc, (n, v)) =>
      acc.join(v.withColumnRenamed("keep", n), Seq("doc_id"), "left")
        .withColumn(n, coalesce(col(n), lit(true)))
    })
    val pairs = for { (a, i) <- SelNames.zipWithIndex; b <- SelNames.drop(i) } yield (a, b)
    val pairCols = pairs.map { case (a, b) =>
      struct(lit(a).as("sel_a"), lit(b).as("sel_b"), col(a).as("ka"), col(b).as("kb")) }
    val matrix = wide.select(explode(array(pairCols: _*)).as("p")).select("p.*")
      .groupBy("sel_a", "sel_b")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ka") && col("kb"), 1L).otherwise(0L)).as("n_both_keep"),
        sum(when(!col("ka") && !col("kb"), 1L).otherwise(0L)).as("n_both_drop"),
        sum(when(col("ka") =!= col("kb"), 1L).otherwise(0L)).as("n_disagree"))
    val unique = SelNames.map { n =>
      val others = SelNames.filterNot(_ == n).map(col(_))
      wide.agg(sum(when(!col(n) && others.reduce(_ && _), 1L).otherwise(0L))
        .as("n_unique_drops"))
        .select(lit(n).as("u_sel"), col("n_unique_drops"))
    }.reduce(_ union _)
    matrix.join(unique,
        col("sel_a") === col("u_sel") && col("sel_a") === col("sel_b"), "left")
      .withColumn("n_unique_drops", coalesce(col("n_unique_drops"), lit(0L)))
      .withColumn("agree_ppm", expr("(n_both_keep + n_both_drop) * 1000000 div n_docs"))
      .select("sel_a", "sel_b", "n_docs", "n_both_keep", "n_both_drop",
        "n_disagree", "agree_ppm", "n_unique_drops")
      .orderBy("sel_a", "sel_b")
  }

  private val q178Sql = {
    val srcs = CuratedSrcs.map(x => s"'$x'").mkString(", ")
    val B = DsirBuckets
    val names = SelNames
    val pairSelects = (for {
      (a, i) <- names.zipWithIndex; b <- names.drop(i)
    } yield s"SELECT '$a' AS sel_a, '$b' AS sel_b, $a AS ka, $b AS kb FROM wide")
      .mkString("\n      |  UNION ALL ")
    val uniqueSelects = names.map { n =>
      val others = names.filterNot(_ == n).mkString(" AND ")
      s"SELECT '$n' AS u_sel, CAST(SUM(CASE WHEN NOT $n AND $others THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_drops FROM wide"
    }.mkString("\n      |  UNION ALL ")
    s"""WITH s_toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |s_model AS (SELECT tok, COUNT(*) AS freq FROM s_toks GROUP BY tok),
      |s_n AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM s_model),
      |s_bits AS (
      |  SELECT tok, CAST(length(bin(total // freq)) - 1 AS BIGINT) AS bits
      |  FROM s_model CROSS JOIN s_n),
      |s_keep AS (
      |  SELECT doc_id,
      |         (CAST(SUM(bits) AS BIGINT) * 1000) // COUNT(*)
      |           BETWEEN ${TextPipeline.SurpLo} AND ${TextPipeline.SurpHi} AS keep
      |  FROM s_toks JOIN s_bits USING (tok) GROUP BY doc_id),
      |b_big AS (
      |  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |       LATERAL (SELECT unnest(range(1, len(ts))) AS i)
      |  WHERE len(ts) >= 2),
      |b_m2 AS (
      |  SELECT w1, w2, COUNT(*) AS c2 FROM b_big
      |  WHERE doc_id % ${Corpus.LmTrainMod} = 0 GROUP BY w1, w2),
      |b_m1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM b_m2 GROUP BY w1),
      |b_model AS (
      |  SELECT b_m2.w1, b_m2.w2, CAST(length(bin(c1 // c2)) - 1 AS BIGINT) AS bits
      |  FROM b_m2 JOIN b_m1 USING (w1)),
      |b_keep AS (
      |  SELECT b.doc_id,
      |         (CAST(SUM(COALESCE(m.bits, ${Corpus.LmOovBits})) AS BIGINT) * 1000) // COUNT(*)
      |           BETWEEN ${Corpus.LmLo} AND ${Corpus.LmHi} AS keep
      |  FROM b_big b LEFT JOIN b_model m ON b.w1 = m.w1 AND b.w2 = m.w2
      |  GROUP BY b.doc_id),
      |c_docs AS (
      |  SELECT doc_id, source IN ($srcs) AS is_cur, text FROM documents),
      |c_toks AS (
      |  SELECT doc_id, is_cur, unnest(string_split(text, ' ')) AS tok FROM c_docs),
      |c_counts AS (
      |  SELECT tok, CAST(sum(CASE WHEN is_cur THEN 1 ELSE 0 END) AS BIGINT) AS c_cur,
      |         count(*) AS c_all
      |  FROM c_toks GROUP BY tok),
      |c_prior AS (
      |  SELECT (1000000 * CAST(sum(CASE WHEN is_cur THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS prior_ppm
      |  FROM c_docs),
      |c_model AS (
      |  SELECT tok, (1000000 * (c_cur + 1)) // (c_all + 2) AS w_ppm
      |  FROM c_counts CROSS JOIN c_prior
      |  WHERE c_all >= $ClsMinDf
      |  ORDER BY abs((1000000 * (c_cur + 1)) // (c_all + 2) - prior_ppm) DESC,
      |           CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT)
      |  LIMIT $ClsVocab),
      |c_scored AS (
      |  SELECT doc_id, count(*) AS n_modeled, CAST(sum(w_ppm) AS BIGINT) AS w_sum
      |  FROM c_toks JOIN c_model USING (tok) GROUP BY doc_id),
      |c_keep AS (
      |  SELECT d.doc_id,
      |         (CASE WHEN COALESCE(s.n_modeled, 0) > 0 THEN s.w_sum // s.n_modeled
      |               ELSE p.prior_ppm END) >= p.prior_ppm AS keep
      |  FROM c_docs d LEFT JOIN c_scored s USING (doc_id) CROSS JOIN c_prior p),
      |d_docs AS (
      |  SELECT doc_id, source IN ($srcs) AS is_cur, string_split(text, ' ') AS ts
      |  FROM documents),
      |d_feats AS (
      |  SELECT doc_id, is_cur,
      |         CAST(('0x' || substring(md5(f), 1, 15)) AS BIGINT) % $B AS b
      |  FROM (SELECT doc_id, is_cur,
      |               unnest(list_concat(ts,
      |                 list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1]))) AS f
      |        FROM d_docs)),
      |d_model AS (
      |  SELECT b,
      |         CAST(SUM(CASE WHEN is_cur THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
      |         CAST(SUM(CASE WHEN is_cur THEN 0 ELSE 1 END) AS BIGINT) AS c_r
      |  FROM d_feats GROUP BY b),
      |d_tot AS (
      |  SELECT CAST(SUM(CASE WHEN is_cur THEN 1 ELSE 0 END) + $B AS BIGINT) AS t_t,
      |         CAST(SUM(CASE WHEN is_cur THEN 0 ELSE 1 END) + $B AS BIGINT) AS t_r
      |  FROM d_feats),
      |d_weights AS (
      |  SELECT b, CAST(length(bin(t_r // (c_r + 1))) - 1 AS BIGINT)
      |           - CAST(length(bin(t_t // (c_t + 1))) - 1 AS BIGINT) AS w_bits
      |  FROM d_model CROSS JOIN d_tot),
      |d_scored AS (
      |  SELECT doc_id, (1000 * CAST(SUM(w_bits) AS BIGINT)) // COUNT(*) AS w_mb
      |  FROM d_feats JOIN d_weights USING (b)
      |  WHERE NOT is_cur
      |  GROUP BY doc_id),
      |d_cut AS (SELECT COUNT(*) AS n_raw, CAST(SUM(w_mb) AS BIGINT) AS sum_mb FROM d_scored),
      |d_keep AS (
      |  SELECT doc_id, w_mb * n_raw > sum_mb AS keep
      |  FROM d_scored CROSS JOIN d_cut),
      |q_keep AS (
      |  SELECT doc_id,
      |         ROUND((1.0 - CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a', 'is'))) AS DOUBLE)
      |                       / len(string_split(text, ' ')))
      |               * LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0), 6)
      |           >= ${Dedup.QualityFloor} AS keep
      |  FROM documents),
      |wide AS (
      |  SELECT d.doc_id,
      |         COALESCE(b.keep, TRUE) AS bigram_lm,
      |         COALESCE(c.keep, TRUE) AS classifier,
      |         COALESCE(ds.keep, TRUE) AS dsir,
      |         COALESCE(qf.keep, TRUE) AS quality,
      |         COALESCE(su.keep, TRUE) AS surprisal
      |  FROM (SELECT doc_id FROM documents) d
      |  LEFT JOIN b_keep b USING (doc_id)
      |  LEFT JOIN c_keep c USING (doc_id)
      |  LEFT JOIN d_keep ds USING (doc_id)
      |  LEFT JOIN q_keep qf USING (doc_id)
      |  LEFT JOIN s_keep su USING (doc_id)),
      |p AS (
      |  $pairSelects),
      |matrix AS (
      |  SELECT sel_a, sel_b, COUNT(*) AS n_docs,
      |         CAST(SUM(CASE WHEN ka AND kb THEN 1 ELSE 0 END) AS BIGINT) AS n_both_keep,
      |         CAST(SUM(CASE WHEN NOT ka AND NOT kb THEN 1 ELSE 0 END) AS BIGINT) AS n_both_drop,
      |         CAST(SUM(CASE WHEN ka <> kb THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree
      |  FROM p GROUP BY 1, 2),
      |uniq AS (
      |  $uniqueSelects)
      |SELECT m.sel_a, m.sel_b, m.n_docs, m.n_both_keep, m.n_both_drop, m.n_disagree,
      |       (m.n_both_keep + m.n_both_drop) * 1000000 // m.n_docs AS agree_ppm,
      |       CASE WHEN m.sel_a = m.sel_b THEN COALESCE(u.n_unique_drops, 0) ELSE 0 END AS n_unique_drops
      |FROM matrix m LEFT JOIN uniq u ON m.sel_a = u.u_sel AND m.sel_a = m.sel_b
      |ORDER BY m.sel_a, m.sel_b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q156 — TOKEN-BUDGET CURRICULUM SCHEDULE (L118): the allocation step
  // between scoring and packing. Curriculum training (Bengio et al.
  // 2009; applied to LM data ordering in e.g. DoReMi-style pipelines)
  // consumes data easy→hard: the most model-predictable documents feed
  // the warm-up phase, the long tail lands late. Given per-doc
  // difficulty (the corpus-self-trained unigram millibits — q67's
  // exact integer scoring, LOW = predictable = easy) and a phase plan
  // stated in TOKEN budgets (phase 1 = first 20 % of corpus tokens,
  // phase 2 = next 30 %, phase 3 = the rest — budgets are always in
  // tokens, because steps are), assign every document to the phase
  // where its tokens START in the (millibits, doc_id) curriculum
  // order, and report each phase's realized size and difficulty band.
  // This relation is the epoch-materializer's (q104/q105) input: it
  // says which docs each phase's pack job may read.
  //
  // Scale shape: scoring is q67's (one vocab-sized model aggregation,
  // one corpus re-scan); the curriculum ORDER then needs a global
  // token prefix sum over corpus-sized rows — a PrefixSum bucketed on
  // the millibits value itself, a domain-bounded key. Pure integer
  // arithmetic end to end.
  private val CurrPct1 = 20L // phase 1: first 20 % of tokens
  private val CurrPct2 = 50L // phase 2: through 50 % cumulative
  private def q156(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documentsWide(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val model = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
    val total = model.agg(sum(col("freq")).as("total"))
    val bits = model.crossJoin(broadcast(total))
      .withColumn("bits", (length(bin(expr("total div freq"))) - 1).cast("long"))
      .select("tok", "bits")
    val mb = graft.Caches.track(toks.join(broadcast(bits), "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("total_bits"))
      .withColumn("millibits", expr("total_bits * 1000 div n_tokens"))
      .select("doc_id", "n_tokens", "millibits"))
    val tt = mb.agg(sum(col("n_tokens")).as("tt"))
    // bucket bound: ≤ 64·1000 millibits values
    PrefixSum.running(mb, Nil, Seq("millibits"), Seq(col("doc_id")),
        col("n_tokens") -> "cum_before")
      .crossJoin(broadcast(tt))
      .withColumn("phase",
        when(col("cum_before") < expr(s"tt * $CurrPct1 div 100"), lit(1))
          .when(col("cum_before") < expr(s"tt * $CurrPct2 div 100"), lit(2))
          .otherwise(lit(3)))
      .groupBy("phase")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("millibits")).as("min_millibits"),
        max(col("millibits")).as("max_millibits"))
      .orderBy("phase")
  }

  private val q156Sql =
    s"""WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |model AS (SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok),
      |n AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM model),
      |bits AS (
      |  SELECT tok, CAST(length(bin(total // freq)) - 1 AS BIGINT) AS bits
      |  FROM model CROSS JOIN n),
      |scored AS (
      |  SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(bits) AS BIGINT) AS total_bits
      |  FROM toks JOIN bits USING (tok) GROUP BY doc_id),
      |mb AS (
      |  SELECT doc_id, n_tokens, (total_bits * 1000) // n_tokens AS millibits
      |  FROM scored),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt FROM mb),
      |c AS (
      |  SELECT doc_id, n_tokens, millibits,
      |         CAST(SUM(n_tokens) OVER (ORDER BY millibits, doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |           - n_tokens AS cum_before
      |  FROM mb),
      |ph AS (
      |  SELECT CASE WHEN cum_before < tt * $CurrPct1 // 100 THEN 1
      |              WHEN cum_before < tt * $CurrPct2 // 100 THEN 2
      |              ELSE 3 END AS phase,
      |         n_tokens, millibits
      |  FROM c CROSS JOIN tot)
      |SELECT phase, COUNT(*) AS n_docs,
      |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |       MIN(millibits) AS min_millibits,
      |       MAX(millibits) AS max_millibits
      |FROM ph GROUP BY phase ORDER BY phase""".stripMargin

  // ---------------------------------------------------------------------
  // q168 — COMPOSED RELEASE-DECONTAMINATION VERDICT: the decision
  // relation a release pipeline executes, folding BOTH leak classes
  // into one row per train document (the q72 composed-verdict shape
  // applied to the decontamination family): verbatim coverage from
  // q161's detection core (Dedup.evalCoveredSpans — the exact spans
  // the strip would excise) and semantic proximity from q165's
  // cross-slice hits (Similarity.evalCrossHits). The policy is the
  // standard asymmetry: a SEMANTIC hit drops the whole document
  // (`drop_semantic` — a paraphrase has no verbatim span to strip, so
  // span surgery cannot clean it); a verbatim-only hit routes to the
  // span strip (`strip_spans` — q161 executes it); everything else is
  // `clean`. Documents without an embedding row simply cannot
  // semantic-flag (the q163 doc_id ≅ vec_id join convention).
  //
  // Scale shape: strictly the union of its parents' audited shapes —
  // one wkey semi-join stack (q161's) + one capped-LSH pair stack
  // (q39/q165's), both rolled to per-doc bits, then two LEFT joins
  // against the train roster. Nothing new shuffles.
  private def q168(s: SparkSession, dir: String): DataFrame = {
    val train = Tables.documents(s, dir).select("doc_id")
      .filter(col("doc_id") % EvalMod =!= EvalPhase)
    val rem = Dedup.evalCoveredSpans(s, dir)
      .select(col("doc_id"), size(col("cov")).as("nrem"))
    val sem = Similarity.evalCrossHits(s, dir)
      .groupBy(col("train_vec").as("doc_id"))
      .agg(max(col("cosine")).as("max_eval_cosine"))
    train.join(rem, Seq("doc_id"), "left").join(sem, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nrem"), lit(0)).cast("int").as("n_verbatim_removed"),
        col("max_eval_cosine").isNotNull.as("semantic_hit"),
        col("max_eval_cosine"),
        when(col("max_eval_cosine").isNotNull, lit("drop_semantic"))
          .when(coalesce(col("nrem"), lit(0)) > 0, lit("strip_spans"))
          .otherwise(lit("clean")).as("verdict"))
      .orderBy("doc_id")
  }

  // The oracle composes both parents' relational stacks verbatim —
  // q161's covered-span CTEs (Dedup.evalCoveredSqlCtes, plain window
  // strings) and q165's cross-slice CTE over the full q39 stack — and
  // applies the same policy CASE: a hash match certifies the composed
  // release decision end to end against an engine that saw neither
  // parent's Spark plan.
  private val q168Sql =
    s"""WITH ${Dedup.evalCoveredSqlCtes},
      |${Similarity.cosinePairsSqlCtes},
      |${Similarity.evalCrossSqlCte},
      |sem AS (
      |  SELECT train_vec AS doc_id, MAX(cosine) AS max_eval_cosine
      |  FROM cross_hits GROUP BY 1)
      |SELECT d.doc_id,
      |       CAST(COALESCE(nrem.n_removed, 0) AS INT) AS n_verbatim_removed,
      |       sem.doc_id IS NOT NULL AS semantic_hit,
      |       sem.max_eval_cosine,
      |       CASE WHEN sem.doc_id IS NOT NULL THEN 'drop_semantic'
      |            WHEN COALESCE(nrem.n_removed, 0) > 0 THEN 'strip_spans'
      |            ELSE 'clean' END AS verdict
      |FROM (SELECT doc_id FROM documents WHERE doc_id % $EvalMod <> $EvalPhase) d
      |LEFT JOIN nrem ON d.doc_id = nrem.doc_id
      |LEFT JOIN sem ON d.doc_id = sem.doc_id
      |ORDER BY d.doc_id""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q51_decontaminate"     -> (q51 _),
    "q168_decontam_verdict" -> (q168 _),
    "q156_curriculum_plan"  -> (q156 _),
    "q85_bloom_decontaminate" -> (q85 _),
    "q88_quality_classifier" -> (q88 _),
    "q170_dsir_select"      -> (q170 _),
    "q173_quality_budget_select" -> (q173 _),
    "q178_selector_agreement" -> (q178 _),
    "q72_curation_verdict"  -> (q72 _),
    "q73_drift_monitor"     -> (q73 _),
    "q74_hll_distinct"      -> (q74 _),
    "q76_mix_resample"      -> (q76 _),
    "q52_stratified_sample" -> (q52 _),
    "q53_domain_mix"        -> (q53 _),
    "q104_epoch_plan"       -> (q104 _),
    "q105_epoch_materialize" -> (q105 _),
    "q111_novelty_audit"    -> (q111 _),
    "q112_exact_split"      -> (q112 _),
    "q113_source_overlap"   -> (q113 _),
    "q118_padding_report"   -> (q118 _),
    "q54_pii_redact"        -> (q54 _),
    "q60_sequence_packing"  -> (q60 _),
    "q127_pack_materialize" -> (q127 _),
    "q61_doc_chunking"      -> (q61 _),
  )

  override val oracle: Map[String, String] = Map(
    "q51_decontaminate"     -> q51Sql,
    "q168_decontam_verdict" -> q168Sql,
    "q156_curriculum_plan"  -> q156Sql,
    // q85 is q51's serving twin: same exact output, different physical
    // plan — the bloom admits no false negatives and its false
    // positives die in the exact join, so the one oracle covers both
    "q85_bloom_decontaminate" -> q51Sql,
    "q88_quality_classifier" -> q88Sql,
    "q170_dsir_select"      -> q170Sql,
    "q173_quality_budget_select" -> q173Sql,
    "q178_selector_agreement" -> q178Sql,
    "q72_curation_verdict"  -> q72Sql,
    "q73_drift_monitor"     -> q73Sql,
    "q74_hll_distinct"      -> q74Sql,
    "q76_mix_resample"      -> q76Sql,
    "q52_stratified_sample" -> q52Sql,
    "q53_domain_mix"        -> q53Sql,
    "q104_epoch_plan"       -> q104Sql,
    "q105_epoch_materialize" -> q105Sql,
    "q111_novelty_audit"    -> q111Sql,
    "q112_exact_split"      -> q112Sql,
    "q113_source_overlap"   -> q113Sql,
    "q118_padding_report"   -> q118Sql,
    "q54_pii_redact"        -> q54Sql,
    "q60_sequence_packing"  -> q60Sql,
    "q127_pack_materialize" -> q127Sql,
    "q61_doc_chunking"      -> q61Sql,
  )
}
