package graft.streaming

import java.sql.Timestamp
import scala.annotation.unused
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming expression of the incremental dataflow (M5,
  * SURVEY §7.2): the reference's watermark batch loop (D4, reference
  * nikon_ETL.py:425-499 — read watermark, process ≤86400 s windows,
  * advance) is exactly Spark's event-time watermark + tumbling window.
  * The driver-side chunk loop of graft.incremental.IncrementalRunner and
  * these streaming jobs share semantics: one is replayed micro-batches
  * over parquet, the other continuous micro-batches over a stream — the
  * same aggregation body (the K9 summary) runs in both.
  *
  * Scale: state is bounded by the watermark (late data beyond 1 day is
  * dropped, matching the batch loop's day-chunk replay contract); the
  * window aggregation is a streaming partial agg keyed by (window,
  * event_type) — no unbounded state, no driver collection.
  */
object Streams {

  /** D4/K9 as a stream: per-day per-type event summary with a 1-day
    * event-time watermark. Output mode append once a window closes. */
  def windowedSummary(events: DataFrame): DataFrame = {
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
              col("event_type"), col("n"), col("total_value"))
  }

  /** Streaming storage sink with the D5 replay contract: every
    * micro-batch overwrites its own `batch=<id>` partition, so a batch
    * replayed after a failure (same epoch id from the checkpoint)
    * rewrites its partition instead of appending duplicates — the
    * streaming twin of SliceStore.overwriteSlice / RotRunner's chunk
    * partitions. Combined with a checkpointLocation this is end-to-end
    * exactly-once onto plain parquet. */
  def startPartitionedSink(df: DataFrame, path: String,
                           checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$path/batch=$id")
      }
      .start()
  }

  case class Doc(doc_id: Long, ts: Timestamp, text: String)

  /** Streaming twin of the exact-dedup pass (q31, D3 applied to the LLM
    * pipeline): first-seen-wins on the content hash over a continuous
    * document feed. `dropDuplicatesWithinWatermark` bounds the hash
    * state by the event-time watermark — a plain `dropDuplicates` would
    * hold every hash ever seen and OOM on an unbounded corpus feed; the
    * contract is "no duplicates closer than the watermark horizon",
    * which is exactly the re-ingestion window a training-data intake
    * needs to guard. */
  def streamingExactDedup(docs: DataFrame): DataFrame = {
    docs
      .withWatermark("ts", "1 day")
      .withColumn("text_hash", md5(col("text")))
      .dropDuplicatesWithinWatermark("text_hash")
  }

  /** Composed streaming corpus intake — the curation-side end artifact,
    * the streaming twin of the batch corpus filter (q44) plus redaction
    * (q54): document feed → watermark-bounded exact dedup
    * (first-seen-wins on the content hash) → quality floor (the same
    * stopword/length heuristic q30/q44 score with) → PII scrub (q54's
    * patterns, shared constants so batch and stream redact identically).
    * Everything after the dedup state is a stateless narrow map, so the
    * flow's only state is the watermark-bounded hash set — the shape
    * that keeps a 100 TB/day intake running indefinitely.
    *
    * The intake's NEAR-dup stage is [[minhashCandidates]], run as the
    * companion query over this flow's sink (Spark restricts
    * flatMapGroupsWithState from chaining behind another stateful
    * operator in one query; a two-query pipeline over the landed feed is
    * the supported composition, and checkpointed exactly-once either way). */
  def intake(docs: DataFrame, qualityFloor: Double = 0.5): DataFrame = {
    import graft.queries.Curation.{EmailRe, PhoneRe}
    graft.queries.TextPipeline.withQualityRules(
      streamingExactDedup(docs).withColumn("n_chars", length(col("text"))))
      .withColumn("quality",
        graft.queries.TextPipeline.qualityCol(split(col("text"), " ")))
      .filter(col("quality") >= qualityFloor)
      .withColumn("clean_text",
        regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"))
      // rule_mask rides along as the batch battery's audit column (q65's
      // exact definition — TextPipeline.withQualityRules — so batch and
      // stream can never disagree on WHY a document is suspect)
      .select("doc_id", "ts", "text_hash", "quality", "rule_mask", "clean_text")
  }

  case class BandedDoc(doc_id: Long, ts: Timestamp, band: Int, bandkey: String)
  case class BandCandidate(band: Int, bandkey: String, d1: Long, d2: Long)
  case class BucketState(ids: Seq[Long], lastTs: Long)

  private val BucketHorizonMs = 86400000L // 1 day, the intake's dedup horizon

  /** Streaming twin of q33's MinHash-band bucketing — the near-dup
    * candidate stage of the intake flow. Band keys come from the SAME
    * signature definition as the batch operator
    * (queries.Dedup.minhashBandKeysOf — a spec pins the stateless
    * per-row form bit-identical to the batch aggregate), computed as a
    * stateless narrow map inside the micro-batch; the only state is the
    * per-(band, bandkey) member list, capped at Dedup.BucketCap ids and
    * cleared by an event-time timeout one dedup horizon after the
    * bucket's last arrival — so state is (≤64 longs) × live buckets,
    * watermark-bounded, never corpus-sized.
    *
    * Emission contract: a document arriving in a bucket pairs with every
    * member already there — on an in-order replay of a corpus whose
    * buckets stay under the cap, the emitted (d1, d2) set equals the
    * batch candidate set exactly (StreamingSpec asserts this). The one
    * honest divergence from batch at the cap: batch retroactively drops
    * an over-cap bucket's pairs, a stream cannot retract what it already
    * emitted — it stops ADMITTING members past the cap instead. Both
    * bound the blowup at cap² pairs per bucket; the downstream exact
    * verify (batch q33's jaccard stage) filters either way. */
  def minhashCandidates(docs: DataFrame): Dataset[BandCandidate] = {
    import docs.sparkSession.implicits._
    val banded = graft.queries.Dedup.minhashBandKeysOf(docs)
      .withWatermark("ts", "1 day")
      .select("doc_id", "ts", "band", "bandkey").as[BandedDoc]

    // local copies: referencing the object's fields from the closure
    // would capture (and try to serialize) the whole Streams module
    val horizonMs = BucketHorizonMs
    val cap = graft.queries.Dedup.BucketCap

    def emit(key: (Int, String), rows: Iterator[BandedDoc],
             state: GroupState[BucketState]): Iterator[BandCandidate] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var st = state.getOption.getOrElse(BucketState(Vector.empty, Long.MinValue))
        val out = Seq.newBuilder[BandCandidate]
        // (ts, doc_id) order inside the batch: arrival order is the
        // contract, and the tie-break keeps replays deterministic
        rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id)).foreach { r =>
          if (!st.ids.contains(r.doc_id) && st.ids.size < cap) {
            st.ids.foreach { e =>
              out += BandCandidate(key._1, key._2, math.min(e, r.doc_id), math.max(e, r.doc_id))
            }
            st = BucketState(st.ids :+ r.doc_id, math.max(st.lastTs, r.ts.getTime))
          } else st = st.copy(lastTs = math.max(st.lastTs, r.ts.getTime))
        }
        state.update(st)
        // clear the bucket one horizon after its last arrival; clamp
        // above the current watermark (a bucket fed only by late-but-
        // admissible rows could otherwise ask for a timeout in the past)
        state.setTimeoutTimestamp(
          math.max(st.lastTs + horizonMs, state.getCurrentWatermarkMs() + 1))
        out.result().iterator
      }
    }

    banded.groupByKey(r => (r.band, r.bandkey))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(emit)
  }

  /** Streaming twin of q77's grouped-quantile sketch (D3, the q25/q57
    * batch-stream pairing): the mergeable log-histogram is MAINTAINED as
    * a continuous streaming aggregate — per (event_type, bucket)
    * occurrence counts and bucket minima, one shared definition with the
    * batch path (`Temporal.sketchHistogram`) so the two can never
    * bucket differently. State is the bucket domain (≤ ~2.3k rows per
    * event_type BY CONSTRUCTION — the value range maps into boundedly
    * many log-linear buckets), not the stream length, so the aggregate
    * runs in complete mode indefinitely without a watermark. The p25–p95
    * readout is q77's cumulative walk over that tiny state, run on
    * demand against the sink — the maintain-continuously/query-on-demand
    * split every sketch store serves. */
  def quantileSketch(events: DataFrame): DataFrame =
    graft.queries.Temporal.sketchHistogram(
      events.select(col("event_type"),
        round(col("value") * 1e6).cast("long").as("v")))

  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Int, value: Double)
  case class Session(user_id: Long, start: Timestamp, end: Timestamp, n_events: Int, total_value: Double)

  /** Custom per-key streaming state (the Structured Streaming analog of
    * the reference's per-tool incremental state K6): gap-based
    * sessionization with flatMapGroupsWithState — a session closes after
    * `gapMinutes` of event-time silence, enforced via event-time timeout
    * so state is watermark-bounded. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def update(userId: Long, rows: Iterator[Event],
               state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.value))
      } else {
        // Fold the open session (if any) and the batch's events into one
        // time-ordered interval list, then run the SAME gap-merge the
        // batch q25 sessionization applies. This keeps out-of-order
        // (non-late) events correct in every arrangement: events more
        // than a gap BEFORE the open session merge with EACH OTHER when
        // they belong to one session (not one singleton each), and still
        // split from the open session across the gap.
        case class Span(start: Long, last: Long, n: Int, value: Double)
        val items = (state.getOption.map(s => Span(s.start, s.last, s.n, s.value)).toSeq ++
          rows.map(e => Span(e.ts.getTime, e.ts.getTime, 1, e.value)))
          .sortBy(i => (i.start, i.last))
        if (items.isEmpty) Iterator.empty
        else {
          var merged = Vector.empty[Span]
          items.foreach { it =>
            merged.lastOption match {
              case Some(m) if it.start - m.last <= gapMs =>
                merged = merged.init :+ Span(m.start, math.max(m.last, it.last),
                  m.n + it.n, m.value + it.value)
              case _ => merged :+= it
            }
          }
          // the latest span stays open (its gap hasn't elapsed yet);
          // every earlier span is separated from it by > gap and closes
          val open = merged.last
          state.update(SessionState(open.start, open.last, open.n, open.value))
          state.setTimeoutTimestamp(open.last + gapMs)
          merged.init.map(m =>
            Session(userId, new Timestamp(m.start), new Timestamp(m.last), m.n, m.value)).iterator
        }
      }
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)
  }

  case class AsofMatch(purchase_id: Long, user_id: Long, purchase_tsu: Long,
                       purchase_value: Double, click_id: java.lang.Long,
                       click_tsu: java.lang.Long, click_value: java.lang.Double)
  case class ClickState(ctsu: Long, cid: Long, cval: Double)

  /** Streaming twin of the batch as-of join (q57, D3 applied to the
    * temporal operators): per-user state holds only the LATEST click
    * seen — O(1) state per key, watermark-prunable — and each purchase
    * emits its match immediately. Within a micro-batch, events process
    * in (tsu, side) order with purchases BEFORE clicks at equal
    * timestamps: the same ordering trick the batch window uses, so an
    * equal-timestamp click is not visible to the purchase (strict "<")
    * and batch/stream agree exactly on an in-order feed. Cross-batch
    * out-of-order clicks only matter if they would BEAT the retained
    * latest click — the (ctsu, cid) max-merge handles those — while a
    * purchase that already emitted is final, the standard streaming
    * as-of contract (enrichment uses the state as of arrival). */
  def asofJoin(events: Dataset[Event]): Dataset[AsofMatch] = {
    import events.sparkSession.implicits._

    // integer MICROseconds, the catalog's time unit (Timestamp.getTime is
    // ms and would both lose precision and disagree with batch unix_micros)
    def micros(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000

    def update(userId: Long, rows: Iterator[Event],
               state: GroupState[ClickState]): Iterator[AsofMatch] = {
      val sorted = rows.toSeq.sortBy(e =>
        (micros(e.ts), if (e.event_type == "purchase") 0 else 1, e.event_id))
      var st = state.getOption
      val out = Seq.newBuilder[AsofMatch]
      sorted.foreach { e =>
        e.event_type match {
          case "click" =>
            if (st.forall(s => s.ctsu < micros(e.ts)
                || (s.ctsu == micros(e.ts) && s.cid < e.event_id)))
              st = Some(ClickState(micros(e.ts), e.event_id, e.value))
          case "purchase" =>
            out += AsofMatch(e.event_id, userId, micros(e.ts), e.value,
              st.map(s => java.lang.Long.valueOf(s.cid)).orNull,
              st.map(s => java.lang.Long.valueOf(s.ctsu)).orNull,
              st.map(s => java.lang.Double.valueOf(s.cval)).orNull)
          case _ => ()
        }
      }
      st.foreach(state.update)
      out.result().iterator
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(update)
  }

  /** Stateless streaming twin of q93's SCORING half: bigram-LM surprisal
    * over an arriving document feed under a FROZEN serving model — the
    * online quality gate a training-data intake runs while the batch
    * q93 retrains offline (the Bpe train/encode and q78/q79 offline/
    * online split applied to the LM filter). The model ships as a plain
    * broadcast map keyed "w1 w2", built by
    * [[graft.queries.Corpus.frozenBigramModel]] — the top-M
    * most-frequent bigrams, bounded by construction + the flat OOV
    * penalty for everything pruned (q93's training relation is
    * Heaps-law unbounded, its serving artifact is not);
    * scoring is one narrow typed map per document, zero shuffle and
    * zero streaming state, so the gate runs in append mode at any feed
    * rate. Bits/band constants are q93's own — batch and stream cannot
    * disagree on a verdict.
    */
  case class CorpusDoc(doc_id: Long, ts: Timestamp, source: String, text: String)
  case class StrippedDoc(doc_id: Long, ts: Timestamp, n_segs: Int,
                         n_kept: Int, n_clean_toks: Int, clean_hash: String)

  /** Streaming twin of the corpus-prepare intake — q90's boilerplate
    * mark and q96's first-failing-stage verdict over an arriving
    * document feed. The boilerplate relation ships FROZEN as a
    * broadcast (source, seg-key) set ([[graft.queries.Corpus
    * .frozenBoiler]] — the bigramScore offline-train/online-serve
    * shape: the batch q90 retrains the relation offline while the
    * intake strips against the frozen generation), so the strip +
    * reassembly is ONE stateless narrow map per document — segment
    * keys via the same md5-int60 idiom the batch SQL hashes, zero
    * shuffle at any feed rate. The only streaming state is the q96
    * exact-dup stage: first-seen-wins per clean-text hash through
    * flatMapGroupsWithState, one boolean per live hash, cleared by an
    * event-time timeout one dedup horizon after the hash's last
    * arrival — watermark-bounded, never corpus-sized (the
    * streamingExactDedup contract: "no duplicates closer than the
    * horizon").
    *
    * Verdict ladder and all constants are q96's own (empty_after_strip
    * → exact_dup → too_short → kept; StreamingSpec pins batch/stream
    * row identity on a shared fixture). Kept docs get their q92 SHARD
    * (a narrow md5 map); the within-shard POSITION is deliberately
    * omitted — it is a corpus-total rank, the batch finalization q92
    * runs when a shard generation closes, not a per-event property. */
  def corpusPrepare(docs: Dataset[CorpusDoc], boiler: Set[(String, Long)]): DataFrame = {
    import docs.sparkSession.implicits._
    import graft.queries.Corpus
    val bc = docs.sparkSession.sparkContext.broadcast(boiler)
    val segLen = Corpus.BoilerSegLen
    val minToks = Corpus.MinCleanToks
    val nShards = Corpus.NumShards
    val horizonMs = BucketHorizonMs
    val stripped = docs.map { d =>
      val ts = d.text.split(" ", -1)
      val nSegs = (ts.length - 1) / segLen + 1
      val sb = new java.lang.StringBuilder(d.text.length)
      var nKept = 0
      var i = 0
      while (i < nSegs) {
        val seg = ts.slice(i * segLen, math.min(ts.length, (i + 1) * segLen)).mkString(" ")
        if (!bc.value.contains((d.source, Corpus.md5Int60(seg)))) {
          if (nKept > 0) sb.append(' ')
          sb.append(seg)
          nKept += 1
        }
        i += 1
      }
      val cleanText = sb.toString
      val nCleanToks = if (cleanText.isEmpty) 0 else cleanText.split(" ", -1).length
      StrippedDoc(d.doc_id, d.ts, nSegs, nKept, nCleanToks, Corpus.md5Hex(cleanText))
    }

    def verdict(@unused hash: String, rows: Iterator[StrippedDoc],
                state: GroupState[java.lang.Boolean]): Iterator[(Long, Int, Int, Int, String, java.lang.Integer)] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var seen = state.getOption.exists(_.booleanValue)
        var lastTs = Long.MinValue
        // (ts, doc_id) order inside the batch — the minhashCandidates
        // arrival contract; equal timestamps resolve to batch's rk order
        val out = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id)).map { r =>
          lastTs = math.max(lastTs, r.ts.getTime)
          val v =
            if (r.n_clean_toks == 0) "empty_after_strip" // before the dup check, as batch
            else if (seen) "exact_dup"
            else {
              seen = true
              if (r.n_clean_toks < minToks) "too_short" else "kept"
            }
          val shard: java.lang.Integer =
            if (v == "kept") Int.box((Corpus.md5Int60("shard:" + r.doc_id) % nShards).toInt)
            else null
          (r.doc_id, r.n_segs, r.n_kept, r.n_clean_toks, v, shard)
        }
        state.update(java.lang.Boolean.valueOf(seen))
        state.setTimeoutTimestamp(
          math.max(lastTs + horizonMs, state.getCurrentWatermarkMs() + 1))
        out.iterator
      }
    }

    stripped
      .withWatermark("ts", "1 day")
      .groupByKey(_.clean_hash)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(verdict)
      .toDF("doc_id", "n_segs", "n_kept", "n_clean_toks", "verdict", "shard")
  }

  case class MediaDoc(doc_id: Long, ts: Timestamp, media_type: String, payload: Array[Byte])
  case class MediaHash(doc_id: Long, ts: Timestamp, media_type: String, fhash: String)
  case class MediaVerdictIn(doc_id: Long, ts: Timestamp, media_type: String,
                            fhash: String, corpus_keeper: Option[Long], near: Boolean)

  /** The q101 media index's band relation grouped for STREAM serving:
    * (media_type, band, bk) → the bucket's member hashes as one array
    * column. The artifact's bucket cap bounds every array at
    * [[graft.queries.Dedup.BucketCap]] elements, so the static side is
    * one row per band key and the stream join attaches a bounded
    * payload — no explode, no stream-side aggregation. */
  def mediaBandBuckets(bands: DataFrame): DataFrame =
    bands.groupBy("media_type", "band", "bk")
      .agg(collect_list(col("fhash")).as("members"))

  /** Streaming twin of q101's artifact-served media intake: verdict a
    * media feed against the FROZEN perceptual-dedup index (the
    * offline-train/online-serve split of [[bigramScore]] /
    * [[corpusPrepare]], on the media family). Payloads decode through
    * the per-item checked kernel ([[graft.functions.Multimodal
    * .checkedHashOf]] — a corrupt intake blob drops out, never a stage
    * kill); the corpus-exact probe is ONE stream-static equi-join on
    * (media_type, fhash); the near-dup probe is EIGHT stream-static
    * left joins on (media_type, band, bk) against [[mediaBandBuckets]]
    * — the banding factor expressed as joins instead of an explode, so
    * each row stays one row end-to-end and no streaming aggregation is
    * needed; candidates verify in-row with the codegen'd
    * `graft_hamming` against the ≤cap members array. The only state is
    * the watermark-bounded first-seen boolean per (media_type, fhash)
    * for `exact_dup_batch` — q101's ladder exactly:
    * exact_dup_corpus > exact_dup_batch > neardup_corpus > kept.
    * Index growth (ingest) stays the batch job's business — the honest
    * incremental divergence, as with [[corpusPrepare]]'s positions. */
  def mediaVerdicts(media: Dataset[MediaDoc], exactIdx: DataFrame,
                    bandBuckets: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    import graft.queries.TextPipeline.{AHashHamMax, EnvHamMax}
    val horizonMs = BucketHorizonMs
    val hashes = media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        graft.functions.Multimodal.checkedHashOf(r.media_type, r.doc_id, r.payload)
          .toOption.map(h => MediaHash(r.doc_id, r.ts, r.media_type, h))
      }
    }
    val ex = exactIdx.select(col("media_type"), col("fhash"),
      col("keeper").as("corpus_keeper"))
    val hmaxSql =
      s"CASE WHEN media_type = 'image' THEN $AHashHamMax " +
      s"WHEN media_type = 'audio' THEN $EnvHamMax ELSE 0 END"
    val probed = (0 to 7).foldLeft(
      hashes.toDF()
        .join(ex, Seq("media_type", "fhash"), "left")
        .withColumn("near", lit(false))) { (df, b) =>
      val bkCol =
        if (b == 0)
          when(col("media_type") === "video", col("fhash"))
            .otherwise(substring(col("fhash"), 1, 8))
        else if (b < 4)
          when(col("media_type") === "video", lit(null).cast("string"))
            .otherwise(substring(col("fhash"), b * 8 + 1, 8))
        else
          when(col("media_type") === "image", substring(col("fhash"), b * 8 + 1, 8))
            .otherwise(lit(null).cast("string"))
      val bb = bandBuckets.filter(col("band") === b)
        .select(col("media_type"), col("bk").as(s"bk_$b"),
          col("members").as(s"members_$b"))
      df.withColumn(s"bk_$b", bkCol)
        .join(bb, Seq("media_type", s"bk_$b"), "left")
        .withColumn("near", col("near") || coalesce(
          expr(s"exists(members_$b, m -> graft_hamming(m, fhash) <= ($hmaxSql))"),
          lit(false)))
        .drop(s"bk_$b", s"members_$b")
    }

    def verdict(@unused key: (String, String), rows: Iterator[MediaVerdictIn],
                state: GroupState[java.lang.Boolean]): Iterator[(Long, String, String, Boolean, java.lang.Long)] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var seen = state.getOption.exists(_.booleanValue)
        var lastTs = Long.MinValue
        val out = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id)).map { r =>
          lastTs = math.max(lastTs, r.ts.getTime)
          val v = r.corpus_keeper match {
            case Some(_) => "exact_dup_corpus"
            case None if seen => "exact_dup_batch"
            case None =>
              seen = true
              if (r.near) "neardup_corpus" else "kept"
          }
          (r.doc_id, r.media_type, v, v == "kept",
            r.corpus_keeper.map(Long.box).orNull)
        }
        state.update(java.lang.Boolean.valueOf(seen))
        state.setTimeoutTimestamp(
          math.max(lastTs + horizonMs, state.getCurrentWatermarkMs() + 1))
        out.iterator
      }
    }

    probed
      .select("doc_id", "ts", "media_type", "fhash", "corpus_keeper", "near")
      .as[MediaVerdictIn]
      .withWatermark("ts", "1 day")
      .groupByKey(r => (r.media_type, r.fhash))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(verdict)
      .toDF("doc_id", "media_type", "verdict", "keep", "corpus_keeper")
  }

  /** L74's novelty audit (q111) as a stream served from the FROZEN
    * reference-gram artifact (`Curation.referenceGrams`, in production a
    * persisted parquet relation — the q101/q102 artifact discipline):
    * each intake document's distinct 8-gram md5s (hashed in the narrow
    * flatMap — gram text never leaves the task, the q111 contract) are
    * probed against the static relation with ONE stream-static left
    * join, and the per-doc rollup is a watermark-bounded event-time
    * windowed aggregation (a document's gram rows share its timestamp,
    * so each doc closes with its window; no cross-batch state beyond
    * the window store). Verdict columns are bit-identical to q111's. */
  def noveltyAudit(docs: Dataset[Doc], refGrams: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val novN = graft.queries.Curation.NovN
    val grams = docs.flatMap { d =>
      val ts = d.text.split(" ", -1)
      if (ts.length < novN) Iterator.empty
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        (0 to ts.length - novN).map { i =>
          md.digest(ts.slice(i, i + novN).mkString(" ").getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
        }.distinct.map(g => (d.doc_id, d.ts, g)).iterator
      }
    }.toDF("doc_id", "ts", "g")
    grams
      .join(refGrams.select(col("g"), lit(1L).as("seen")), Seq("g"), "left")
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("seen"), lit(0L))).as("n_seen"))
      .withColumn("novelty_ppm", expr("(1000000 * (n_grams - n_seen)) div n_grams"))
      .withColumn("flag_overlap",
        col("novelty_ppm") < graft.queries.Curation.NovOverlapPpm)
      .select("doc_id", "n_grams", "n_seen", "novelty_ppm", "flag_overlap")
  }

  case class LexQuery(qid: Int, ts: Timestamp, text: String)

  /** The lexical index's ONLINE serve (q131's batch/stream twin,
    * completing the retrieval family's symmetry with the other artifact
    * families): a continuous stream of QUERIES scored against the
    * FROZEN postings/stats artifact. The offline/online split of
    * [[bigramScore]]/[[mediaVerdicts]]: the artifact's one-row stats
    * relation is read ONCE at stream start (two scalars — the
    * broadcast-model shape), each query's terms fan out in a narrow
    * flatMap, match postings in ONE stream-static equi-join on `term`
    * plus the per-term df attachment, and the per-(query, doc) score is
    * a watermark-bounded event-time windowed aggregation running the
    * IDENTICAL idf/weight/canonical-fold expression trees as the batch
    * core ([[graft.queries.Corpus.bm25Idf]]/`bm25Weight`/`Bm25FoldSql`
    * — shared, so stream and batch scores are the same doubles).
    *
    * Emits the SCORED relation (qid, doc_id, score, n_hit): the final
    * top-k is the consumer's bounded per-query re-rank (exactly
    * [[graft.queries.Corpus.bm25TopK]]'s contract over ≤ matched-docs
    * rows), which StreamingSpec applies to pin row identity with q131.
    * State is the window store keyed (window, qid, doc) — bounded by
    * the watermark and the day's query volume, never corpus-sized.
    *
    * Scale note: per-term df is derived inline from the postings
    * relation (the artifact deliberately does not materialize a df
    * relation a merge could corrupt — LexIndex's design); a deployment
    * serving high-rate query streams would materialize the df-annotated
    * postings once per generation (one narrow per-term count) so the
    * static side of the join is a plain scan. */
  def lexScore(queries: Dataset[LexQuery], postings: DataFrame,
               stats: DataFrame): DataFrame = {
    import queries.sparkSession.implicits._
    // frozen artifact normalizers: a one-row control-plane read
    val st = stats.select(col("n_docs"), col("n_toks")).collect().head
    val (nDocs, nToks) = (st.getLong(0), st.getLong(1))
    val terms = queries
      .flatMap(q => q.text.split(" ").map(t => (q.qid, q.ts, t)))
      .toDF("qid", "ts", "term")
      .withWatermark("ts", "1 day") // pre-join: every query advances it
    val dfRel = postings.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))
    terms
      .join(postings, Seq("term"))
      .join(dfRel, Seq("term"))
      .withColumn("n_docs", lit(nDocs))
      .withColumn("n_toks", lit(nToks))
      .withColumn("idf", graft.queries.Corpus.bm25Idf)
      .withColumn("w", graft.queries.Corpus.bm25Weight)
      .groupBy(window(col("ts"), "1 day"), col("qid"), col("doc_id"))
      .agg(expr(graft.queries.Corpus.Bm25FoldSql).as("score"),
        count(lit(1)).cast("int").as("n_hit"))
      .select("qid", "doc_id", "score", "n_hit")
  }

  case class VecQuery(qid: Long, ts: Timestamp, embedding: Seq[Float])

  /** The PQ index's ONLINE serve (q79's batch/stream twin — with
    * [[lexScore]], BOTH retrieval arms now have the symmetry every
    * other artifact family carries): a continuous stream of query
    * VECTORS scored against the FROZEN codebook + codes artifact by
    * asymmetric distance computation. Per query, a stateless narrow
    * flatMap emits its M subvector rows (the EXACT pqQuantRows
    * quantization — HALF_UP at 1e4 — in plain Scala, so stream and
    * batch distances are the same integers); the per-query distance
    * tables form in ONE stream-static equi-join with the K·M-row
    * codebook (M×K rows per query — the broadcast-table shape), the
    * stored codes attach in a second stream-static join on (sub, cid),
    * and the per-(query, vec) distance sum is a watermark-bounded
    * windowed aggregation. Emits the SCORED relation (qid, vec_id,
    * adist); the consumer's bounded top-k cut is serveAdc's exact
    * contract (adist asc, vec_id tiebreak, depth 3), which
    * StreamingSpec applies to pin row identity with q79.
    *
    * State note, stated honestly: ADC against the FULL code set scores
    * every stored vector per query — the window store holds exactly the
    * relation the batch shuffle materializes (index-sized per in-window
    * query, released at the watermark). A production serve bounds it
    * the way q71 does — probe IVF cells first and pass the PROBED
    * subset as `codes`; the twin is parameterized on the codes relation
    * so that bound drops in unchanged.
    *
    * `excludeSelf` exists for the q79 fixture geometry, where query
    * vectors ARE corpus vectors and qid shares the stored vec_id space
    * (a vector must not retrieve itself). For genuinely EXTERNAL query
    * streams the qid space is unrelated to vec_ids, and an id collision
    * must not drop a stored vector from that query's scoring — so the
    * exclusion defaults OFF; only the batch-twin callers turn it on. */
  def adcScore(queries: Dataset[VecQuery], codebook: DataFrame,
               codes: DataFrame, excludeSelf: Boolean = false): DataFrame = {
    import queries.sparkSession.implicits._
    val m = graft.queries.Similarity.PqM
    val dsub = graft.queries.Similarity.PqDim
    val sub = queries.flatMap { q =>
      (0 until m).map { s =>
        val qa = (0 until dsub).map { p =>
          val x = q.embedding(s * dsub + p).toDouble * 10000.0
          (math.signum(x) * math.floor(math.abs(x) + 0.5)).toLong
        }
        (q.qid, q.ts, s, qa, qa.map(v => v * v).sum)
      }
    }.toDF("qid", "ts", "sub", "qa", "n2q")
      .withWatermark("ts", "1 day")
    val dtab = sub.join(codebook, Seq("sub"))
      .withColumn("d", col("n2q") + col("n2c") - lit(2L) * expr("graft_dot(qa, ca)"))
      .select("qid", "ts", "sub", "cid", "d")
    val joined = dtab.join(codes, Seq("sub", "cid"))
    (if (excludeSelf) joined.filter(col("qid") =!= col("vec_id")) else joined)
      .groupBy(window(col("ts"), "1 day"), col("qid"), col("vec_id"))
      .agg(sum(col("d")).as("adist"))
      .select("qid", "vec_id", "adist")
  }

  case class PhraseQuery(qid: Int, ts: Timestamp, text: String)

  /** The positional index's ONLINE serve (q155's batch/stream twin,
    * extending the family symmetry lexScore/adcScore established): a
    * continuous stream of PHRASE queries matched against the frozen
    * positional artifact. The batch serve chains one equi-join per
    * phrase word; the streaming formulation folds the chain into ONE
    * stream-static join + a windowed count — each query fans its words
    * into (term, in-phrase offset) rows, every matched word votes for
    * the phrase START position it implies (pos − i), and a start where
    * the vote count equals the phrase length is a full occurrence
    * (each offset can vote at most once per start, since a document
    * position either holds that word or not). Votes are made
    * IDEMPOTENT under at-least-once delivery by a watermark-bounded
    * dropDuplicates on the full vote key (qid, ts, doc, start,
    * offset) BEFORE the count — a redelivered query event re-emits
    * byte-identical vote rows, which the dedup store absorbs, so
    * n_matched still equals len exactly (the streaming-legal stand-in
    * for countDistinct(offset), which Spark bars in streaming aggs).
    * Emits the occurrence relation (qid, doc_id, p0); the per-query
    * ranking is the consumer's bounded rollup, exactly q155's
    * contract, which StreamingSpec pins row-identical (including a
    * duplicated-delivery replay). State is the dedup store plus the
    * window store, both keyed per vote/start and watermark-bounded —
    * the day's match volume, never corpus-sized. */
  def phraseScore(queries: Dataset[PhraseQuery], positions: DataFrame): DataFrame = {
    import queries.sparkSession.implicits._
    val terms = queries.flatMap { q =>
      val ws = q.text.split(" ")
      ws.zipWithIndex.map { case (w, i) => (q.qid, q.ts, w, i.toLong, ws.length) }
    }.toDF("qid", "ts", "term", "i", "len")
      .withWatermark("ts", "1 day")
    terms
      .join(positions, Seq("term"))
      .select(col("qid"), col("ts"), col("len"), col("doc_id"),
        (col("pos") - col("i")).as("p0"), col("i"))
      .dropDuplicates("qid", "ts", "doc_id", "p0", "i")
      .groupBy(window(col("ts"), "1 day"), col("qid"), col("len"),
        col("doc_id"), col("p0"))
      .agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") === col("len"))
      .select("qid", "doc_id", "p0")
  }

  case class LangDoc(doc_id: Long, ts: Timestamp, lang: String, text: String)

  /** The vocabulary-drift monitor's ONLINE twin (q152's batch/stream
    * split): intake documents arrive as a stream and are typed against
    * the FROZEN generation's vocabulary (a static relation from the
    * batch side — the stream never sees the corpus). Emits the
    * per-(window, lang, TYPE) count relation with the OOV verdict —
    * state is the window's intake vocabulary (Heaps-law of one day's
    * shard, never the corpus) — and the per-language drift rollup
    * (n_tokens/n_oov/oov_ppm/n_types/n_new_types/max_new_freq) is the
    * consumer's bounded re-aggregation over that relation, exactly as
    * [[lexScore]] emits scored rows for bm25TopK's cut. A single
    * streaming query cannot nest the two aggregations (type counts,
    * then distinct-type rollup); the type relation is the honest state
    * boundary, and StreamingSpec pins the rollup ≡ q152's batch rows
    * on the same fixture geometry. The emitted relation CARRIES its
    * window (win_start) so a consumer rolling up a stream that spans
    * multiple days keys per (window, lang) — without it, same-typed
    * rows from different days would merge and double-count
    * n_types/n_new_types against the per-window contract. */
  def oovMonitor(docs: Dataset[LangDoc], frozenVocab: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val toks = docs.flatMap(d =>
        d.text.split(" ").filter(_.nonEmpty).map(t => (d.lang, d.ts, t)))
      .toDF("lang", "ts", "tok")
      .withWatermark("ts", "1 day")
    toks
      .join(frozenVocab.select(col("tok"), lit(1L).as("seen")), Seq("tok"), "left")
      .groupBy(window(col("ts"), "1 day"), col("lang"), col("tok"))
      .agg(count(lit(1)).as("cnt"),
        max(coalesce(col("seen"), lit(0L))).as("seen_max"))
      .select(col("window.start").as("win_start"), col("lang"), col("tok"),
        col("cnt"), (col("seen_max") === 0L).as("oov"))
  }

  case class EmbedDoc(vec_id: Long, ts: Timestamp, label: String,
                      embedding: Seq[Float])

  /** The embedding-distribution drift monitor's ONLINE twin (q158's
    * batch/stream split, the q152/oovMonitor state-boundary
    * convention): intake vectors arrive as a stream and are quantized
    * to the q59 integer 1e-4 convention, keyed per (window, label,
    * dimension), and joined against the FROZEN corpus generation's
    * centroid relation (a static DataFrame from the batch side — the
    * stream never sees the corpus). Emits the per-(win_start, label,
    * pos) intake-centroid relation with the frozen centroid attached
    * (ci, ni, cc); the per-label drift rollup (shift_sq =
    * Σ(cc−ci)², max_dim_shift, n_intake) is the consumer's bounded
    * re-aggregation over labels·dims rows — a single streaming query
    * cannot nest the two aggregations, and the per-dimension relation
    * is the honest state boundary (it also carries exactly the
    * spike-vs-uniform-shift signal q158's header motivates). State is
    * the window store keyed (window, label, pos) — |labels|·|dims|
    * per window, watermark-bounded, never corpus-sized. StreamingSpec
    * pins the rollup ≡ q158's batch rows on the same slice geometry. */
  def embedDrift(docs: Dataset[EmbedDoc], frozenCentroids: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val quant = docs.flatMap { d =>
      d.embedding.iterator.zipWithIndex.map { case (v, i) =>
        (d.label, d.ts, (i + 1).toLong,
          math.round(v.toDouble * 10000.0))
      }.toSeq
    }.toDF("label", "ts", "pos", "q")
      .withWatermark("ts", "1 day")
    quant
      // stream-static join BEFORE the aggregation (the oovMonitor
      // shape — stateless attach, then ONE windowed agg; cc/nc are
      // constant per key, so max() just carries them through)
      .join(frozenCentroids.select(col("label"), col("pos"),
        col("cc"), col("nc")), Seq("label", "pos"))
      .groupBy(window(col("ts"), "1 day"), col("label"), col("pos"))
      .agg(expr("sum(q) div count(1)").as("ci"), count(lit(1)).as("ni"),
        max(col("cc")).as("cc"), max(col("nc")).as("nc"))
      .select(col("window.start").as("win_start"), col("label"), col("pos"),
        col("ci"), col("ni"), col("cc"), col("nc"))
  }

  /** The unigram-LM tokenizer's ONLINE twin (q164's batch/stream split,
    * the [[bigramScore]] shape): documents arrive as a stream and are
    * Viterbi-encoded against the FROZEN trained vocabulary from the
    * batch side — a pure stateless narrow map (broadcast vocab, zero
    * state, zero shuffle), emitting q164's exact per-doc relation plus
    * the event time. Training stays batch (iterative EM is not a
    * streaming operator); the intake encodes each day's shard with the
    * generation's frozen tokenizer, exactly the q152 OOV monitor's
    * companion flow. StreamingSpec pins stream rows ≡ q164's batch rows
    * (same fixture, same enc_hash fingerprints). */
  def unigramEncode(docs: Dataset[Doc], vocab: Map[String, Double]): DataFrame = {
    import docs.sparkSession.implicits._
    val bc = docs.sparkSession.sparkContext.broadcast(vocab)
    val unk = graft.functions.Unigram.unkScoreOf(vocab)
    docs.map { d =>
      val v = bc.value
      val words = d.text.split(" ", -1).filter(_.nonEmpty)
      var nPieces = 0L
      var nChars = 0L
      val digest = java.security.MessageDigest.getInstance("MD5")
      words.foreach { w =>
        val enc = graft.functions.Unigram.viterbi(w, v, unk)
        nPieces += enc.length
        nChars += w.length
        enc.foreach { piece =>
          digest.update(piece.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          digest.update(1.toByte)
        }
      }
      val hex = digest.digest().map("%02x".format(_)).mkString.substring(0, 15)
      (d.doc_id, d.ts, words.length.toLong, nChars, nPieces,
        if (nChars > 0) 1000000L * nPieces / nChars else 1000000L,
        java.lang.Long.parseLong(hex, 16))
    }.toDF("doc_id", "ts", "n_words", "n_chars", "n_pieces",
      "piece_per_char_ppm", "enc_hash")
  }

  def bigramScore(docs: Dataset[Doc], model: Map[String, Long]): DataFrame = {
    import docs.sparkSession.implicits._
    import graft.queries.Corpus.{LmHi, LmLo, LmOovBits}
    val bc = docs.sparkSession.sparkContext.broadcast(model)
    docs.flatMap { d =>
      val ts = d.text.split(" ", -1)
      if (ts.length < 2) None
      else {
        val m = bc.value
        var total = 0L
        var i = 0
        while (i < ts.length - 1) {
          total += m.getOrElse(ts(i) + " " + ts(i + 1), LmOovBits)
          i += 1
        }
        val n = (ts.length - 1).toLong
        val milli = total * 1000 / n
        Some((d.doc_id, d.ts, n, total, milli, milli >= LmLo && milli <= LmHi))
      }
    }.toDF("doc_id", "ts", "n_bigrams", "total_bits", "millibits", "keep")
  }

  /** Streaming twin of the DSIR selector (q170): intake documents are
    * scored against the FROZEN hashed-n-gram importance model — the
    * per-bucket weight map is ≤DsirBuckets entries (bounded broadcast
    * state regardless of corpus size), unseen buckets score the
    * zero-count default, and the keep decision applies the frozen
    * training-time above-average cut. Stateless narrow map: same
    * md5-bucket hashing and integer arithmetic as the batch query, so
    * replaying the raw (non-curated) pool through the stream reproduces
    * q170 exactly — batch q170 scores ONLY the raw pool; a curated doc
    * fed through the stream is scored against the same frozen model but
    * has no batch counterpart (the StreamingSpec replay slices to raw).
    */
  def dsirScore(docs: Dataset[Doc], weights: Map[Long, Long],
                wDefault: Long, nRaw: Long, sumMb: Long): DataFrame = {
    import docs.sparkSession.implicits._
    val buckets = graft.queries.Curation.DsirBuckets
    val bc = docs.sparkSession.sparkContext.broadcast(weights)
    docs.map { d =>
      val w = bc.value
      val ts = d.text.split(" ", -1)
      var sum = 0L
      var n = 0L
      def add(f: String): Unit = {
        sum += w.getOrElse(graft.queries.Corpus.md5Int60(f) % buckets, wDefault)
        n += 1
      }
      var i = 0
      while (i < ts.length) {
        add(ts(i))
        if (i + 1 < ts.length) add(ts(i) + " " + ts(i + 1))
        i += 1
      }
      val wMb = 1000L * sum / n // n >= 1: split never returns empty
      (d.doc_id, d.ts, n, sum, wMb, wMb * nRaw > sumMb)
    }.toDF("doc_id", "ts", "n_feats", "weight_bits", "w_mb", "selected")
  }

  /** Streaming twin of q179's CORPUS arm: intake documents ask "am I
    * subsumed by something the corpus already has?" against the FROZEN
    * containment artifact ([[graft.queries.IncrementalContain
    * .postex]]). Each doc flatMaps to its containment-prefix rows —
    * here ranked by plain token value, df-free: the any-order prefix
    * bound makes EVERY fixed order exact, and the online twin trades
    * the df-optimal candidate count for a model-free narrow map — and
    * one stream-static join runs the exact early-exit containment test
    * INSIDE the join condition (q179's serving discipline), so only
    * true containments reach the watermark-bounded (window, doc)
    * aggregation. The min(container) vote is duplicate-insensitive, so
    * at-least-once redelivery cannot change a verdict. Docs that emit
    * no row are kept; within-BATCH containment stays the daily batch
    * job's business (it would need a stream-stream self-join — the
    * honest incremental divergence, as with [[corpusPrepare]]). */
  def containScore(docs: Dataset[Doc], postex: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val minSet = graft.queries.IncrementalContain.MinSet
    val prefixed = docs.flatMap { d =>
      val ts = d.text.split(" ", -1)
      val set = ts.zip(ts.drop(1))
        .map { case (a, b) => graft.queries.Corpus.md5Int60(s"$a $b") }
        .distinct.sorted
      val n1 = set.length
      if (n1 < minSet) Iterator.empty
      else {
        val plen = n1 - (9 * n1 + 9) / 10 + 1
        set.take(plen).iterator.map(tok => (d.doc_id, d.ts, n1, set, tok))
      }
    }.toDF("doc_id", "ts", "n1", "s1", "tok")
    prefixed.withWatermark("ts", "1 hour")
      .join(postex, prefixed("tok") === postex("tok") &&
        postex("n2") * 10 >= prefixed("n1") * 9 &&
        expr("graft_overlap_reaches(s1, s2, cast((9 * n1 + 9) div 10 AS bigint))"))
      .groupBy(window(col("ts"), "1 day"), col("doc_id"))
      .agg(min(col("cdoc")).as("container"))
      .select(col("window.start").as("win_start"), col("doc_id"), col("container"))
  }

  case class PackDoc(doc_id: Long, text: String)
  case class PackState(total: Long, tailText: String, tailNDocs: Int,
                       tailFirst: Long, tailLast: Long)
  case class PackedSeq(seq_id: Long, n_tokens: Int, n_docs: Int,
                       first_doc: Long, last_doc: Long, content_hash: String)

  /** Streaming twin of the packed-shard intake (q128): documents
    * append to the global training-sequence stream as they arrive,
    * completed SeqLen-token sequences emit immediately (append mode —
    * a full sequence is immutable forever, q128's frozen-seqs
    * contract), and the open partial sequence rides the stream state.
    *
    * Packing is a single-writer append log — there is no per-key
    * parallelism to recover, so the state is honestly keyed on ONE
    * constant key: the initial [[PackState]] (loaded from the q128
    * artifact's state row — the offline/online split of every other
    * twin) holds the frozen global offset + the ≤SeqLen-token tail,
    * and each micro-batch walks its docs in doc_id order through the
    * same boundary arithmetic the batch serve uses. State is bounded
    * at one sequence of tokens no matter how long the stream runs;
    * per-batch work is batch-sized (a day's shard — the q128 serving
    * contract), never corpus-sized. StreamingSpec pins the emitted
    * rows to the batch ingest chain's frozen-sequence delta across
    * multiple days. */
  def packIntake(docs: Dataset[PackDoc], init: PackState): Dataset[PackedSeq] = {
    import docs.sparkSession.implicits._
    val seqLen = graft.queries.IncrementalPack.SeqLen.toInt

    def step(@unused key: Int, rows: Iterator[PackDoc],
             state: GroupState[PackState]): Iterator[PackedSeq] = {
      val s = state.getOption.getOrElse(init)
      // restore the open sequence: total % SeqLen == 0 means no tail
      // (tailText '' is ambiguous — a single empty-string token also
      // joins to '', the batch side's arithmetic-keyed case)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      if (s.total % seqLen != 0) buf ++= s.tailText.split(" ", -1)
      var nDocs = if (s.total % seqLen != 0) s.tailNDocs else 0
      var first = if (s.total % seqLen != 0) s.tailFirst else -1L
      var last = if (s.total % seqLen != 0) s.tailLast else -1L
      var seqId = s.total / seqLen
      var total = s.total
      val out = scala.collection.mutable.ArrayBuffer.empty[PackedSeq]
      // doc_id order within the batch IS the pack order (q128's
      // append contract: arriving ids exceed everything packed so far)
      rows.toSeq.sortBy(_.doc_id).foreach { d =>
        var contributed = false
        d.text.split(" ", -1).foreach { tok =>
          if (!contributed) {
            nDocs += 1; last = d.doc_id
            if (first == -1L) first = d.doc_id
            contributed = true
          }
          buf += tok
          total += 1
          if (buf.length == seqLen) {
            out += PackedSeq(seqId, seqLen, nDocs, first, last,
              graft.queries.Corpus.md5Hex(buf.mkString(" ")))
            buf.clear()
            seqId += 1; nDocs = 0; first = -1L; last = -1L
            contributed = false // the doc re-registers in the next sequence
          }
        }
      }
      state.update(PackState(total, buf.mkString(" "), nDocs,
        if (first == -1L) -1L else first, if (last == -1L) -1L else last))
      out.iterator
    }

    docs.groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(step)
  }
}
