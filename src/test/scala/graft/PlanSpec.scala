package graft

import graft.queries.{Relational, IncrementalQueries}

/** Physical-plan assertions — the 100 TB contract, checked in CI: filters
  * reach the parquet scans, small dimensions broadcast instead of
  * shuffling the fact table, and scans read only the projected columns.
  * These lock in properties that `.explain` review found, so a future
  * edit that silently regresses a plan fails the build. */
class PlanSpec extends SparkTestBase {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q05 star join broadcasts every dimension (no SortMergeJoin)") {
    val p = plan(Relational.queries("q05_star_broadcast")(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "a dimension fell back to SMJ")
  }

  test("q02 pushes the shipdate range into the parquet scan") {
    val p = plan(Relational.queries("q02_threekey_join")(spark, sfDir))
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"), p.take(2000))
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(l_shipdate.*"),
      "shipdate lower bound not pushed")
  }

  test("q23 interval scan pushes the raw-ns bounds to the events scan") {
    val p = plan(IncrementalQueries.queries("q23_replication_chunk")(spark, sfDir))
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(ts.*"),
      "raw ts lower bound not pushed:\n" + p.take(2000))
  }

  test("q05 scan reads only projected lineitem columns") {
    val p = plan(Relational.queries("q05_star_broadcast")(spark, sfDir))
    // the lineitem scan must not read l_comment-class width: check that
    // ReadSchema mentions only needed columns
    val read = "ReadSchema:.*".r.findAllIn(p).toList.mkString("\n")
    assert(!read.contains("l_linenumber") && !read.contains("l_returnflag"),
      s"scan reads unprojected columns:\n$read")
  }

  test("q32 document scans stay narrow: no lang/source/n_chars in ReadSchema") {
    val p = plan(graft.queries.Dedup.queries("q32_ngram_jaccard")(spark, sfDir))
    val read = "ReadSchema:.*".r.findAllIn(p).toList.mkString("\n")
    assert(read.nonEmpty)
    assert(!read.contains("lang") && !read.contains("source") && !read.contains("n_chars"),
      s"documents scan reads unprojected columns:\n$read")
  }

  test("q48 IVF assignment broadcasts the centroid table (no shuffle against it)") {
    val p = plan(graft.queries.Similarity.queries("q48_ann_ivf")(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"centroid table not broadcast:\n${p.take(2000)}")
  }

  test("q64 ADC scoring broadcasts the distance tables (corpus never re-shuffled against them)") {
    val p = plan(graft.queries.Similarity.queries("q64_pq_adc")(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"distance-table join not broadcast:\n${p.take(2000)}")
  }

  test("q65/q67 document scans stay narrow and the q67 model join broadcasts") {
    val p65 = plan(graft.queries.TextPipeline.queries("q65_quality_rules")(spark, sfDir))
    val read65 = "ReadSchema:.*".r.findAllIn(p65).toList.mkString("\n")
    assert(!read65.contains("lang") && !read65.contains("source"),
      s"q65 scan reads unprojected columns:\n$read65")
    val p67 = plan(graft.queries.TextPipeline.queries("q67_surprisal")(spark, sfDir))
    assert(p67.contains("BroadcastHashJoin"),
      s"q67 per-token model join must broadcast the vocabulary:\n${p67.take(2000)}")
  }

  test("q88 trains through a distributed top-K and serves through a broadcast model") {
    // the bounded-model contract: vocabulary selection must compile to
    // TakeOrderedAndProject (partial per-partition top-K, no global
    // sort of the unbounded token relation), and the scoring join must
    // broadcast the ≤ClsVocab-row model, never shuffle the corpus on tok
    val p = plan(graft.queries.Curation.queries("q88_quality_classifier")(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"),
      s"model selection is not a distributed top-K:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"),
      s"scoring join does not broadcast the model:\n${p.take(2000)}")
  }

  test("q150 strips via aggregation: zero WindowExec, one window-key exchange class") {
    // the q103-geometry contract on the execution arm: first occurrences
    // come from a min(struct) partial agg, never a row_number window (a
    // WindowExec keyed on the stride-1 window hash would sort ~n rows/doc
    // corpus-wide), and the only corpus-sized exchanges key on the
    // fixed-width wkey or the per-doc partial agg — reassembly is array
    // land inside the doc row
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    graft.Caches.release(); spark.catalog.clearCache()
    val exec = graft.Caches.disabled(
      graft.queries.Dedup.queries("q150_dupspan_strip")(spark, sfDir)
        .queryExecution.executedPlan)
    assert(exec.collect { case w: WindowExec => w }.isEmpty,
      "q150 contains a WindowExec over the stride-1 window relation")
    val wkeyExchanges = exec.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.toString.contains("wkey") => e
    }
    assert(wkeyExchanges.size <= 2,
      s"q150 shuffles the window relation ${wkeyExchanges.size} times (agg + join sides expected)")
  }

  // The two catalog-wide sweeps below share ONE pass: instantiating a
  // catalog query (artifact builds, fingerprinting) dominates the
  // sweep's cost, and a single QueryExecution yields both the physical
  // plan (cartesian ban) and the optimized logical plan (window ban) —
  // two separate sweeps would pay the catalog twice (measured ~40 s of
  // the suite wall at 157 queries).
  test("catalog sweep: no fact-sized cartesian product; no partition-less window over unbounded input") {
    // The window analog of the cartesian sweep: a WindowExec with no
    // partitionSpec funnels its whole input through ONE sort partition,
    // which is a scale-killer whenever the input grows with the corpus
    // (token vocabularies are Heaps-law unbounded — "vocab-sized" is not
    // "bounded"). A partition-less window is legal only
    //   (a) above a constant LIMIT — the ≤top-K rank derivation in
    //       q70/q73/q80 (detected structurally: GlobalLimit below), or
    //   (b) over the bucket-offset relation of a graft.PrefixSum without
    //       a partition key, exempted by name below. PrefixSum's
    //       scaladoc holds the cardinality rule (one row per bucket, so
    //       the bucket must bound the relation independently of corpus
    //       size); the bounds are
    //         q60/q127/q128/q146  ≤ corpus/PackBucket doc_id ranges
    //                             (q128: the day's shard, q146: the
    //                             rebuild docs)
    //         q69                 ≤ HeadFreq·|alphabet| + 63 buckets
    //         q156                ≤ 64·1000 millibits values
    //         q163                ≤ corpus/LayoutBucket doc_id ranges,
    //                             plus K cluster ids
    // The top-K rank windows themselves were removed outright
    // (TopK.ranked derives rank from a bounded sort_array aggregate), so
    // (a) exists for defense in depth. Foldable partition keys count as
    // partition-less here too: Spark 4's EliminateWindowPartitions
    // strips constant keys anyway (partitionBy(lit(0)) degenerates to an
    // empty spec), so the ban cannot be dodged with a literal key.
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Window => LogicalWindow}
    val exempt = Map("q60_sequence_packing" -> 1, "q69_vocab_coverage" -> 1,
      "q127_pack_materialize" -> 1, "q128_incremental_pack" -> 1,
      "q146_pack_repack" -> 1, "q156_curriculum_plan" -> 1,
      "q163_semantic_pack_layout" -> 2)
    // deliberate small-distinct cross join (R4/J9) — cartesian-exempt
    val cartExempt = Set("q07_grid")
    // Caches.disabled + clearCache: with tracking on, every persisted
    // subtree plans as an InMemoryRelation leaf and its operators
    // VANISH from the traversal — a cartesian or partition-less window
    // inside a cached build would pass the bans silently (the round-12
    // census fidelity finding, applied to the spec sweeps). clearCache
    // first: relations persisted by EARLIER tests would still
    // substitute into these plans.
    graft.Caches.release(); spark.catalog.clearCache()
    SparkEntry.queries.foreach { case (name, fn) =>
      graft.Caches.disabled {
        val qe = fn(spark, sfDir).queryExecution
        if (!cartExempt.contains(name)) {
          val p = qe.executedPlan.toString
          assert(!p.contains("CartesianProduct"),
            s"$name has a CartesianProduct:\n${p.take(1500)}")
        }
        val unbounded = qe.optimizedPlan.collect {
          case w: LogicalWindow if w.partitionSpec.forall(_.foldable) &&
            w.child.collectFirst { case g: GlobalLimit => g }.isEmpty => w
        }
        assert(unbounded.size <= exempt.getOrElse(name, 0),
          s"$name has ${unbounded.size} partition-less window(s) over an un-limited input " +
            s"(allowed: ${exempt.getOrElse(name, 0)}):\n" +
            unbounded.map(_.windowExpressions.mkString(", ")).mkString("\n"))
      }
    }
  }

  test("vector roll-ups are per-row projections: no posexplode regroup, no Exchange") {
    // The round-20 substrate rewrites, fenced (the capped-collect
    // discipline): corpusVecs must stay ONE narrow codegen'd projection
    // over the embeddings scan — a regression to the explode →
    // ObjectHashAggregate pair → corpus-wide Exchange → collect_list
    // regroup re-shuffles every vector's 64 coordinate rows just to
    // reassemble the array the scan already had (the shape 35 queries
    // inherited a 1.5-2.6x win from removing).
    val pv = graft.Caches.disabled {
      plan(graft.queries.Similarity.corpusVecs(spark, sfDir))
    }
    assert(!pv.contains("Generate"),
      s"corpusVecs regressed to a coordinate explode:\n${pv.take(1500)}")
    assert(!pv.contains("Exchange"),
      s"corpusVecs shuffles the corpus to roll vectors up:\n${pv.take(1500)}")
    assert(!pv.contains("ObjectHashAggregate") && !pv.contains("collect_list"),
      s"corpusVecs regressed to a collect_list regroup:\n${pv.take(1500)}")
    // pqQuantRows (fenced through its cheapest consumer): the subvector
    // split must stay the 8-way sequence explode + in-place slice
    // quantize. A posexplode of the embedding column itself means the
    // 64-coordinate fan-out + (vec_id, sub) regroup Exchange is back.
    // (The Lloyd centroid update's posexplode of ASSIGNED subvectors
    // into the bounded K·M·PqDim mean aggregation is a different,
    // legitimate node and is not banned here.)
    val p63 = graft.Caches.disabled {
      plan(graft.queries.Similarity.queries("q63_pq_codes")(spark, sfDir))
    }
    assert(p63.contains("slice(embedding"),
      s"q63 subvector split is no longer the per-row slice projection:\n${p63.take(1500)}")
    assert(!p63.contains("posexplode(embedding"),
      s"q63 regressed to a coordinate posexplode fan-out:\n${p63.take(1500)}")
  }

  test("q79 serves from the artifact: raw corpus vectors are never scanned") {
    // the persisted-index claim: the search plan reads the codes and
    // codebook parquet artifacts, and touches the embeddings table ONLY
    // for the 8 query vectors (pushed-down vec_id bound) — a scan of
    // the full raw corpus would defeat the ADC memory story
    val p = plan(graft.queries.Similarity.queries("q79_pq_index_search")(spark, sfDir))
    assert(p.contains(graft.queries.Similarity.pqIndexPath(spark, sfDir)),
      "search does not read the index artifact")
    val corpusScans = p.split("\n").filter(_.contains("embeddings.parquet"))
    assert(corpusScans.nonEmpty, "query vectors must come from the embeddings table")
    corpusScans.foreach { l =>
      assert(l.contains("vec_id") && (l.contains("< 8") || l.contains("LessThan(vec_id,8)")),
        s"embeddings scan without the query-vector bound:\n$l")
    }
  }

  test("q131/q132 serve from the lexical index: documents are never rescanned and terms push down") {
    // the persisted-inverted-index claim: the serve plan reads postings
    // + stats artifacts only — a documents scan would mean BM25 still
    // retrains from the 100 TB text per workload — and the workload's
    // terms reach the postings scan as a pushed In filter, so the
    // sorted parquet's row-group stats prune to the workload slivers
    Seq("q131_lex_index_serve" -> "lex-", "q132_incremental_lex" -> "lex0-",
        "q133_lex_takedown" -> "lext-", "q134_lex_compact" -> "lexc-")
      .foreach { case (q, marker) =>
        val p = plan(graft.queries.LexIndex.queries(q)(spark, sfDir))
        assert(p.contains(marker), s"$q does not read the lexical index artifact")
        assert(!p.contains("documents.parquet"),
          s"$q rescans the documents table:\n" +
            p.split("\n").filter(_.contains("documents.parquet")).mkString("\n"))
        val postingScans = p.split("\n").filter(l =>
          l.contains("postings") && l.contains("PushedFilters"))
        assert(postingScans.nonEmpty && postingScans.forall(_.contains("In(term")),
          s"$q postings scan without a pushed term filter:\n${postingScans.mkString("\n")}")
      }
  }

  test("q87 serves the generation union: only query vectors come from the raw table") {
    // the incremental-index claim: after gen0 (train) and gen1 (ingest)
    // are published, SERVING reads stored codes + the stored codebook;
    // the embeddings table appears only for the 8 query vectors. A raw
    // corpus scan here would mean ingest quietly re-reads yesterday.
    val p = plan(graft.queries.Similarity.queries("q87_pq_index_ingest")(spark, sfDir))
    assert(p.contains("-inc"), "plan does not read the generational index artifact")
    val corpusScans = p.split("\n").filter(_.contains("embeddings.parquet"))
    assert(corpusScans.nonEmpty, "query vectors must come from the embeddings table")
    corpusScans.foreach { l =>
      assert(l.contains("vec_id") && (l.contains("< 8") || l.contains("LessThan(vec_id,8)")),
        s"embeddings scan without the query-vector bound:\n$l")
    }
  }

  test("q84 serves from the dedup index + staged shard: the corpus is never rescanned") {
    // the incremental-intake claim: after the offline build, a day's
    // shard is verdicted by joining the ARTIFACT (exact hashes + band
    // keys) and the staged shard files only — a documents-table scan in
    // the serving plan would mean the 100 TB corpus is re-read per batch
    val p = plan(graft.queries.IncrementalDedup.queries("q84_incremental_dedup")(spark, sfDir))
    assert(p.contains("dedup-"), "plan does not read the dedup index artifact")
    assert(!p.contains("documents.parquet"),
      "q84 rescans the documents table:\n" +
        p.split("\n").filter(_.contains("documents.parquet")).mkString("\n"))
  }

  test("q179 serves from the containment index + staged shard: the corpus is never rescanned") {
    // after the offline build, a shard doc's "am I subsumed?" question
    // is answered by the postings/sets/df artifact + the staged shard
    // files only — a documents scan would re-read the corpus per batch
    val p = plan(graft.queries.IncrementalContain.queries("q179_contain_intake")(spark, sfDir))
    assert(p.contains("contain-"), "plan does not read the containment index artifact")
    assert(!p.contains("documents.parquet"),
      "q179 rescans the documents table:\n" +
        p.split("\n").filter(_.contains("documents.parquet")).mkString("\n"))
  }

  test("q182/q183 containment lifecycle serves: the corpus is never rescanned") {
    // q182's redaction is q179's serve + one broadcast tombstone join;
    // q183's retention serve unions per-era generations — in BOTH the
    // generation builds are publish-gated (markers exist after the
    // first run), so the registered queries' plans must read artifacts
    // and the staged shard only. A documents scan would mean a takedown
    // or a TTL window re-reads the 100 TB corpus per serve.
    for ((name, marker) <- Seq("q182_contain_takedown" -> "contain-tomb-",
                               "q183_contain_retention" -> "contain-gen")) {
      val p = plan(graft.queries.IncrementalContain.queries(name)(spark, sfDir))
      assert(p.contains(marker), s"$name plan does not read its artifact ($marker)")
      assert(!p.contains("documents.parquet"),
        s"$name rescans the documents table:\n" +
          p.split("\n").filter(_.contains("documents.parquet")).mkString("\n"))
    }
  }

  test("q188/q189 serve from the graph-ANN index + staged queries: embeddings never rescanned") {
    // the eighth family's no-rescan contract: after the marker-gated
    // build/stage/ingest, the serving plan reads the gann artifact and
    // the staged query file only — an embeddings scan would re-read the
    // 100 TB vector store per query batch (the walk's whole point is
    // that it touches ≤ E + R·B·M artifact rows per query)
    for (name <- Seq("q188_gann_intake", "q189_gann_takedown",
                     "q190_gann_retention", "q191_gann_compact")) {
      val p = plan(graft.queries.IncrementalGraphAnn.queries(name)(spark, sfDir))
      assert(p.contains("gann-"), s"$name plan does not read the gann artifact")
      assert(!p.contains("embeddings.parquet"),
        s"$name rescans the embeddings table:\n" +
          p.split("\n").filter(_.contains("embeddings.parquet")).mkString("\n"))
    }
  }

  test("q101 serves from the media index + staged shard: the corpus is never rescanned or re-decoded") {
    // the media-intake claim: after the offline build (which pays the
    // corpus decode ONCE), a day's media shard is verdicted by decoding
    // the SHARD payloads and joining the artifact only — a documents
    // scan in the serving plan would re-read (and re-decode) the corpus
    // per batch, the exact cost the artifact exists to amortize
    val p = plan(graft.queries.IncrementalMediaDedup
      .queries("q101_incremental_media_dedup")(spark, sfDir))
    assert(p.contains("media-"), "plan does not read the media index artifact")
    assert(!p.contains("documents.parquet"),
      "q101 rescans the documents table:\n" +
        p.split("\n").filter(_.contains("documents.parquet")).mkString("\n"))
  }

  test("q102 serves from the prepare artifact + staged shard: the corpus is never rescanned") {
    // the prepare-intake claim: a day's shard is stripped against the
    // FROZEN segdf artifact and verdicted against the persisted hash
    // state — a documents scan (or a corpus-wide df re-aggregation)
    // in the serving plan would re-pay the offline prepare per batch
    val p = plan(graft.queries.IncrementalPrepare
      .queries("q102_incremental_prepare")(spark, sfDir))
    assert(p.contains("prep-"), "plan does not read the prepare artifact")
    assert(!p.contains("documents.parquet"),
      "q102 rescans the documents table:\n" +
        p.split("\n").filter(_.contains("documents.parquet")).mkString("\n"))
  }

  test("q128 serves from the pack artifact + staged shard: corpus tokens are never re-exploded") {
    // the pack-intake claim: a day's shard packs at the FROZEN offset
    // read from the one-row state artifact and unions the frozen
    // sequence hashes — a documents scan in the serving plan would mean
    // the 100 TB token stream is re-exploded per daily append
    val p = plan(graft.queries.IncrementalPack
      .queries("q128_incremental_pack")(spark, sfDir))
    assert(p.contains("pack3-"), "plan does not read the pack artifact")
    assert(!p.contains("documents.parquet"),
      "q128 rescans the documents table:\n" +
        p.split("\n").filter(_.contains("documents.parquet")).mkString("\n"))
  }

  test("q139 prices a removal request from the artifact roster: corpus never re-read") {
    // the pack-takedown claim: the audit joins the bare request ids
    // against the artifact's docspans/ roster and the frozen seqs/ ids
    // — a documents scan would mean pricing a takedown re-reads the
    // 100 TB corpus; re-exploding a sequence would mean it re-packs one
    val p = plan(graft.queries.IncrementalPack
      .queries("q139_pack_takedown_audit")(spark, sfDir))
    assert(p.contains("docspans"), "plan does not read the docspans roster")
    assert(!p.contains("documents.parquet"),
      "q139 rescans the documents table:\n" +
        p.split("\n").filter(_.contains("documents.parquet")).mkString("\n"))
  }

  test("q145 pad-rewrite: untouched rows served from the artifact, corpus read broadcast-gated") {
    // the rewrite claim: hole positions come from the docspans roster's
    // offset arithmetic (removed content never read) and the only
    // corpus input is the overlapping survivors' text, joined against a
    // BROADCAST request-derived set — a shuffle of the documents table
    // would mean a takedown rewrite re-keys the 100 TB corpus
    val p = plan(graft.queries.IncrementalPack
      .queries("q145_pack_pad_rewrite")(spark, sfDir))
    assert(p.contains("pack3-") && p.contains("docspans"),
      "plan does not serve from the pack artifact + roster")
    val docScans = p.split("\n").filter(s =>
      s.contains("FileScan") && s.contains("documents.parquet"))
    assert(docScans.length == 1, // the overlapping survivors' text, nothing else
      s"unexpected documents scans:\n${docScans.mkString("\n")}")
  }

  test("q146 repack: artifact prefix never re-exploded, one suffix-survivor corpus read") {
    // the repack claim: sequences before the first hit are served as
    // stored hash rows (re-exploding them would re-pay the corpus pack
    // below the cut); the rebuilt suffix reads the survivors' text once
    val p = plan(graft.queries.IncrementalPack
      .queries("q146_pack_repack")(spark, sfDir))
    assert(p.contains("pack3-") && p.contains("docspans"),
      "plan does not serve from the pack artifact + roster")
    val docScans = p.split("\n").filter(s =>
      s.contains("FileScan") && s.contains("documents.parquet"))
    assert(docScans.length == 1, // the suffix survivors' text, nothing else
      s"unexpected documents scans:\n${docScans.mkString("\n")}")
  }

  test("q148 pad fold serves from the generation artifact alone: zero documents scans") {
    // the fold already paid the rewrite; SERVING a padded generation is
    // pure artifact reads (the empty-shard corpus relation folds to an
    // empty LocalRelation) — a documents scan here would mean the serve
    // path re-derives what the generation persisted
    val p = plan(graft.queries.IncrementalPack
      .queries("q148_pack_pad_fold")(spark, sfDir))
    assert(p.contains("pack3pad-"), "plan does not serve from the folded generation")
    val docScans = p.split("\n").filter(s =>
      s.contains("FileScan") && s.contains("documents.parquet"))
    assert(docScans.isEmpty,
      s"unexpected documents scans:\n${docScans.mkString("\n")}")
  }

  test("q149 decides the takedown branch from roster+state arithmetic: zero documents scans") {
    // the gate's whole point: pick pad vs repack BEFORE paying for any
    // rewrite — a corpus read here would mean the decision costs what
    // it is trying to avoid
    val p = plan(graft.queries.IncrementalPack
      .queries("q149_takedown_branch_gate")(spark, sfDir))
    assert(p.contains("docspans"), "plan does not price from the roster")
    val docScans = p.split("\n").filter(s =>
      s.contains("FileScan") && s.contains("documents.parquet"))
    assert(docScans.isEmpty,
      s"unexpected documents scans:\n${docScans.mkString("\n")}")
  }

  test("q140 prices the request from artifact rosters only: no raw-table scan") {
    // the ledger's claim: compliance pricing reads doclens/postings,
    // the code roster, and docspans/seqs/state — never the corpus or
    // the embeddings (the q133/q136/q139 discipline, audited end-to-end)
    val p = plan(graft.queries.Takedown.queries("q140_takedown_ledger")(spark, sfDir))
    assert(p.contains("docspans") && p.contains("doclens"),
      "ledger plan does not read the family rosters")
    Seq("documents.parquet", "embeddings.parquet").foreach { t =>
      assert(!p.contains(t), s"q140 rescans $t:\n" +
        p.split("\n").filter(_.contains(t)).mkString("\n"))
    }
  }

  test("q151 attribution resolves positions from the roster, corpus read once broadcast-gated") {
    // the provenance claim: the position→doc mapping is the docspans
    // roster's offset arithmetic (broadcast range join — the roster is
    // never shuffled against the request), and the raw corpus is read
    // exactly ONCE, joined against the bounded hit set as a broadcast
    // build side, to fetch the attributed tokens
    val p = plan(graft.queries.IncrementalPack
      .queries("q151_pack_provenance")(spark, sfDir))
    assert(p.contains("docspans"), "plan does not read the docspans roster")
    val docScans = p.split("\n").filter(s =>
      s.contains("FileScan") && s.contains("documents.parquet"))
    assert(docScans.length == 1,
      s"corpus must be scanned exactly once (token fetch), got ${docScans.length}:\n" +
        docScans.mkString("\n"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "request/hit joins are not broadcast-shaped")
    assert(!p.contains("SortMergeJoin"),
      "a bounded request fell back to a corpus-shuffling SMJ")
  }

  test("q155 phrase serve reads the positional artifact only, terms pushed to the scan") {
    // the positional-index claim: the serve never re-reads text (the
    // artifact IS the corpus for phrase queries) and each adjacency
    // branch's term literal reaches the parquet scan as a pushed filter
    val p = plan(graft.queries.LexIndex.queries("q155_phrase_index")(spark, sfDir))
    assert(p.contains("phr-"), "plan does not read the phrase artifact")
    assert(!p.contains("documents.parquet"),
      "q155 rescans the documents table:\n" +
        p.split("\n").filter(_.contains("documents.parquet")).mkString("\n"))
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(term.*"),
      "phrase terms not pushed to the positions scan:\n" +
        "PushedFilters:.*".r.findAllIn(p).take(3).mkString("\n"))
  }

  test("q161 decontamination strips via a semi-join against eval keys: zero WindowExec") {
    // q150's geometry with membership instead of first-occurrence: the
    // eval window keys arrive through a LEFT-SEMI join on the uniform
    // wkey (never a broadcast — the eval slice is Heaps-unbounded at
    // 100 TB), and no step windows the corpus
    val p = plan(graft.queries.Dedup.queries("q161_decontam_strip")(spark, sfDir))
    assert(!p.contains("WindowExec"), "q161 plan contains a window")
    assert(p.contains("LeftSemi"), "eval-key membership is not a semi-join:\n" + p.take(1500))
  }

  test("q157 intake serve reads positional generations only: corpus never rescanned") {
    // the additive-intake claim, phrase edition: after gen-0 builds,
    // serving the generation union touches only positions/ files —
    // a documents scan in the serve plan would mean every daily serve
    // re-reads the 100 TB corpus
    val p = plan(graft.queries.LexIndex.queries("q157_phrase_intake")(spark, sfDir))
    assert(p.contains("phr0-") && p.contains("phr1-"),
      "plan does not union the positional generations")
    assert(!p.contains("documents.parquet"),
      "q157 rescans the documents table:\n" +
        p.split("\n").filter(_.contains("documents.parquet")).mkString("\n"))
  }

  test("q33 bucket membership is count-pruned and collected with the capped aggregate") {
    // the round-8 shape: a codegen'd count aggregation prunes singleton/
    // over-cap band keys BEFORE any member buffer is built, and the
    // surviving buckets collect through graft_collect_capped (bounded
    // buffers via ObjectHashAggregate). A regression to a bare
    // collect_list over all band keys shuffles a buffer per singleton —
    // the sf1-measured 3x — and loses the skew memory bound.
    val p = plan(graft.queries.Dedup.queries("q33_minhash_lsh")(spark, sfDir))
    assert(p.contains("graft_collect_capped"), "capped collect missing from the physical plan")
    assert(!p.contains("collect_list"), "bucket membership regressed to unbounded collect_list")
    assert(p.contains("ObjectHashAggregate"), "capped collect not running under ObjectHashAggregate")
    // the count-prune pass survives as a codegen'd count over (band, bandkey)
    assert("""(?s)HashAggregate.*count\(1\)""".r.findFirstIn(p).isDefined,
      "count-prune pass missing before the member collect")
  }

  test("q32 kills candidates inside the prefix join, not in a downstream shuffle") {
    // the round-9 shape: on a small-shingle-universe corpus the prefix
    // filter's candidate pairs grow ~quadratically (measured 6.0M at
    // sf0.1 -> 612.7M at sf1), so the exact early-exit overlap test must
    // run INSIDE the self-join's condition — dropping it to a
    // post-join filter re-materializes the quadratic pair stream into
    // the distinct and the verification joins (the sf1-measured 5.7x).
    val p = plan(graft.queries.Dedup.queries("q32_ngram_jaccard")(spark, sfDir))
    // join strategy varies with what the planner knows (SMJ cold; BHJ
    // once the cached prefix relation's true size is available), so
    // assert placement, not strategy: the predicate must sit on a Join
    // line and never on a post-join Filter line
    val lines = p.split("\n").filter(_.contains("graft_overlap_reaches"))
    assert(lines.nonEmpty && lines.forall(_.contains("Join")),
      "graft_overlap_reaches is not (only) in a join condition:\n" + lines.mkString("\n"))
  }

  test("q85 probes the bloom below the contamination join, not after it") {
    // the serving-twin contract's plan half: the four bit probes must
    // sit in a Filter UPSTREAM of the train/eval equi-join, so at scale
    // the training trigram stream dies map-side before its exchange. A
    // regression that evaluates the probe above the join (or drops it)
    // re-shuffles the full stream and q85 degenerates to q51 plus
    // overhead.
    val p = graft.queries.Curation.queries("q85_bloom_decontaminate")(spark, sfDir)
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.Inner
    def isProbe(n: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      n.expressions.exists(e =>
        e.toString.contains("xxhash64") && e.toString.contains("element_at"))
    // topmost INNER join = the train/eval tok join (the bloom ships on a
    // broadcast CROSS join below it)
    val joinFound = p.collectFirst { case j: Join if j.joinType == Inner => j }
    assert(joinFound.isDefined, "train/eval join missing from the plan")
    assert(joinFound.get.children.exists(_.collectFirst {
        case n if isProbe(n) => n }.isDefined),
      "bloom bit probe is not below the contamination join:\n" + p.treeString.take(4000))
    // and nothing above the join re-evaluates it (the probe must not
    // migrate to a post-join position)
    assert(!isProbe(p) && p.collect { case n if isProbe(n) => n }
      .forall(n => joinFound.get.collectFirst { case m if m eq n => m }.isDefined),
      "bloom probe found above the contamination join")
  }

  test("q68 has no corpus-wide rank window on the K cluster ids") {
    // the round-6 scale-killer: row_number over partitionBy(cid) ordered
    // by dist2 funnels the whole corpus into K=8 sort partitions. The
    // exact-selection rewrite may only window over the bounded histogram
    // (order bkt), the target buckets (partition cid+bkt), or the tie
    // group (order vec_id) — never partition [cid] ordered by dist2.
    val p = plan(graft.queries.Similarity.queries("q68_embed_outliers")(spark, sfDir))
    assert(!"""windowspecdefinition\(cid#\d+L?, dist2#""".r.findFirstIn(p).isDefined,
      s"q68 regressed to a corpus rank window partitioned by cid:\n" +
        p.split("\n").filter(_.contains("windowspecdefinition")).mkString("\n"))
  }
}
