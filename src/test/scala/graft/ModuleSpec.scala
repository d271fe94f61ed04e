package graft

/** Contract invariants for every registered query module. */
class ModuleSpec extends SparkTestBase {

  test("every oracle key has a queries entry") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle-only keys: ${o -- q}")
  }

  test("query names are unique across modules") {
    // flatMap(_.queries).toMap silently drops duplicates; catch collisions.
    val mods = Seq(queries.Relational, queries.Analytics, queries.IncrementalQueries,
      queries.Dedup, queries.Similarity, queries.TextPipeline)
    val all = mods.flatMap(_.queries.keys)
    assert(all.distinct.sizeIs == all.size,
      s"duplicate names: ${all.diff(all.distinct).distinct}")
  }

  test("all queries run on sf0.001 and are non-degenerate") {
    val empty = Seq("q18_position_label") // sf0.001 may not satisfy its n%6 guard
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val n = df.count()
      assert(n >= 0, s"$name failed")
      if (!empty.contains(name)) assert(n > 0, s"$name returned 0 rows at sf0.001")
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("the artifact protocol exists once: marker literal and md5 keys only in graft.Artifacts") {
    // a second publish, marker check or path key would fork the protocol
    // that every serving family shares; md5 digests outside Artifacts are
    // row-level hashing (signatures, tokens, media hashes), counted per
    // file so a new one has to be named here
    val rowHashing = Map(
      "graft/Artifacts.scala" -> 1,             // Artifacts.key
      "graft/functions/Multimodal.scala" -> 2,  // media content hashes
      "graft/queries/Corpus.scala" -> 1,        // md5Hex / md5Int60 per row
      "graft/queries/Similarity.scala" -> 2,    // SimHash / JL plane signs
      "graft/queries/TextPipeline.scala" -> 2,  // BPE / unigram token hashes
      "graft/streaming/Streams.scala" -> 2)     // streaming twins of the above
    def count(text: String, needle: String) =
      java.util.regex.Pattern.quote(needle).r.findAllMatchIn(text).size
    val found = mainSources.map { case (f, text) =>
      (f, count(text, "\"_COMPLETE\""), count(text, "MessageDigest.getInstance(\"MD5\")"))
    }
    val markers = found.collect { case (f, n, _) if n > 0 => f }
    assert(markers == Seq("graft/Artifacts.scala"), s"_COMPLETE literal outside Artifacts: $markers")
    val md5 = found.collect { case (f, _, n) if n > 0 => f -> n }.toMap
    assert(md5 == rowHashing, s"MD5 digests differ from the named uses: $md5")
  }

  test("the two-phase prefix sum exists once: exclusive running windows only in graft.PrefixSum") {
    // a hand-written bucket-offset window would fork PrefixSum's
    // cardinality argument; the one other exclusive frame is q57's as-of
    // last() window, which is not a sum
    val exclusive = "rowsBetween\\(\\s*Window\\.unboundedPreceding\\s*,\\s*-1\\s*\\)".r
    val partitionLess = "Window\\s*\\.\\s*orderBy\\(".r
    def counts(re: scala.util.matching.Regex) = mainSources
      .map { case (f, text) => f -> re.findAllMatchIn(text).size }
      .filter(_._2 > 0).toMap
    assert(counts(exclusive) == Map("graft/PrefixSum.scala" -> 2,
      "graft/queries/Temporal.scala" -> 1), // q57's as-of window
      s"exclusive running windows outside PrefixSum: ${counts(exclusive)}")
    assert(counts(partitionLess).keySet.subsetOf(Set("graft/PrefixSum.scala")),
      s"partition-less Window.orderBy outside PrefixSum: ${counts(partitionLess)}")
  }

  test("the intake fixture exists once: split arithmetic and ShardBase only in Intake, ids/ reads only in Artifacts") {
    // a family restating the corpus/arrival split, the takedown request
    // or the re-key base forks the fixture every family shares; the
    // oracle SQL spells the split with <>/= and is not matched here
    def counts(re: String) = mainSources
      .map { case (f, text) => f -> re.r.findAllMatchIn(text).size }
      .filter(_._2 > 0).toMap
    val intake = Map("graft/queries/Intake.scala" -> 1)
    Seq("%\\s*5\\s*=!=\\s*4", "%\\s*5\\s*===\\s*4", "%\\s*7\\s*===\\s*3", "val\\s+ShardBase\\b")
      .foreach(re => assert(counts(re) == intake, s"/$re/ outside Intake: ${counts(re)}"))
    // the tombstone protocol's ids/: Artifacts writes (tombstone) and
    // reads (tombstoned) it; LexIndex's two takedowns write their own
    assert(counts("/ids\"") == Map("graft/Artifacts.scala" -> 2,
      "graft/queries/LexIndex.scala" -> 2), s"ids/ outside Artifacts: ${counts("/ids\"")}")
  }

  /** (path relative to src/main/scala, text) of every main source file. */
  private def mainSources: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root), s"no main sources at $root")
    import scala.jdk.CollectionConverters._
    val sources = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 50, s"source scan found only ${sources.size} files")
    sources.map(f => root.relativize(f).toString ->
      new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
  }
}
