package graft

import graft.queries.Similarity
import org.apache.hadoop.fs.Path

/** q87's contracts the DuckDB oracle cannot see: the generational
  * artifact layout (root knob, marker-last publish per generation),
  * ingest idempotency (a replayed batch is a storage no-op), and the
  * no-retrain guarantee (rebuilding gen1 never touches gen0). */
class IncrementalIndexSpec extends SparkTestBase {

  test("incremental index: generations partition the corpus, replay is a storage no-op") {
    withIndexRoot { root =>
      val want = SparkEntry.queries("q87_pq_index_ingest")(spark, sfDir).collect().toSeq
      assert(want.nonEmpty)
      val gen0 = s"${Similarity.incIndexRoot(spark, sfDir)}/gen0"
      val gen1 = s"${Similarity.incIndexRoot(spark, sfDir)}/gen1"
      assert(gen0.startsWith(root), s"index at $gen0 ignores configured root")
      val hfs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      def marker(g: String) = hfs.getFileStatus(new Path(s"$g/_COMPLETE")).getModificationTime
      val (m0, m1) = (marker(gen0), marker(gen1))
      // the two generations are disjoint and together cover the corpus
      def vecIds(g: String) = spark.read.parquet(s"$g/codes")
        .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
      val (v0, v1) = (vecIds(gen0), vecIds(gen1))
      assert(v1.nonEmpty, "fixture batch is empty — contract untestable")
      assert(v0.intersect(v1).isEmpty, "a vector is coded in both generations")
      val all = Tables.embeddings(spark, sfDir)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(v0.union(v1) == all, "generations do not cover the corpus")
      // replay: same rows, no artifact rewrite (markers untouched)
      val again = SparkEntry.queries("q87_pq_index_ingest")(spark, sfDir).collect().toSeq
      assert(again == want, "replayed ingest changed the served result")
      assert(marker(gen0) == m0 && marker(gen1) == m1,
        "replay republished an already-complete generation")
    }
  }

  test("two vector takedown requests on one chain publish two tombstones, each with its own priced ids") {
    // a tombstone keyed only by its base path would let the second
    // request find the first one's marker and serve its stale ids
    withIndexRoot { _ =>
      import org.apache.spark.sql.functions.col
      val gen1 = Similarity.ingestIncBatch(spark, sfDir)
      val gens = Seq(s"${Similarity.incIndexRoot(spark, sfDir)}/gen0", gen1)
      val roster = gens.map(g => spark.read.parquet(s"$g/codes").select("vec_id"))
        .reduce(_ unionByName _).distinct()
      val base = s"${Similarity.incIndexRoot(spark, sfDir)}/tomb"
      def ids(t: String) = spark.read.parquet(s"$t/ids").collect().map(_.getLong(0)).toSet
      def want(m: Int) = roster.filter(col("vec_id") % 7 === m)
        .collect().map(_.getLong(0)).toSet
      val t1 = Similarity.pqTakedown(spark, roster.filter(col("vec_id") % 7 === 3), gens, base)
      val t2 = Similarity.pqTakedown(spark, roster.filter(col("vec_id") % 7 === 5), gens, base)
      assert(want(3).nonEmpty && want(5).nonEmpty, "fixture requests are empty — test vacuous")
      assert(ids(t1) == want(3), "first tombstone does not hold the first request")
      assert(ids(t2) == want(5), "second request served the first request's tombstone")
      // replaying the first request lands on its own tombstone again
      assert(Similarity.pqTakedown(spark,
        roster.filter(col("vec_id") % 7 === 3), gens, base) == t1)
    }
  }

  test("a takedown against the COMPACTED vector artifact composes: compaction is invisible to later lifecycle ops") {
    // the lexical family's claim (LexIndexSpec), vector edition: after
    // a tombstone is physically folded in, a later request that
    // RE-LISTS the compacted-away ids prices only the ids still in the
    // roster — no tombPaths plumbing needed, the compacted codes ARE
    // the clean roster
    withIndexRoot { root =>
      import org.apache.spark.sql.functions.{broadcast, col}
      val compact = Similarity.compactInc2(spark, sfDir)
      val codes0 = spark.read.parquet(s"$compact/codes").drop("gen")
      val roster = codes0.select("vec_id").distinct()
      val t1 = Similarity.pqTakedown(spark,
        roster.filter(col("vec_id") % 4 === 1), Seq(compact), s"$root/t1")
      val c2 = Similarity.compactChain(spark, Seq(compact), Seq(t1), s"$root/c2")
      val t2 = Similarity.pqTakedown(spark,
        roster.filter(col("vec_id") % 4 === 1 || col("vec_id") % 8 === 2),
        Seq(c2), s"$root/t2")
      val t2ids = spark.read.parquet(s"$t2/ids").collect().map(_.getLong(0)).toSet
      assert(t2ids.nonEmpty && t2ids.forall(i => i % 8 == 2 && i % 4 != 1),
        s"takedown against the compacted artifact re-priced compacted-away ids: $t2ids")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
      val served = rows(Similarity.serveAdc(spark, sfDir,
        spark.read.parquet(s"$c2/codebook"),
        spark.read.parquet(s"$c2/codes").drop("gen")
          .join(broadcast(spark.read.parquet(s"$t2/ids")), Seq("vec_id"), "left_anti")))
      val want = rows(Similarity.serveAdc(spark, sfDir,
        spark.read.parquet(s"$compact/codebook"),
        codes0.filter(col("vec_id") % 4 =!= 1 && col("vec_id") % 8 =!= 2)))
      assert(served.nonEmpty && served == want,
        "post-compaction takedown serve drifted from the direct survivor serve")
    }
  }

  test("two-batch chain: ingest twice, compact once — serving identical before/after, compaction idempotent") {
    withIndexRoot { _ =>
      val compact = Similarity.compactInc2(spark, sfDir)
      val root = Similarity.inc2IndexRoot(spark, sfDir)
      val hfs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      // the three generations partition the corpus
      def vecIds(codes: org.apache.spark.sql.DataFrame) =
        codes.select("vec_id").distinct().collect().map(_.getLong(0)).toSet
      val gens = (0 to 2).map(i => vecIds(spark.read.parquet(s"$root/gen$i/codes")))
      assert(gens.forall(_.nonEmpty))
      assert(gens.combinations(2).forall { case Seq(a, b) => a.intersect(b).isEmpty },
        "a vector is coded in two generations")
      val all = Tables.embeddings(spark, sfDir)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(gens.reduce(_ union _) == all, "generations do not cover the corpus")
      // the compact artifact holds the same codes with their provenance
      val compCodes = spark.read.parquet(s"$compact/codes")
      (0 to 2).foreach { i =>
        assert(vecIds(compCodes.filter(org.apache.spark.sql.functions.col("gen") === i)) == gens(i),
          s"compacted gen=$i provenance does not match generation $i")
      }
      // SERVE-IDENTICAL: the q64 ADC contract over the chain union vs
      // the single compacted pair — compaction must be invisible to
      // serving
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
      val before = rows(Similarity.serveAdc(spark, sfDir,
        spark.read.parquet(s"$root/gen0/codebook"),
        (0 to 2).map(i => spark.read.parquet(s"$root/gen$i/codes")).reduce(_ unionByName _)))
      val after = rows(Similarity.serveAdc(spark, sfDir,
        spark.read.parquet(s"$compact/codebook"), compCodes.drop("gen")))
      assert(before.nonEmpty && after == before,
        "compaction changed what serving returns")
      // idempotent re-compaction: markers untouched
      def marker(p: String) = hfs.getFileStatus(
        new Path(s"$p/_COMPLETE")).getModificationTime
      val marks = ((0 to 2).map(i => s"$root/gen$i") :+ compact).map(marker)
      assert(Similarity.compactInc2(spark, sfDir) == compact)
      assert(((0 to 2).map(i => s"$root/gen$i") :+ compact).map(marker) == marks,
        "re-compaction republished an already-complete artifact")
      // the retrain gate is non-vacuous on this corpus: geometric and
      // staleness criteria hold, the distortion criterion honestly
      // TRIPS (one Lloyd step leaves >50% residual energy here) — the
      // gate emits a real retrain verdict, not a rubber stamp
      val gate = SparkEntry.queries("q124_pq_compact_gate")(spark, sfDir).collect()
        .map(r => r.getString(0) -> r.getBoolean(3)).toMap
      assert(gate("codeword_util_min_ppm") && gate("stale_code_ppm")
        && gate("top_code_share_max_ppm"))
      assert(!gate("distortion_ppm"),
        "fixture distortion unexpectedly under threshold — gate case lost its teeth")
    }
  }

  test("pq takedown: serve equals encoding only the survivors; compaction physically drops them") {
    import org.apache.spark.sql.functions._
    withIndexRoot { _ =>
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
      val served = rows(SparkEntry.queries("q136_pq_takedown")(spark, sfDir))
      val root = Similarity.incIndexRoot(spark, sfDir)
      // the tombstone priced exactly the roster's % 7 = 3 slice; its
      // path is the base plus a digest of the priced ids, and q136
      // publishes exactly one
      val hfs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      val tombs = hfs.globStatus(new Path(s"$root/tomb-*")).toSeq.map(_.getPath.toString)
      assert(tombs.size == 1, s"expected one tombstone under $root: $tombs")
      val tombIds = spark.read.parquet(s"${tombs.head}/ids")
        .collect().map(_.getLong(0)).toSet
      val all = Tables.embeddings(spark, sfDir)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(tombIds.nonEmpty && tombIds == all.filter(_ % 7 == 3),
        s"tombstone ids drifted from the request: $tombIds")
      // NEVER-SAW-THEM equality: encode ONLY the survivors with the
      // same frozen codebook — per-vector ADC independence means the
      // anti-join serve must match it exactly
      val codebook = spark.read.parquet(s"$root/gen0/codebook")
      val fresh = rows(Similarity.serveAdc(spark, sfDir, codebook,
        Similarity.encodeWith(
          Tables.embeddings(spark, sfDir).filter(col("vec_id") % 7 =!= 3), codebook)))
      assert(served == fresh,
        "takedown serve differs from an index that never coded the removed vectors")
      // q137: compaction is serve-invisible and PHYSICALLY drops the codes
      val comp = rows(SparkEntry.queries("q137_pq_takedown_compact")(spark, sfDir))
      assert(comp == served, "compacted serve differs from the tombstone serve")
      val compCodes = spark.read.parquet(s"$root/tombcompact/codes")
      assert(compCodes.filter(col("vec_id") % 7 === 3).count() == 0L,
        "compaction left tombstoned codes in the artifact")
      // provenance (gen column) survives the fold, survivors only
      val genIds = compCodes.select("vec_id", "gen").distinct().collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(genIds.keySet == all.filter(_ % 7 != 3), "compacted roster != survivors")
      assert(genIds.values.toSet == Set(0, 1), "generation provenance lost in compaction")
    }
  }

  test("incremental index: a damaged gen1 is rebuilt identically without touching gen0") {
    withIndexRoot { _ =>
      val want = SparkEntry.queries("q87_pq_index_ingest")(spark, sfDir).collect().toSeq
      val gen0 = s"${Similarity.incIndexRoot(spark, sfDir)}/gen0"
      val gen1 = s"${Similarity.incIndexRoot(spark, sfDir)}/gen1"
      val hfs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      def codes(g: String) = spark.read.parquet(s"$g/codes").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val c1 = codes(gen1)
      val m0 = hfs.getFileStatus(new Path(s"$gen0/_COMPLETE")).getModificationTime
      // sabotage: marker-less gen1 must be rebuilt, never served
      hfs.delete(new Path(s"$gen1/_COMPLETE"), false)
      val rebuilt = SparkEntry.queries("q87_pq_index_ingest")(spark, sfDir).collect().toSeq
      assert(rebuilt == want, "marker-less gen1 was served instead of rebuilt")
      assert(hfs.exists(new Path(s"$gen1/_COMPLETE")), "rebuild did not republish gen1")
      assert(codes(gen1) == c1, "rebuilt gen1 codes differ — encoding is not deterministic")
      assert(hfs.getFileStatus(new Path(s"$gen0/_COMPLETE")).getModificationTime == m0,
        "rebuilding gen1 republished gen0 — ingest retrained the base generation")
    }
  }

  test("q167 retention serve drops every retired-era vector and audits resurfacing against the full serve") {
    withIndexRoot { _ =>
      val got = SparkEntry.queries("q167_pq_retention")(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
          if (r.isNullAt(4)) -1 else r.getInt(4), r.getBoolean(5))).toSeq
      assert(got.nonEmpty)
      // (a) retirement enforced: no even (era-0) vector serves
      assert(got.forall(_._2 % 2 == 1),
        s"retired era-0 vector in the windowed serve: ${got.filter(_._2 % 2 == 0)}")
      // (b) audit bits against the full-history serve (q79: era0 ∪ era1
      // is exactly the full code set under the same frozen codebook)
      val full = SparkEntry.queries("q79_pq_index_search")(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getInt(3))).toMap
      got.foreach { r =>
        val hit = full.get((r._1, r._2))
        assert(r._6 == hit.isEmpty, s"resurfaced bit wrong: $r")
        assert(r._5 == hit.map(_._2).getOrElse(-1), s"rank_full wrong: $r vs $hit")
        // adist is era-independent (same codebook, same stored code)
        hit.foreach { case (ad, _) => assert(ad == r._3, s"adist drifted: $r vs $hit") }
      }
      // (c) replay is bit-identical (artifact reuse, deterministic serve)
      val again = SparkEntry.queries("q167_pq_retention")(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
          if (r.isNullAt(4)) -1 else r.getInt(4), r.getBoolean(5))).toSeq
      assert(got == again, "q167 replay differs — retention serve is not deterministic")
    }
  }
}
