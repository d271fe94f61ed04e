package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Artifacts, Tables}

/** The intake fixture every serving family shares (reference anchor:
  * the watermark-driven incremental contract of nikon_ETL.py:425-499,
  * where only the new slice meets persisted state). One deterministic
  * split of the raw tables' ids stands in for a deployment's days:
  *
  *  - [[corpus]] (`id % 5 <> 4`) is what the offline build indexes;
  *    [[arrivals]] (`id % 5 = 4`) are the day's genuinely new pages.
  *  - The staged [[shard]] mixes the arrivals with re-crawls of corpus
  *    pages ([[recrawled]], re-keyed +1·[[ShardBase]] and +2·ShardBase)
  *    and a double-submitted slice of the arrivals ([[resubmitted]],
  *    re-keyed +3·ShardBase).
  *  - Retention splits by [[era]] parity; a takedown asks for the ids
  *    that are [[requested]] (`id % 7 = 3`).
  *
  * Each family declares only what it serves from that fixture: its
  * schema, its key and its verdict. The oracles restate the same split
  * in SQL on their own; they are the independent reference. */
object Intake {

  /** Shard re-key base: a day's re-keyed ids land above every source
    * id, making append order = doc_id order and additivity by
    * disjointness true by construction ([[assertRekeyDisjoint]]). */
  val ShardBase = 1000000L

  /** Fail-loud guard for the re-key disjointness precondition. Every
    * intake family's correctness contract (q84's verdict precedence,
    * q128's append order, q132's df/N additivity) rests on re-keyed
    * ids landing ABOVE every id of `docs`, the relation the arms draw
    * from: a corpus id ≥ [[ShardBase]] collides with a re-keyed copy,
    * and so does an un-re-keyed arrival such as 3000004, which shares
    * its id with the +3·ShardBase copy of arrival 4. Called inside a
    * build's publish, so it prices ONE bounded agg per published build
    * and nothing on the serve path. */
  private[graft] def assertRekeyDisjoint(docs: DataFrame, family: String): Unit = {
    val mx = docs.agg(max(col("doc_id"))).head()
    if (!mx.isNullAt(0))
      require(mx.getLong(0) < ShardBase,
        s"$family intake: max doc_id ${mx.getLong(0)} >= ShardBase $ShardBase — " +
          "re-keyed shard ids would collide with source ids; raise the re-key base")
  }

  /** Same staleness contract as the PQ index: an artifact key folds in
    * the documents table's [[Tables.fingerprint]], so a regenerated
    * corpus under the same path keys to a fresh index. Metadata only. */
  private[graft] def dataFingerprint(s: SparkSession, dir: String): String =
    Artifacts.key(s"$dir#dedup#${Tables.fingerprint(s, s"$dir/documents.parquet")}")

  def corpus(id: Column): Column = id % 5 =!= 4
  def arrivals(id: Column): Column = id % 5 === 4
  def recrawled(id: Column): Column = id % 10 === 0
  def resubmitted(id: Column): Column = id % 20 === 4
  def era(id: Column, e: Int): Column = id % 2 === e
  def requested(id: Column): Column = id % 7 === 3

  /** `docs` with `doc_id` moved up by `k`·[[ShardBase]], every other
    * column carried through in place. */
  def rekey(docs: DataFrame, k: Int): DataFrame =
    docs.withColumn("doc_id", col("doc_id") + k * ShardBase)

  /** The day's four-arm intake mix drawn from `docs`: arrivals as they
    * are, re-crawls re-keyed twice (exact corpus dups), double-submits
    * re-keyed once (within-shard dups). Non-id columns ride along. */
  def shard(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    docs.filter(arrivals(id))
      .unionByName(rekey(docs.filter(recrawled(id)), 1))
      .unionByName(rekey(docs.filter(recrawled(id)), 2))
      .unionByName(rekey(docs.filter(resubmitted(id)), 3))
  }

  /** The redaction serve of the citing families: `cite` nulls where the
    * cited id is tombstoned; the verdict and keep stay untouched (the
    * content stays blocked — that is the policy), the column order is
    * `verdicts`' own and rows come back in doc_id order. */
  def redacted(s: SparkSession, verdicts: DataFrame, cite: String,
               tombPaths: Seq[String]): DataFrame =
    Artifacts.tombstoned(s, tombPaths).fold(verdicts) { ids =>
      val dead = ids.select(col("doc_id").as(cite), lit(true).as("redact"))
      verdicts.join(broadcast(dead), Seq(cite), "left")
        .select(verdicts.columns.toIndexedSeq.map(c =>
          if (c != cite) col(c)
          else when(col("redact").isNotNull, lit(null).cast("long")).otherwise(col(c)).as(c)): _*)
        .orderBy("doc_id")
    }
}
