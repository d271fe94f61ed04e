package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types.{LongType, StructType}

/** The one protocol every persisted serving artifact goes through — the
  * dedup, media, prepare, pack, lexical, containment, graph-ANN and PQ
  * indexes and the curation verdicts: where artifacts live ([[root]]),
  * how a path is keyed ([[key]]), how an artifact is built once and
  * published so a replay is a no-op ([[publish]]), how a removal
  * request becomes a tombstone generation ([[tombstone]]) and how a
  * serve reads the live generations back ([[tombstoned]]). Each family
  * keeps its own key derivation (what its paths fingerprint) and its
  * own layout (what a generation holds).
  *
  * Artifacts live on whatever FileSystem the root maps to — HDFS, S3A
  * or local — through the Hadoop FileSystem API, never java.io.File: at
  * 100 TB an index is cluster storage, and the marker-last /
  * atomic-publish guarantees must hold there, not just on a local disk. */
object Artifacts {

  /** The artifact root: `SPARK_GRAFT_INDEX_DIR` (the deployment knob,
    * mirroring SPARK_GRAFT_SF_DIR), then the `graft.index.dir` system
    * property (the test override), then a local tmp directory. */
  def root: String =
    sys.env.get("SPARK_GRAFT_INDEX_DIR")
      .orElse(sys.props.get("graft.index.dir"))
      .getOrElse(s"${System.getProperty("java.io.tmpdir")}/graft_dedup_index")

  /** A path key: the first 12 hex digits of the md5 of `x`. */
  def key(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  private def complete(fs: FileSystem, p: Path): Boolean =
    fs.exists(new Path(p, "_COMPLETE"))

  /** Build the artifact at `path` once and return `path`. A path that
    * already carries its marker is returned as is, without calling
    * `write`; otherwise `write` fills a private temp directory (its
    * argument) and the temp is published:
    *  - The temp is a per-call, dot-prefixed sibling of `path`: two
    *    concurrent builders never write into one directory, and a temp
    *    is invisible to parquet listings.
    *  - The `_COMPLETE` marker is written LAST inside the temp, before
    *    the rename. On stores where rename is a copy (S3 without a
    *    committer) a half-published artifact then still lacks its
    *    marker, and it is rebuilt, never served.
    *  - A half-built squatter at `path` (it exists but has no marker: a
    *    crashed build from before temps, or manual damage) is evicted
    *    BEFORE the rename, because a Hadoop rename onto an existing
    *    directory moves the source INTO it instead of failing.
    *  - If a concurrent builder wins the race to the rename, its
    *    artifact is kept and ours is dropped: a path is keyed by its
    *    inputs, so both builds hold the same deterministic content.
    *  - The temp never outlives the call: it is deleted when `write`
    *    throws (the failure is rethrown) and when a racing rename moved
    *    it inside the winner. */
  def publish(s: SparkSession, path: String)(write: String => Unit): String = {
    val dst = new Path(path)
    val fs = dst.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!complete(fs, dst)) {
      val tmp = new Path(dst.getParent,
        s".${dst.getName}.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
      try {
        write(tmp.toString)
        fs.create(new Path(tmp, "_COMPLETE"), true).close() // marker LAST
        fs.mkdirs(dst.getParent)
        if (fs.exists(dst) && !complete(fs, dst)) fs.delete(dst, true)
        if (!fs.exists(dst) && !fs.rename(tmp, dst) && !complete(fs, dst))
          throw new IllegalStateException(s"could not publish artifact at $path")
      } finally {
        fs.delete(tmp, true)
        fs.delete(new Path(dst, tmp.getName), true)
      }
      if (!complete(fs, dst))
        throw new IllegalStateException(s"artifact at $path incomplete after publish")
    }
    path
  }

  /** Publish a removal request as a tombstone generation and return its
    * path. `roster` is the index's own one-column id relation; its
    * column (`doc_id` or `vec_id`) keys the request and the written
    * `ids/`. The request is priced against the roster, so unknown ids
    * drop and the tombstone records exactly what it removes; the raw
    * corpus is never read. The path is `base` plus a digest of the
    * priced ids: two different requests against one base never meet at
    * one marker (the second would otherwise serve the first one's ids),
    * and a replayed request lands on its own tombstone again. A request
    * is broadcast-small by contract, so the one collect that prices it
    * is control-plane work. */
  def tombstone(s: SparkSession, roster: DataFrame, ids: DataFrame, base: String): String = {
    val k = roster.columns.head
    val priced = roster.join(broadcast(ids.select(k)), k).distinct()
      .collect().map(_.getLong(0)).sorted
    publish(s, s"$base-${key(priced.mkString(","))}") { tmp =>
      s.createDataFrame(s.sparkContext.parallelize(priced.toIndexedSeq.map(Row(_)), 1),
          new StructType().add(k, LongType, nullable = false))
        .write.mode("overwrite").parquet(s"$tmp/ids")
    }
  }

  /** The read half of [[tombstone]]: the ids the generations at `paths`
    * remove, as the distinct union of their `ids/` (overlapping requests
    * may name one id twice, and a doubled id would duplicate every row
    * a left join matches to it), or None when no generation is live. */
  def tombstoned(s: SparkSession, paths: Seq[String]): Option[DataFrame] =
    paths.map(t => s.read.parquet(s"$t/ids")).reduceOption(_ unionByName _).map(_.distinct())
}
