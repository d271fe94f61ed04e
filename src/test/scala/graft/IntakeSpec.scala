package graft

import org.apache.spark.sql.Row

/** The re-key guard of the shard families: a documents table whose ids
  * would make a re-keyed shard id collide must refuse to build, naming
  * the family, instead of serving two verdict rows for one id. */
class IntakeSpec extends SparkTestBase {

  /** The families whose staged shard re-keys copies of documents rows. */
  private val shardFamilies = Seq(
    "q84_incremental_dedup"        -> "dedup",
    "q101_incremental_media_dedup" -> "media",
    "q102_incremental_prepare"     -> "prepare",
    "q179_contain_intake"          -> "contain")

  /** Three sf0.001 documents rows rewritten to `ids`, in a temp dir. */
  private def docsWithIds(ids: Long*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_intake").toFile.getAbsolutePath
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").orderBy("doc_id")
    val rows = docs.limit(ids.size).collect().toSeq.zip(ids)
      .map { case (r, id) => Row.fromSeq(id +: r.toSeq.tail) }
    assert(docs.columns.head == "doc_id" && rows.size == ids.size)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), docs.schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def assertRefuses(dir: String): Unit = withIndexRoot { _ =>
    shardFamilies.foreach { case (q, family) =>
      val e = withClue(s"$q: ") {
        intercept[IllegalArgumentException](SparkEntry.queries(q)(spark, dir).collect())
      }
      assert(e.getMessage.contains(s"$family intake"), s"$q refused without naming $family: $e")
    }
  }

  test("an arrival id at a re-key offset refuses: its double-submit copy would share its id") {
    // corpus = {0}; the +3·ShardBase copy of arrival 4 and the arrival
    // 3000004 itself would both land as shard doc_id 3000004
    assertRefuses(docsWithIds(0L, 4L, 3000004L))
  }

  test("a corpus id at or above ShardBase refuses") {
    assertRefuses(docsWithIds(0L, 4L, 1000000L))
  }
}
