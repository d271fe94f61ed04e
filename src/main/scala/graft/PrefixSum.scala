package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The two-phase prefix sum: a running sum or rank in (bucket, order)
  * order within each partition, over a corpus-sized relation, without
  * funnelling that relation through one sort partition.
  *
  * Phase one is a window inside each (partition, bucket). Phase two is
  * an exclusive running window over the per-(partition, bucket) totals,
  * broadcast-joined back as each bucket's offset. The result equals one
  * plain window `partitionBy(partition).orderBy(bucket ++ order)`; the
  * DuckDB oracles compute exactly that, so the hash gate cross-checks
  * the two formulations.
  *
  * Two facts every caller relies on:
  *  - CARDINALITY. The offset window sees one row per (partition,
  *    bucket), and without a partition it is the plan's one
  *    partition-less window. The caller's bucket must therefore bound
  *    that relation independently of corpus size (a value domain, a
  *    fixed number of hash-range buckets, or corpus/1000 id ranges),
  *    and each call site names its bound in one line. Buckets order
  *    ascending, so a caller whose order is descending buckets on a
  *    negated key.
  *  - COST. The input is referenced twice (the within-bucket window and
  *    the bucket totals), so an expensive scan embedded in it is paid
  *    twice: run the sum over a narrow relation and join wide columns
  *    in downstream.
  *
  * A null partition key is its own group, as in the plain window.
  * Bucket keys must be non-null; a row with a null bucket is dropped. */
object PrefixSum {

  /** `df` plus, for each `(measure, name)`, column `name`: the sum of
    * `measure` over every earlier row of the partition in
    * (bucket, order) order, 0 when there is none (null measures add
    * nothing). */
  def running(df: DataFrame, partition: Seq[String], bucket: Seq[String],
              order: Seq[Column], measures: (Column, String)*): DataFrame = {
    val before = within(partition, bucket).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val inBucket = df.select(col("*") +: measures.map { case (m, name) =>
      coalesce(sum(m).over(before), lit(0L)).as(name) }: _*)
    withOffsets(inBucket, df, partition, bucket, measures.map(m => sum(m._1)))
      .withColumns(measures.zipWithIndex.map { case ((_, name), i) =>
        name -> (col(name) + col(s"_ps_off$i")) }.toMap)
      .drop(measures.indices.map(i => s"_ps_off$i"): _*)
  }

  /** `df` plus column `as`: each row's 1-based position within its
    * partition in (bucket, order) order; `order` must be a total order
    * within a bucket. With `cap`, buckets that start at or past
    * position `cap` are dropped before the rank window runs. */
  def positions(df: DataFrame, partition: Seq[String], bucket: Seq[String],
                order: Seq[Column], as: String, cap: Option[Long] = None): DataFrame = {
    val rank = row_number().over(within(partition, bucket).orderBy(order: _*))
    val placed = cap match {
      case None => withOffsets(df.withColumn(as, rank), df, partition, bucket, Seq(count(lit(1))))
      case Some(m) => withOffsets(df, df, partition, bucket, Seq(count(lit(1))),
        keep = col("_ps_off0") < m).withColumn(as, rank)
    }
    placed.withColumn(as, col("_ps_off0") + col(as)).drop("_ps_off0")
  }

  private def within(partition: Seq[String], bucket: Seq[String]): WindowSpec =
    Window.partitionBy((partition ++ bucket).map(col): _*)

  /** `rows` joined with column `_ps_off<i>`: the sum of `totals(i)` over
    * the earlier buckets of the row's partition in `from`, the relation
    * `rows` derives from. Only buckets whose offsets satisfy `keep`
    * join back. The partition keys travel as one struct: struct
    * equality holds between null fields, so a null key joins its own
    * offsets, and the join stays an equi-join on the grouping columns,
    * whose uniqueness Spark's size estimate for the join relies on. */
  private def withOffsets(rows: DataFrame, from: DataFrame, partition: Seq[String],
                          bucket: Seq[String], totals: Seq[Column],
                          keep: Column = lit(true)): DataFrame = {
    val pkey = if (partition.isEmpty) Nil else Seq(struct(partition.map(col): _*) -> "_ps_p")
    val keys = pkey ++ bucket.map(k => col(k) -> s"_ps_$k")
    val ahead = Window.partitionBy(pkey.map(k => col(k._2)): _*)
      .orderBy(bucket.map(k => col(s"_ps_$k")): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val named = totals.zipWithIndex.map { case (t, i) => t.as(s"_ps_tot$i") }
    val offsets = from.groupBy(keys.map { case (c, k) => c.as(k) }: _*)
      .agg(named.head, named.tail: _*)
      .select(keys.map(k => col(k._2)) ++ totals.indices.map(i =>
        coalesce(sum(col(s"_ps_tot$i")).over(ahead), lit(0L)).as(s"_ps_off$i")): _*)
      .filter(keep)
    rows.join(broadcast(offsets), keys.map { case (c, k) => c === col(k) }.reduce(_ && _))
      .drop(keys.map(_._2): _*)
  }
}
