package graft.api

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import graft.Tables

/** The interactive query API surface (reference eda_query.py:260-277
  * `edc_main`/`teg_main` → `Queryedc.glass_history` / `glass_data` /
  * `Queryteg.glass_raw_data`, queries in dbs/auto.py:19-200). A user of
  * the reference's Python functions calls these instead; the 200-thread
  * and 50-process scatter-gather pools (eda_query.py:24,83) disappear —
  * each call is one declarative join pipeline and Spark tasks supply the
  * parallelism.
  *
  * Mapped onto the shared testdata star schema: glass → customer key,
  * history → orders, detail → lineitem. Against a real warehouse the
  * same pipelines run over `spark.read.jdbc` sources unchanged.
  *
  * Edge sort: every call ends in ONE single-partition sort
  * (`repartition(1).sortWithinPartitions`), not `orderBy`. A global
  * `orderBy` plans a range-partitioned exchange whose partitioner first
  * runs a sampling job that rescans the whole joined input; an answer
  * here is bounded by the request and `collect` gathers it on one node
  * anyway, so sorting it in one partition samples nothing and costs one
  * request-sized exchange. (A caller that turns an answer into a large
  * relation should sort it itself.)
  */
object QueryApi {

  /** The edge sort described above. */
  private def edgeSort(cols: String*)(df: DataFrame): DataFrame =
    df.repartition(1).sortWithinPartitions(cols.map(col): _*)

  /** `df` without a trailing edge sort, for a call that joins another
    * call's answer: a join ignores its inputs' order and partitioning,
    * and the edge sort's single-partition exchange would otherwise stay
    * under the join as one more request-sized shuffle and job. Any
    * other plan is returned as it is. */
  private def withoutEdgeSort(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case Sort(_, false, Repartition(1, true, child), _) => Shim.ofRows(df.sparkSession, child)
    case _ => df
  }

  /** glass_history (reference eda_query.py:164-171, dbs/auto.py:19-38):
    * per-id history rows, time-ordered — the driving keyed lookup. `ids`
    * is a one-column DataFrame (from Sources.idList or any relation);
    * the fan-out of one point query per id becomes a single broadcast
    * semi-join. */
  def glassHistory(s: SparkSession, dir: String, ids: DataFrame): DataFrame = {
    val keyed = ids.toDF("custkey")
    Tables.orders(s, dir)
      .join(broadcast(keyed), col("o_custkey") === col("custkey"), "left_semi")
      .select(col("o_custkey").as("glass_id"), col("o_orderkey").as("step_id"),
              col("o_orderdate").as("glass_start_time"), col("o_orderpriority"))
      .transform(edgeSort("glass_id", "glass_start_time", "step_id"))
  }

  /** The reference's typed miss signal (dbs/auto.py:13, raised at :37
    * when a history lookup returns no rows). A distributed lookup can't
    * raise per-id mid-plan, so the primary surface is [[missingIds]];
    * this exception is the strict-caller adapter over it. `glassIds`
    * are the missing non-null ids in order; `nullId` says the request
    * also held a null id, which the message names first (where
    * [[missingIds]] sorts it). */
  final case class GlassDoesNotExist(glassIds: Seq[Long], nullId: Boolean = false)
    extends IllegalArgumentException(
      s"(type=${((if (nullId) Seq("null") else Nil) ++ glassIds.map(_.toString)).mkString(",")})")

  /** The miss surface of [[glassHistory]] (reference GlassDoesNotExist,
    * dbs/auto.py:13,37): the requested ids with NO history row, as a
    * relation — the K8 dead-letter shape, so a caller routes misses to
    * an error sink (or checks them) instead of getting silence on a
    * typo'd id. `glassHistory(ids)`'s key set and `missingIds(ids)`
    * partition the request: every requested id appears in exactly one.
    *
    * Shape: ONE aggregation. The requested keys (hit = false) and the
    * keys of ONE broadcast semi pass over orders (the same probe
    * glassHistory runs; hit = true) are unioned, gathered into the
    * edge sort's single partition, grouped by key, and the keys whose
    * max(hit) is false are the misses. Orders is never shuffled, only
    * the request and its hit rows are, and the aggregation needs no
    * exchange of its own. A null id matches no order, so it is reported
    * as missing (first, in the sort). */
  def missingIds(s: SparkSession, dir: String, ids: DataFrame): DataFrame = {
    val keyed = ids.toDF("custkey")
    val hit = Tables.orders(s, dir)
      .join(broadcast(keyed), col("o_custkey") === col("custkey"), "left_semi")
      .select(col("o_custkey").as("custkey"), lit(true).as("hit"))
    keyed.select(col("custkey"), lit(false).as("hit")).unionByName(hit)
      .repartition(1)
      .groupBy(col("custkey").as("glass_id")).agg(max(col("hit")).as("hit"))
      .filter(!col("hit")).select("glass_id")
      .sortWithinPartitions("glass_id")
  }

  /** [[glassHistory]] with the reference's raise-on-miss contract: any
    * requested id absent from history throws [[GlassDoesNotExist]]
    * naming ALL missing ids (the relational check is request-bounded —
    * the one collect is over [[missingIds]], never over history). */
  def glassHistoryStrict(s: SparkSession, dir: String, ids: DataFrame): DataFrame = {
    val miss = missingIds(s, dir, ids).collect().toSeq
    if (miss.nonEmpty)
      throw GlassDoesNotExist(miss.filterNot(_.isNullAt(0)).map(_.getLong(0)),
        nullId = miss.exists(_.isNullAt(0)))
    glassHistory(s, dir, ids)
  }

  /** glass_data (reference eda_query.py:174-187, dbs/auto.py:41-62): the
    * per-(glass, step, start_time) detail lookup — the 50-process pool
    * becomes one equi-join from the history relation (joined without
    * its edge sort when it is a [[glassHistory]] answer). */
  def glassData(s: SparkSession, dir: String, history: DataFrame): DataFrame = {
    Tables.lineitem(s, dir)
      .join(withoutEdgeSort(history).select(col("step_id"), col("glass_id"), col("glass_start_time")),
        col("l_orderkey") === col("step_id"))
      .select(col("glass_id"), col("step_id"), col("glass_start_time"),
              col("l_linenumber").as("site"), col("l_quantity").as("param_value"))
      .transform(edgeSort("glass_id", "step_id", "site"))
  }

  /** glass_raw_data with the caller-selectable physical strategy flag
    * (reference `subquery=True/False`, eda_query.py:216-231, D3):
    *  - `subquery = true`  → the IN-subquery phrasing
    *    (`o_custkey IN (SELECT custkey FROM ids)`, built with
    *    `Column.isin(Dataset)`; Catalyst decorrelates it);
    *  - `subquery = false` → the hand-decorrelated semi-join.
    * Both produce the same relation — the reference's own timing harness
    * cross-checked exactly this, and ApiSpec keeps doing so. */
  def glassRawData(s: SparkSession, dir: String, ids: DataFrame,
                   subquery: Boolean): DataFrame =
    if (subquery)
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .where(col("o_custkey").isin(ids.toDF("custkey")))
        .select(col("o_custkey").as("glass_id"), col("l_orderkey").as("step_id"),
                col("l_linenumber").as("site"), col("l_quantity").as("param_value"))
        .transform(edgeSort("glass_id", "step_id", "site"))
    else glassRawDataFrom(Tables.lineitem(s, dir), Tables.orders(s, dir), ids)

  /** Source-agnostic form of the decorrelated pipeline: the same program
    * over ANY lineitem/orders relations — parquet in tests,
    * `spark.read.jdbc` against a warehouse (JdbcSpec proves the swap:
    * identical results, predicates pushed into the JDBC scan). This is
    * the substance behind "JDBC-swappable": the pipeline never names its
    * storage. */
  def glassRawDataFrom(lineitem: DataFrame, orders: DataFrame, ids: DataFrame): DataFrame = {
    val keyed = ids.toDF("custkey")
    lineitem
      .join(orders.join(broadcast(keyed),
          col("o_custkey") === col("custkey"), "left_semi"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("glass_id"), col("l_orderkey").as("step_id"),
              col("l_linenumber").as("site"), col("l_quantity").as("param_value"))
      .transform(edgeSort("glass_id", "step_id", "site"))
  }

  /** The map-shaped result the reference's API hands back
    * ({glass_id → rows}, eda_query.py:71) — only materialize this
    * grouping at the API edge, and only when the caller genuinely wants
    * a per-key collection. */
  def grouped(df: DataFrame, key: String): Dataset[(Long, Seq[String])] = {
    import df.sparkSession.implicits._
    df.select(col(key).cast("long"), to_json(struct(df.columns.map(col): _*)))
      .as[(Long, String)]
      .groupByKey(_._1)
      .mapGroups((k, it) => (k, it.map(_._2).toSeq))
  }
}
