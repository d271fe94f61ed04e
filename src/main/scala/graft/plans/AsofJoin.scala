package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Whole-operator extension (SURVEY §7.3 preference order (c)): a native
  * AS-OF JOIN — logical node, planner strategy, and sort-merge physical
  * operator, injected via `SparkSessionExtensions` (GraftExtensions).
  *
  * Semantics: for every left row, attach the right row with the greatest
  * (ts, tiebreak) strictly below the left row's ts within the same key —
  * the kdb+/QuestDB/Flink-temporal-join contract, and exactly what the
  * composed union+window formulation (queries.Temporal q57) computes.
  * Unmatched left rows emit nulls on the right (left-outer as-of).
  *
  * Physical shape (the 100 TB plan): EnsureRequirements sees the
  * operator's required distribution (cluster both sides by key) and
  * ordering (key, ts, tiebreak), so Catalyst inserts the one hash
  * exchange + per-partition sort each side needs; the operator itself is
  * then a single streaming merge pass per partition holding ONE retained
  * right row — no row multiplication, no buffering beyond the current
  * match, no range-join explosion. This is the plan the union+window
  * formulation approximates with a windowed union; natively, the right
  * side's columns need no null-padded union schema and the merge needs
  * no window state machine.
  *
  * Keys and timestamp are int64 expressions (ids/epoch-µs — the
  * catalog's convention); composite keys are first-class — pass N key
  * expressions per side and the merge compares them lexicographically,
  * matching DuckDB's multi-key ASOF contract.
  */
case class AsofJoinPlan(left: LogicalPlan, right: LogicalPlan,
                        leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                        leftTs: Expression, rightTs: Expression,
                        rightTie: Expression) extends BinaryNode {
  require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
    s"as-of join needs matching key lists, got ${leftKeys.length} vs ${rightKeys.length}")
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

class AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lts, rts, rtie) =>
      AsofJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, rtie) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                        leftTs: Expression, rightTs: Expression,
                        rightTie: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // cluster both sides on the full key list; EnsureRequirements inserts
  // the exchanges. requireAllClusterKeys pins the partitioning to ALL
  // keys (a child pre-partitioned on a key PREFIX would technically
  // satisfy a plain ClusteredDistribution while the other side hashes
  // every key — misaligned copartitioning, silently wrong merges), and
  // pinning requiredNumPartitions keeps AQE from coalescing the two
  // shuffles to different partition counts (the merge zips partitions
  // pairwise, so the counts must match exactly — SMJ gets this
  // coordination from AQE's join handling, a custom node must ask)
  private val numParts =
    org.apache.spark.sql.internal.SQLConf.get.numShufflePartitions
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys, requireAllClusterKeys = true,
      requiredNumPartitions = Some(numParts)) ::
    ClusteredDistribution(rightKeys, requireAllClusterKeys = true,
      requiredNumPartitions = Some(numParts)) :: Nil

  // per-partition merge order: (keys…, ts) on the left; (keys…, ts, tie)
  // on the right so the last-retained row among equal timestamps is the
  // max-tiebreak one — deterministic on duplicated right timestamps
  private def asc(e: Expression) =
    SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(asc) :+ asc(leftTs),
    rightKeys.map(asc) ++ Seq(asc(rightTs), asc(rightTie)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lk = leftKeys; val rk = rightKeys; val lts = leftTs; val rts = rightTs
    val nk = leftKeys.length
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lkEval = UnsafeProjection.create(lk, leftOut)
      val rkEval = UnsafeProjection.create(rk, rightOut)
      val ltsEval = UnsafeProjection.create(Seq(lts), leftOut)
      val rtsEval = UnsafeProjection.create(Seq(rts), rightOut)
      val out = UnsafeProjection.create((leftOut ++ rightOut).map(_.dataType).toArray)
      val nullRight = new GenericInternalRow(rightOut.length)
      val joined = new JoinedRow

      val rBuf = rIter.buffered
      val curKey = new Array[Long](nk)
      var haveKey = false
      var latest: InternalRow = null

      // lexicographic compare of an evaluated key row against curKey
      def cmpCur(row: InternalRow): Int = {
        var i = 0
        while (i < nk) {
          val v = row.getLong(i)
          if (v != curKey(i)) return if (v < curKey(i)) -1 else 1
          i += 1
        }
        0
      }

      def advanceRight(ts: Long): Unit = {
        // consume every right row with (rKeys, rTs) < (curKey, ts) in
        // the merge order; the last one matching THIS key is the as-of
        // match (right is tie-ordered, so equal-ts duplicates resolve to
        // the max tiebreak). Rows for earlier keys drain — their lefts
        // have already passed.
        while (rBuf.hasNext && {
          val c = cmpCur(rkEval(rBuf.head))
          c < 0 || (c == 0 && rtsEval(rBuf.head).getLong(0) < ts)
        }) {
          val row = rBuf.next()
          if (cmpCur(rkEval(row)) == 0) latest = row.copy()
        }
      }

      lIter.map { lrow =>
        val key = lkEval(lrow)
        if (!haveKey || cmpCur(key) != 0) {
          var i = 0
          while (i < nk) { curKey(i) = key.getLong(i); i += 1 }
          haveKey = true
          latest = null
        }
        advanceRight(ltsEval(lrow).getLong(0))
        out(joined(lrow, if (latest != null) latest else nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level API for the native operator.
  *
  * Preconditions: key/ts columns are non-null int64 (null reads as 0 in
  * the unsafe accessor — filter nulls upstream if the domain has them),
  * and the two inputs must be separately-analyzed DataFrames (distinct
  * expression ids; any two `Tables.*` reads or `.select` chains are —
  * only literally passing one DataFrame object as both sides would
  * collide, as with any hand-built logical self-join). */
object AsofJoin {
  /** Composite-key form: N key columns per side, compared positionally. */
  def apply(spark: SparkSession,
            left: org.apache.spark.sql.DataFrame, right: org.apache.spark.sql.DataFrame,
            leftKeys: Seq[String], rightKeys: Seq[String],
            leftTs: String, rightTs: String, rightTie: String): org.apache.spark.sql.DataFrame = {
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def res(p: LogicalPlan, n: String): Expression =
      p.output.find(_.name == n).getOrElse(sys.error(s"column $n not found"))
    org.apache.spark.sql.graftshim.Shim.ofRows(spark, AsofJoinPlan(lp, rp,
      leftKeys.map(res(lp, _)), rightKeys.map(res(rp, _)),
      res(lp, leftTs), res(rp, rightTs), res(rp, rightTie)))
  }

  def apply(spark: SparkSession,
            left: org.apache.spark.sql.DataFrame, right: org.apache.spark.sql.DataFrame,
            leftKey: String, rightKey: String,
            leftTs: String, rightTs: String, rightTie: String): org.apache.spark.sql.DataFrame =
    apply(spark, left, right, Seq(leftKey), Seq(rightKey), leftTs, rightTs, rightTie)
}
