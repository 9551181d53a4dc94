package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Whole-operator extension (build-guide preference (c)): a native as-of
  * join — for each left row, the most recent right row with
  * rightTs <= leftTs on the same key.
  *
  * Physical algorithm: both children are co-partitioned on the key and
  * sorted by (key, ts); each partition is then a SINGLE interleaved merge
  * pass holding exactly ONE candidate right row — no per-key buffers, no
  * window state, no range explosion. Compared to the union+window form
  * (ops.Joins.asofJoin) this skips the union and the window operator's
  * sort-buffer machinery; compared to an interval join it never
  * materializes (left x right-in-range) pairs.
  *
  * Typing: key must be LongType; ts is anything whose eval is a Long —
  * TimestampType or LongType (j17 passes negated epoch micros as a plain
  * Long to get the forward direction). Inner as-of: unmatched left rows
  * are dropped.
  *
  * Determinism: among right rows with the SAME (key, ts), the selected
  * match is the last in (rightTie ascending) order — i.e. the MAX tie
  * value — because the merge keeps the final candidate. Callers pick the
  * tie column to spell out the total order (j17: negated event_id, so
  * ties resolve to the smallest event_id, matching its oracle's
  * `ORDER BY p.ts, p.event_id`). Without a meaningful tie the result on
  * tied input would fall to merge order — nondeterministic.
  */
case class AsOfJoinNode(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    rightTie: Expression) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lts, rts, rtie) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, rtie) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    rightTie: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(Seq(leftKey)),
    ClusteredDistribution(Seq(rightKey)))

  // the tie column totalizes the right sort: the merge's last-candidate-
  // wins rule then deterministically selects the max tie among equal
  // (key, ts) rows
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending),
      SortOrder(rightTie, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lts = BindReferences.bindReference(leftTs, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rts = BindReferences.bindReference(rightTs, right.output)
    val schema = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val toUnsafe = UnsafeProjection.create(schema, schema)
      val joined = new JoinedRow
      new Iterator[InternalRow] {
        private var nextOut: InternalRow = null
        private var rNext: InternalRow = null        // lookahead right row
        private var lastMatch: InternalRow = null    // best right row so far
        private var lastMatchKey: Long = 0L

        // SQL join null semantics: a null key or timestamp on either side
        // never matches anything — such rows are skipped outright (they
        // sort first under Ascending/NULLS FIRST, so skipping on fetch
        // keeps the merge invariants intact).
        private def fetchRight(): Unit = {
          rNext = null
          while (rNext == null && rIter.hasNext) {
            val r = rIter.next()
            if (rk.eval(r) != null && rts.eval(r) != null) rNext = r
          }
        }
        fetchRight()

        private def advance(): Unit = {
          nextOut = null
          while (nextOut == null && lIter.hasNext) {
            val l = lIter.next()
            val keyV = lk.eval(l)
            val tsV = lts.eval(l)
            if (keyV != null && tsV != null) {
              val key = keyV.asInstanceOf[Long]
              val ts = tsV.asInstanceOf[Long]
              // consume right rows that are candidates for this left row
              var go = rNext != null
              while (go) {
                val rKey = rk.eval(rNext).asInstanceOf[Long]
                if (rKey < key ||
                    (rKey == key && rts.eval(rNext).asInstanceOf[Long] <= ts)) {
                  lastMatch = rNext.copy()
                  lastMatchKey = rKey
                  fetchRight()
                  go = rNext != null
                } else go = false
              }
              if (lastMatch != null && lastMatchKey == key)
                nextOut = toUnsafe(joined(l, lastMatch))
            }
          }
        }

        override def hasNext: Boolean = {
          if (nextOut == null) advance()
          nextOut != null
        }

        override def next(): InternalRow = {
          if (nextOut == null) advance()
          val r = nextOut
          nextOut = null
          r
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level entry point. Registers the strategy on first use
  * (idempotent). */
object AsOf {
  /** `rightTie` (optional): right-side column that breaks (key, ts) ties
    * deterministically — the selected match is the MAX tie among tied
    * rows. Defaults to the ts column itself (i.e. no extra tie-break,
    * fine when (key, ts) is unique on the right). */
  def join(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String,
      rightTie: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    // custom nodes bypass the analyzer's join-side dedup, so shared-lineage
    // inputs would alias the same exprIds on both sides; re-aliasing the
    // right columns mints fresh attributes ("__r" suffix in the output)
    val rightFresh = right.select(
      right.columns.map(c => col(c).as(c + "__r")).toIndexedSeq: _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = rightFresh.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String) = p.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no column $n"))
    org.apache.spark.sql.GraftColumnBridge.ofRows(spark,
      AsOfJoinNode(lPlan, rPlan,
        attr(lPlan, key), attr(rPlan, key + "__r"),
        attr(lPlan, leftTs), attr(rPlan, rightTs + "__r"),
        attr(rPlan, rightTie.getOrElse(rightTs) + "__r")))
  }
}
