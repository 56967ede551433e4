package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BindReferences, Expression, GenericInternalRow,
  JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Whole-operator Catalyst extension (the (c) rung of the
  * custom-operator ladder): a native backward as-of join as a first-
  * class plan node —
  *
  *   - [[AsofJoinPlan]]: resolved logical node,
  *   - [[AsofJoinStrategy]]: `SparkStrategy` planning it into
  *   - [[AsofJoinExec]]: physical operator that DECLARES its needs
  *     (hash distribution on the keys, (keys, time) sort order) and
  *     lets EnsureRequirements place the exchanges, then runs one
  *     streaming merge pass per partition: O(|L|+|R|) time, O(1)
  *     state (the single last-seen right row) — no window buffering,
  *     no payload structs.
  *
  * Semantics match [[graft.operators.Joins.asofJoin]] (left-outer,
  * greatest rightTime <= leftTime per key, NULL keys match nothing)
  * and are spec-checked equal on the fixture.
  *
  * Injection: [[graft.operators.Joins.asofJoinNative]] adds
  * [[AsofJoinStrategy]] to the session's `experimental.extraStrategies`
  * (idempotent) before planning.
  */
case class AsofJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    strict: Boolean,
    toleranceMicros: Option[Long] = None) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lt, rt, strict, tol) =>
      AsofJoinExec(lk, rk, lt, rt, strict, tol, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    strict: Boolean,
    toleranceMicros: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Both children hash-clustered on their keys — EnsureRequirements
    * inserts compatible exchanges (co-partitioning), exactly as it
    * does for sort-merge join. */
  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(leftKeys, requireAllClusterKeys = false, None),
    ClusteredDistribution(rightKeys, requireAllClusterKeys = false, None))

  /** (keys ASC NULLS FIRST, time ASC) on both sides — the merge leans
    * on nulls-first so null-keyed rows front-load and are skipped. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  override def outputPartitioning = left.outputPartitioning

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val strictLocal = strict
    val tolLocal = toleranceMicros
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val lTimeBound = BindReferences.bindReference(lTimeExpr, lOut)
      val rTimeBound = BindReferences.bindReference(rTimeExpr, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(
        lKeyExprs.map(_.dataType))
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.length)
      val rBuf = rIter.buffered

      // O(1) merge state: the last right row whose (key, time) was
      // admissible for the current left key. Tolerance does not change
      // the advance discipline — the best candidate is always the
      // greatest rightTime <= leftTime regardless of staleness — so it
      // is applied per EMISSION (lt varies per left row against the
      // same candidate), never at admission.
      var lastRight: InternalRow = null
      var lastRightKey: InternalRow = null
      var lastRightTime: Long = Long.MinValue

      lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val ltAny = lTimeBound.eval(lRow)
        if (lKey.anyNull || ltAny == null) {
          resultProj(joined(lRow, nullRight))
        } else {
          if (lastRight != null && keyOrd.compare(lastRightKey, lKey) != 0) {
            lastRight = null
          }
          val lt = ltAny.asInstanceOf[Long]
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val head = rBuf.head
            val rKey = rKeyProj(head)
            if (rKey.anyNull) { rBuf.next() } // nulls-first, never match
            else {
              val cmp = keyOrd.compare(rKey, lKey)
              if (cmp < 0) { rBuf.next() } // stale key, discard
              else if (cmp == 0) {
                val rtAny = rTimeBound.eval(head)
                if (rtAny == null) { rBuf.next() }
                else {
                  val rt = rtAny.asInstanceOf[Long]
                  if (if (strictLocal) rt < lt else rt <= lt) {
                    lastRight = rBuf.next().copy()
                    lastRightKey = lKey.copy()
                    lastRightTime = rt
                  } else advancing = false
                }
              } else advancing = false
            }
          }
          val matched = lastRight != null &&
            tolLocal.forall(tol => lt - lastRightTime <= tol)
          resultProj(joined(lRow, if (matched) lastRight else nullRight))
        }
      }
    }
  }
}
