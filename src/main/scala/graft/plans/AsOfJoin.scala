package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join (SURVEY.md §2 B20) as a whole-operator extension —
  * custom logical plan + strategy + physical operator, the (c) path of
  * the custom-operator ladder. Semantics: for every left row, attach
  * the LAST right row with the same key and `rightTime < leftTime`
  * (strictly before; the reference's point-in-time account-snapshot
  * shape, SURVEY.md §1.3), or nulls when none exists.
  *
  * Scale shape: both sides hash-partition on the key (co-partitioned by
  * EnsureRequirements) and sort within partitions by (key, time) — the
  * same machinery as a sort-merge join — then a single forward-only
  * merge pass per partition with O(1) state (one buffered right row).
  * No windowing, no row_number, no per-key buffering of the right side,
  * which is what makes this beat the join+rank formulation at scale.
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTime: Attribute, rightTime: Attribute,
    rightTie: Seq[Attribute])
  extends org.apache.spark.sql.catalyst.plans.logical.BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, tie) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tie) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTime: Attribute, rightTime: Attribute,
    rightTie: Seq[Attribute])
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) ::
      ClusteredDistribution(rightKey :: Nil) :: Nil

  // (key, time [, tiebreakers]) ascending on both sides; the merge keeps
  // the last qualifying right row, so tiebreakers make ties deterministic
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) ++
      rightTie.map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val rightArity = right.output.size
    val lkB = BindReferences.bindReference[Expression](leftKey, left.output)
    val ltB = BindReferences.bindReference[Expression](leftTime, left.output)
    val rkB = BindReferences.bindReference[Expression](rightKey, right.output)
    val rtB = BindReferences.bindReference[Expression](rightTime, right.output)
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val buffered = rIter.buffered
      val nullRow = new GenericInternalRow(rightArity)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      // O(1) merge state: the last right row consumed for the current key
      var lastMatch: InternalRow = null
      var lastMatchKey: Any = null
      lIter.map { l =>
        val lk = lkB.eval(l)
        val lt = ltB.eval(l)
        if (lk != null && lt != null) {
          var continue = true
          while (continue && buffered.hasNext) {
            val rk = rkB.eval(buffered.head)
            val cmp = if (rk == null) -1 else keyOrd.compare(rk, lk)
            if (cmp < 0) {
              buffered.next() // stale key (or null key): discard
            } else if (cmp == 0) {
              val rt = rtB.eval(buffered.head)
              if (rt == null) {
                buffered.next() // null time can never match: discard, don't halt
              } else if (timeOrd.compare(rt, lt) < 0) {
                lastMatch = buffered.next().copy()
                // re-evaluate the key against the COPIED row: the head
                // row's buffer is reused by the sorter, so a non-primitive
                // key (UTF8String, Decimal) evaluated from it would be
                // overwritten in place
                lastMatchKey = rkB.eval(lastMatch)
              } else continue = false
            } else continue = false
          }
        }
        val matched = lk != null && lastMatch != null &&
          lastMatchKey != null && keyOrd.compare(lastMatchKey, lk) == 0
        joined(l, if (matched) lastMatch else nullRow)
        proj(joined)
      }
    }
  }
}

/** Public API surface for the native operator. */
object AsOfJoinOps {

  /** Left as-of join `left` to the last `right` row strictly before it,
    * per key. Column names must be unambiguous across both inputs
    * (alias beforehand); `rightTieCols` pins deterministic choice among
    * equal right timestamps (last in ascending tie order wins).
    */
  def asofJoin(leftDf: DataFrame, rightDf: DataFrame,
               leftKeyCol: String, rightKeyCol: String,
               leftTimeCol: String, rightTimeCol: String,
               rightTieCols: Seq[String] = Nil): DataFrame = {
    val spark = leftDf.sparkSession
    val lPlan = leftDf.queryExecution.analyzed
    val rPlan = rightDf.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not found in ${p.output.map(_.name).mkString(",")}"))
    val plan = AsOfJoin(lPlan, rPlan,
      attr(lPlan, leftKeyCol), attr(rPlan, rightKeyCol),
      attr(lPlan, leftTimeCol), attr(rPlan, rightTimeCol),
      rightTieCols.map(attr(rPlan, _)))
    org.apache.spark.sql.graftbridge.DatasetBridge.ofRows(spark, plan)
  }
}
