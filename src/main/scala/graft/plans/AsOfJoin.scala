package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** As-of join as a first-class operator: logical node → planner
  * strategy → physical merge (SURVEY.md §2.5 / the (c) tier of the
  * custom-operator preference order).
  *
  * Semantics: for every left row, the single right row with the same
  * key and the greatest right-time <= left-time (inner: left rows with
  * no such right row are dropped) — DuckDB's `ASOF JOIN`, which is
  * exactly what the driver oracle checks it against.
  *
  * Physical strategy: both sides hash-cluster on the key and sort by
  * (key, time) — the same machinery as a sort-merge join — then one
  * linear merge per partition with O(1) state (the latest matching
  * right row). No build-side materialization, no per-key buffering, so
  * it scales to arbitrarily large sides; skew only concentrates on a
  * hot key the way any keyed shuffle does.
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)) ::
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) :: Nil

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lKey = BindReferences.bindReference(leftKey, left.output)
    val lTime = BindReferences.bindReference(leftTime, left.output)
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTime = BindReferences.bindReference(rightTime, right.output)
    val outputAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(outputAttrs, outputAttrs)
      val rBuf = rIter.buffered
      // the latest right row whose (key, time) <= the current left
      // (key, time); right rows arrive sorted, so a single held copy
      // is all the state the merge needs
      var heldKey = 0L
      var heldTime = 0L
      var held: InternalRow = null
      val joined = new JoinedRow
      lIter.flatMap { lRow =>
        val k = lKey.eval(lRow).asInstanceOf[Long]
        val t = lTime.eval(lRow).asInstanceOf[Long]
        // advance the right side up to (k, t)
        var continue = true
        while (continue && rBuf.hasNext) {
          val head = rBuf.head
          val hk = rKey.eval(head).asInstanceOf[Long]
          val ht = rTime.eval(head).asInstanceOf[Long]
          if (hk < k || (hk == k && ht <= t)) {
            heldKey = hk; heldTime = ht; held = rBuf.next().copy()
          } else continue = false
        }
        if (held != null && heldKey == k && heldTime <= t) {
          Iterator.single(proj(joined(lRow, held)))
        } else Iterator.empty
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object GraftStrategies extends SparkStrategy {
  /** Idempotent registration into `experimental.extraStrategies`.
    * The naive check-then-append is not atomic — two threads issuing
    * their first graft join concurrently could double-register the
    * strategy — so both per-query helpers route through this
    * synchronized door. It is the only registration path: the two
    * helpers are the only builders of [[AsOfJoin]] and [[RangeJoin]].
    */
  def ensureRegistered(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.contains(GraftStrategies)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ GraftStrategies
    }
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case RangeJoin(l, r, lt, rs, re) =>
      RangeJoinExec(planLater(l), planLater(r), lt, rs, re) :: Nil
    case _ => Nil
  }
}

object AsOf {
  /** As-of join two DataFrames on an equi-key and a long-typed time
    * column (right columns keep their names; key/time types must be
    * BIGINT — the events nanos convention).
    */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String): DataFrame = {
    val spark = left.sparkSession
    GraftStrategies.ensureRegistered(spark)
    val node = AsOfJoin(
      GraftSqlBridge.analyzedPlan(left), GraftSqlBridge.analyzedPlan(right),
      GraftSqlBridge.expression(left(leftKey)),
      GraftSqlBridge.expression(right(rightKey)),
      GraftSqlBridge.expression(left(leftTime)),
      GraftSqlBridge.expression(right(rightTime)))
    GraftSqlBridge.ofRows(spark, node)
  }
}
