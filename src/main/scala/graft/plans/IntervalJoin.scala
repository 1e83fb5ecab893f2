package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.Bridge

/** Native interval (range) join: every left row pairs with the right
  * rows that share its key and whose interval contains the left time —
  * rightStart ≤ leftTime < rightEnd (inner semantics). The
  * end-EXCLUSIVE bound is intentional and per-operator: half-open
  * intervals are the natural tiling form (adjacent intervals never
  * double-match a boundary point). The G5 stream twin
  * (Events.clickToPurchase*) is deliberately end-INCLUSIVE (≤ +1h) —
  * each form matches its own oracle; do not "unify" them.
  *
  * Second instance of the whole-operator path ((c) in the build
  * rules), sibling of [[AsOfJoinPlan]]: LogicalPlan node → Strategy
  * (injected via GraftExtensions) → SparkPlan running a per-partition
  * interval sweep. Both children are hash-clustered on the key and
  * sorted — left by (key, time), right by (key, start) — so one
  * forward pass with a small "active intervals" buffer joins each
  * partition in O(|left| + |right| + matches): a right row is buffered
  * once when the sweep reaches its start, expired once when the sweep
  * passes its end, and the buffer holds only the intervals OVERLAPPING
  * the current left time (bounded by per-key interval overlap, never
  * by corpus size). The declarative alternatives either cross-product
  * per key (time-inequality join) or explode one bucket row per day
  * (the B30 composition); this streams.
  *
  * EnsureRequirements inserts the exchanges/sorts from the declared
  * distribution contract, so AQE and skew handling still apply.
  */
case class IntervalJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightStart: Expression,
    rightEnd: Expression) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): LogicalPlan =
    copy(left = l, right = r)
}

/** Planner rule: IntervalJoinPlan → IntervalJoinExec. */
object IntervalJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IntervalJoinPlan(l, r, lk, rk, lt, rs, re) =>
      IntervalJoinExec(planLater(l), planLater(r), lk, rk, lt, rs, re) :: Nil
    case _ => Nil
  }
}

case class IntervalJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightStart: Expression,
    rightEnd: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightStart, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val lKey = BindReferences.bindReference(leftKey, left.output)
    val lTime = BindReferences.bindReference(leftTime, left.output)
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rStart = BindReferences.bindReference(rightStart, right.output)
    val rEnd = BindReferences.bindReference(rightEnd, right.output)
    val keyOrd = PhysicalDataType.ordering(leftKey.dataType)
      .asInstanceOf[Ordering[Any]]
    val timeOrd = PhysicalDataType.ordering(leftTime.dataType)
      .asInstanceOf[Ordering[Any]]
    val outputAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val resultProj = UnsafeProjection.create(outputAttrs, outputAttrs)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // Right rows whose interval may still contain a future left
        // time for the current key. Rows are copied on entry (the
        // child iterator reuses its row buffer).
        private val active = new ArrayBuffer[InternalRow]()
        private var curKey: Any = _
        private var haveKey = false
        private var rNext: InternalRow = advanceRight()
        // Matches for the left row currently being consumed; `lRow`
        // stays valid while `pending` drains because lIter is not
        // advanced until then.
        private var pending: Iterator[InternalRow] = Iterator.empty

        private def advanceRight(): InternalRow =
          if (rIter.hasNext) rIter.next().copy() else null

        /** Values eval'd from the LEFT row may point into its reused
          * UnsafeRow buffer (UTF8String keys do) — storing one across
          * iterations without a copy silently mutates when the
          * iterator advances, breaking key-change detection.
          */
        private def stable(v: Any): Any = v match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
          case other => other
        }

        /** Fills `pending` with the matches of the next matching left
          * row; false when the partition is exhausted.
          */
        private def computeNext(): Boolean = {
          while (lIter.hasNext) {
            val lRow = lIter.next()
            val k = lKey.eval(lRow)
            val t = lTime.eval(lRow)
            if (k != null && t != null) {
              if (!haveKey || keyOrd.compare(curKey, k) != 0) {
                active.clear()
                curKey = stable(k)
                haveKey = true
              }
              // buffer every right interval of this key starting ≤ t;
              // skip rows of earlier keys and null keys/starts.
              var continue = rNext != null
              while (continue) {
                val rk = rKey.eval(rNext)
                val cmp = if (rk == null) -1 else keyOrd.compare(rk, k)
                if (cmp < 0) rNext = advanceRight()
                else if (cmp == 0) {
                  val rs = rStart.eval(rNext)
                  if (rs == null) rNext = advanceRight()
                  else if (timeOrd.compare(rs, t) <= 0) {
                    active += rNext
                    rNext = advanceRight()
                  } else continue = false
                } else continue = false
                if (rNext == null) continue = false
              }
              // expire intervals the sweep has passed (end ≤ t, end
              // exclusive; null end = unbounded interval, never expires)
              active.filterInPlace { r =>
                val re = rEnd.eval(r)
                re == null || timeOrd.compare(re, t) > 0
              }
              if (active.nonEmpty) {
                pending = active.iterator.map(r => resultProj(joined(lRow, r)))
                return true
              }
            }
          }
          false
        }

        override def hasNext: Boolean = pending.hasNext || computeNext()

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          pending.next()
        }
      }
    }
  }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): SparkPlan =
    copy(left = l, right = r)
}

/** User-facing builder, sibling of [[AsOf]]. */
object IntervalJoin {

  def join(
      leftDf: DataFrame,
      rightDf: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightStart: String, rightEnd: String): DataFrame = {
    val spark = leftDf.sparkSession
    val lPlan = leftDf.queryExecution.analyzed
    val rPlan = rightDf.queryExecution.analyzed
    def resolve(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"[GRAFT] interval-join column [$name] not in ${plan.output.map(_.name).mkString(",")}"))
    val (lk, rk) = (resolve(lPlan, leftKey), resolve(rPlan, rightKey))
    val (lt, rs, re) = (resolve(lPlan, leftTime), resolve(rPlan, rightStart), resolve(rPlan, rightEnd))
    // analysis-time type validation: a mismatched key (int vs bigint)
    // or time (date vs timestamp) pair would otherwise surface as a
    // ClassCastException / wrong ordering deep inside the exec.
    require(lk.dataType == rk.dataType,
      s"[GRAFT] interval-join key types differ: [$leftKey] is ${lk.dataType.simpleString}, " +
        s"[$rightKey] is ${rk.dataType.simpleString}")
    require(lt.dataType == rs.dataType && lt.dataType == re.dataType,
      s"[GRAFT] interval-join time types differ: [$leftTime] is ${lt.dataType.simpleString}, " +
        s"[$rightStart] is ${rs.dataType.simpleString}, [$rightEnd] is ${re.dataType.simpleString}")
    Bridge.ofRows(spark, IntervalJoinPlan(lPlan, rPlan, lk, rk, lt, rs, re))
  }
}
