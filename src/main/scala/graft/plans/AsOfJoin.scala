package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.Bridge

/** Native as-of join: for every left row, the single right row with the
  * same key and the greatest right-time ≤ left-time. Inner semantics
  * drop unmatched left rows; `outer = true` keeps them with nulls for
  * the right side (the "latest state if any" lookup).
  *
  * This is the whole-operator path ((c) in the build rules): a
  * LogicalPlan node, a planner Strategy (injected via GraftExtensions),
  * and a SparkPlan whose algorithm is a per-partition sort-merge with
  * last-value tracking — O(|left| + |right|) per partition, versus the
  * compose-with-window formulation that materializes EVERY (left,
  * right-before-it) pair and then ranks them. At 100 TB the composed
  * form explodes on hot keys; this one streams.
  *
  * Distribution contract: both children hash-clustered on the key and
  * sorted by (key, time, tieBreaks...) — EnsureRequirements inserts the
  * exchanges/sorts, so AQE and skew handling still apply.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreaks: Seq[Expression],
    outer: Boolean = false) extends BinaryNode {

  override def output: Seq[Attribute] =
    if (outer) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output

  /** At most one right row per left row: the left input's size,
    * widened by the right row's width. Spark's default for a node it
    * does not know multiplies its children's sizes (142.6 GB for
    * `q_asof_event_order` at sf0.01, whose output is ~560 KB). Spark's
    * estimators call `computeStats` on leaves only, so the estimate
    * is given here.
    */
  override def stats: Statistics = {
    val l = left.stats
    val widen = BigDecimal(EstimationUtils.getSizePerRow(output)) /
      BigDecimal(EstimationUtils.getSizePerRow(left.output))
    Statistics(sizeInBytes = (BigDecimal(l.sizeInBytes) * widen).toBigInt.max(1),
      rowCount = l.rowCount)
  }

  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): LogicalPlan =
    copy(left = l, right = r)
}

/** Planner rule: AsOfJoinPlan → AsOfJoinExec. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, tb, outer) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tb, outer) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreaks: Seq[Expression],
    outer: Boolean = false) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    if (outer) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) ++
      rightTieBreaks.map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val lKey = BindReferences.bindReference(leftKey, left.output)
    val lTime = BindReferences.bindReference(leftTime, left.output)
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTime = BindReferences.bindReference(rightTime, right.output)
    val keyOrd = PhysicalDataType.ordering(leftKey.dataType)
      .asInstanceOf[Ordering[Any]]
    val timeOrd = PhysicalDataType.ordering(leftTime.dataType)
      .asInstanceOf[Ordering[Any]]
    val outputAttrs = output

    val rightArity = right.output.size
    val isOuter = outer

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val resultProj = UnsafeProjection.create(outputAttrs, outputAttrs)
      val joined = new JoinedRow
      val nullRight = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(rightArity)

      new Iterator[InternalRow] {
        // Right-side cursor state: the lookahead row and the current
        // best candidate (greatest time ≤ left time for candidateKey).
        private var rNext: InternalRow = advanceRight()
        private var candidate: InternalRow = _
        private var candidateKey: Any = _
        // the projection buffer is reused, so the next row is computed
        // lazily in hasNext — never before the current row is consumed
        private var nextResult: InternalRow = _
        private var ready = false

        private def advanceRight(): InternalRow =
          if (rIter.hasNext) rIter.next().copy() else null

        private def computeNext(): InternalRow = {
          while (lIter.hasNext) {
            val lRow = lIter.next()
            val k = lKey.eval(lRow)
            val t = lTime.eval(lRow)
            if (k != null && t != null) {
              // advance the right cursor to the last row with
              // rightKey < k, or rightKey == k && rightTime <= t
              var continue = rNext != null
              while (continue) {
                val rk = rKey.eval(rNext)
                val cmp = if (rk == null) -1 else keyOrd.compare(rk, k)
                if (cmp < 0) {
                  rNext = advanceRight()
                } else if (cmp == 0) {
                  val rt = rTime.eval(rNext)
                  if (rt == null) {
                    // Null right-times sort FIRST within the key
                    // (Ascending = NULLS FIRST) and can never match an
                    // as-of predicate: skip them — stopping here would
                    // park the cursor and hide every later right row
                    // for this key.
                    rNext = advanceRight()
                  } else if (timeOrd.compare(rt, t) <= 0) {
                    candidate = rNext
                    candidateKey = rk
                    rNext = advanceRight()
                  } else continue = false
                } else continue = false
                if (rNext == null) continue = false
              }
              if (candidate != null && candidateKey != null &&
                  keyOrd.compare(candidateKey, k) == 0) {
                return resultProj(joined(lRow, candidate))
              }
              if (isOuter) return resultProj(joined(lRow, nullRight))
            } else if (isOuter) {
              // null key/time can never match; outer still emits the row
              return resultProj(joined(lRow, nullRight))
            }
          }
          null
        }

        override def hasNext: Boolean = {
          if (!ready) {
            nextResult = computeNext()
            ready = nextResult != null
          }
          ready
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          ready = false
          nextResult
        }
      }
    }
  }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): SparkPlan =
    copy(left = l, right = r)
}

/** User-facing builder. Column names are resolved against each side's
  * analyzed output, so the node enters the optimizer fully resolved.
  */
object AsOf {

  def join(
      leftDf: DataFrame,
      rightDf: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightTieBreaks: Seq[String] = Nil,
      outer: Boolean = false): DataFrame = {
    val spark = leftDf.sparkSession
    val lPlan = leftDf.queryExecution.analyzed
    val rPlan = rightDf.queryExecution.analyzed
    def resolve(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"[GRAFT] as-of column [$name] not in ${plan.output.map(_.name).mkString(",")}"))
    Bridge.ofRows(spark, AsOfJoinPlan(
      lPlan, rPlan,
      resolve(lPlan, leftKey), resolve(rPlan, rightKey),
      resolve(lPlan, leftTime), resolve(rPlan, rightTime),
      rightTieBreaks.map(resolve(rPlan, _)),
      outer = outer))
  }
}
