package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** A global sort over a small materialized input runs as one task:
  * AQE re-optimization drops the range-partitioner sample job and the
  * range shuffle that coalescing would collapse to one partition
  * anyway (plans.SingleTaskSort). Spark's coalescing settings gate it.
  */
class SingleTaskSortSpec extends SparkSpecBase {

  private val Coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
  private val MinPartition = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  private def q1: DataFrame = SparkEntry.queries("q1_pricing_summary")(spark, sfDir)

  /** Runs `df` and returns its rows and its final executed plan. */
  private def run(df: DataFrame): (Seq[String], Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    val rows = df.collect().map(_.toString).toSeq
    (rows, allPlanNodes(df.queryExecution.executedPlan))
  }

  private def rangeExchanges(plan: Seq[org.apache.spark.sql.execution.SparkPlan]) =
    plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("q1_pricing_summary sorts in the result stage, without a range exchange") {
    val (_, plan) = run(q1)
    assert(rangeExchanges(plan).isEmpty, plan.head.treeString)
    assert(plan.exists {
      case c: CoalesceExec => c.numPartitions == 1
      case _ => false
    }, plan.head.treeString)
  }

  test("the rewrite saves q1 the sample job and the range-shuffle job") {
    val open = jobStarts(q1.collect()).size
    val closed = withConf(MinPartition, "1b")(jobStarts(q1.collect()).size)
    assert(open === closed - 2, s"jobs with the rewrite: $open, without: $closed")
  }

  test("the single-task sort returns the rows of the non-adaptive plan") {
    val (rows, _) = run(q1)
    val plain = withConf("spark.sql.adaptive.enabled", "false")(run(q1)._1)
    assert(rows.nonEmpty)
    assert(rows === plain)
  }

  test("the range exchange stays when coalescing is off or cannot return one partition") {
    for ((key, value) <- Seq(Coalesce -> "false", MinPartition -> "1b")) {
      val (rows, plan) = withConf(key, value)(run(q1))
      assert(rangeExchanges(plan).nonEmpty, s"$key=$value\n${plan.head.treeString}")
      assert(rows === run(q1)._1, s"$key=$value")
    }
  }

  test("a global sort directly over a file scan is not rewritten") {
    val (rows, plan) = run(spark.read.parquet(s"$sfDir/nation.parquet").orderBy("n_name"))
    assert(rows.length === 25)
    assert(rangeExchanges(plan).nonEmpty, plan.head.treeString)
    assert(!plan.exists(_.isInstanceOf[CoalesceExec]), plan.head.treeString)
  }
}
