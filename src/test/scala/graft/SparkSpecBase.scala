package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide
  * session; suites run sequentially under sbt).
  */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sfDir = "/root/testdata/sf0.001"

  /** Collect every node of a physical plan, descending through the
    * AQE wrappers (`AdaptiveSparkPlanExec`, `QueryStageExec`) that a
    * plain `plan.collect` treats as leaves — but NOT into
    * `InMemoryTableScanExec`'s cached plan, so "zero FileSourceScan
    * nodes" asserts that all reads go through the cache.
    */
  def allPlanNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(s.plan)
      case o => o.children
    }
    p +: kids.flatMap(allPlanNodes)
  }

  /** The local properties of every Spark job `run` starts, as a
    * SparkListener sees them. Listener delivery is asynchronous but in
    * order, so a marker job started after `run` is the last event to
    * wait for.
    */
  def jobStarts(run: => Unit): Seq[java.util.Properties] = {
    val sc = spark.sparkContext
    val marker = s"marker-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties).getOrElse(new java.util.Properties)
        if (props.getProperty("spark.job.description") == marker) done.countDown()
        else seen.add(props)
      }
    }
    sc.addSparkListener(listener)
    try {
      run
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus did not deliver the marker job")
    } finally sc.removeSparkListener(listener)
    seen.toArray(Array.empty[java.util.Properties]).toSeq
  }
}
