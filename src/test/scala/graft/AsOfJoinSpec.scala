package graft

import graft.operators.Analytic
import graft.plans.AsOf
import java.sql.Timestamp

class AsOfJoinSpec extends SparkSpecBase {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("native as-of join matches hand-computed matches on edge cases") {
    import spark.implicits._
    val quotes = Seq(
      // key, time, value — includes a tie on time (ids 2,3) and a key with no quotes
      (1L, ts("2024-01-01 10:00:00"), 100),
      (1L, ts("2024-01-01 11:00:00"), 101),
      (2L, ts("2024-01-01 10:30:00"), 200),
      (2L, ts("2024-01-01 10:30:00"), 201))
      .toDF("q_key", "q_ts", "q_id")
    val trades = Seq(
      (1L, ts("2024-01-01 10:30:00")), // → 100
      (1L, ts("2024-01-01 11:00:00")), // → 101 (inclusive)
      (1L, ts("2024-01-01 09:00:00")), // → no match
      (2L, ts("2024-01-01 12:00:00")), // → 201 (tie broken by larger q_id)
      (3L, ts("2024-01-01 12:00:00"))) // key with no right rows
      .toDF("t_key", "t_ts")
    val out = AsOf.join(trades, quotes,
        leftKey = "t_key", rightKey = "q_key",
        leftTime = "t_ts", rightTime = "q_ts",
        rightTieBreaks = Seq("q_id"))
      .select("t_key", "t_ts", "q_id")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getInt(2)))
      .toSet
    assert(out === Set(
      (1L, "2024-01-01 10:30:00.0", 100),
      (1L, "2024-01-01 11:00:00.0", 101),
      (2L, "2024-01-01 12:00:00.0", 201)))
  }

  test("null right-times never block later rows for the same key") {
    import spark.implicits._
    // Nulls sort FIRST within the key under Ascending ordering; the
    // merge cursor must skip them or every non-null quote for key 1
    // becomes unreachable.
    val quotes = Seq(
      (1L, null.asInstanceOf[Timestamp], 900),
      (1L, null.asInstanceOf[Timestamp], 901),
      (1L, ts("2024-01-01 10:00:00"), 100),
      (2L, null.asInstanceOf[Timestamp], 902))
      .toDF("q_key", "q_ts", "q_id")
    val trades = Seq(
      (1L, ts("2024-01-01 10:30:00")), // → 100, despite leading nulls
      (2L, ts("2024-01-01 12:00:00"))) // only null quotes → no match
      .toDF("t_key", "t_ts")
    val out = AsOf.join(trades, quotes,
        leftKey = "t_key", rightKey = "q_key",
        leftTime = "t_ts", rightTime = "q_ts",
        rightTieBreaks = Seq("q_id"))
      .select("t_key", "q_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .toSet
    assert(out === Set((1L, 100)))
  }

  test("native as-of equals the composed join+window form on real data") {
    val native = Analytic.qAsofEventOrder(spark, sfDir).collect().map(_.toString)
    val composed = KernelReference.qAsofEventOrderComposed(spark, sfDir).collect().map(_.toString)
    assert(native.length === composed.length)
    assert(native.toSeq === composed.toSeq)
  }

  test("outer as-of keeps every left row; matched subset equals the inner form") {
    import org.apache.spark.sql.functions.col
    val outer = Analytic.qAsofEventOrderOuter(spark, sfDir)
    val rows = outer.collect()
    val nEvents = graft.streaming.Events.eventsTable(spark, sfDir).count()
    assert(rows.length.toLong === nEvents, "no left row dropped")
    val unmatched = rows.count(_.isNullAt(2))
    assert(unmatched > 0, "corpus must exercise the null path")
    // matched rows = the inner native join against the same right side
    val c = new graft.sources.GraftCatalog(spark, sfDir)
    val ev = graft.streaming.Events.eventsTable(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val inner = graft.plans.AsOf.join(
        ev, c.table("orders").where(col("o_orderstatus") === "F"),
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightTieBreaks = Seq("o_orderkey"))
    assert(rows.length - unmatched === inner.count())
  }

  test("as-of plan contains the custom exec node") {
    val plan = Analytic.qAsofEventOrder(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan.take(600))
  }

  test("as-of statistics: bounded by the left input, within a small factor of the measured output") {
    val q = Analytic.qAsofEventOrder(spark, sfDir)
    val node = q.queryExecution.optimizedPlan.collectFirst {
      case a: graft.plans.AsOfJoinPlan => a
    }.get
    val est = node.stats.sizeInBytes
    // measured: the join's own output, cached in memory
    val out = org.apache.spark.sql.graft.Bridge.ofRows(spark, node).cache()
    try {
      assert(out.count() > 0)
      val measured = spark.sharedState.cacheManager
        .lookupCachedData(out.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        .get.cachedRepresentation.stats.sizeInBytes
      assert(est <= measured * 8 && measured <= est * 8,
        s"estimate $est bytes against $measured measured")
    } finally out.unpersist(true)
  }

  test("as-of query sorts its small output in one task, without a range exchange") {
    val q = Analytic.qAsofEventOrder(spark, sfDir)
    q.collect()
    val ranges = allPlanNodes(q.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
    }
    assert(ranges.isEmpty, q.queryExecution.executedPlan.toString)
  }

  test("unknown column names fail fast") {
    import spark.implicits._
    val df = Seq((1L, ts("2024-01-01 00:00:00"))).toDF("k", "t")
    assertThrows[IllegalArgumentException](
      AsOf.join(df, df, "nope", "k", "t", "t"))
  }
}
