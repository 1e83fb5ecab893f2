package graft.operators

import graft.GraftSession.GrainOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TpchExprs.{cat, dsum, dsumr, revenueExpr, ts}
import org.apache.spark.sql.types.DecimalType
import scala.jdk.CollectionConverters._

/** §2.B extension: multi-nation joins, cube/grouping-sets, exact
  * percentiles, argmax-per-group, as-of join, salted skew join, and
  * the SQL-text surface. Same Spark-first rules as Relational.
  */
object Analytic {

  /** B19 (TPC-H Q7): volume shipping between two nations, by year and
    * direction. Nation dims broadcast twice under different aliases.
    */
  def q7VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    val n1 = c.table("nation").select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = c.table("nation").select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
    c.table("lineitem")
      .where(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
             col("l_shipdate") <  ts("1998-01-01 00:00:00"))
      .join(c.table("orders"), col("l_orderkey") === col("o_orderkey"))
      .join(c.table("customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(c.table("supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
      .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
             (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("yr"))
      .agg(dsumr(revenueExpr).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "yr")
  }

  /** B20 (TPC-H Q8): market share of NATION_3 suppliers among ASIA
    * customers, by order year — conditional share of exact sums.
    */
  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    val suppNation = c.table("nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val base = c.table("lineitem")
      .join(c.table("orders"), col("l_orderkey") === col("o_orderkey"))
      .join(c.table("customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(c.table("nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(c.table("region")), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "ASIA")
      .join(broadcast(c.table("supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("sn_key"))
    base
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(
        dsum(when(col("supp_nation") === "NATION_3", revenueExpr).otherwise(0.0)).as("target_rev"),
        dsum(revenueExpr).as("all_rev"))
      .select(col("yr"), round(col("target_rev") / col("all_rev"), 6).as("mkt_share"))
      .orderBy("yr")
  }

  /** B21 (TPC-H Q9): pseudo-profit (revenue − 10% retail cost) for
    * PROMO parts by supplier nation and year.
    */
  def q9ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    val amount = revenueExpr - col("p_retailprice") * 0.1 * col("l_quantity")
    c.table("lineitem")
      .join(broadcast(c.table("part").where(col("p_type").like("%PROMO%"))),
        col("l_partkey") === col("p_partkey"))
      .join(c.table("orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c.table("supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(c.table("nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("yr"))
      .agg(dsumr(amount).as("profit"))
      .orderBy("nation", "yr")
  }

  /** B22: argmax per group — wealthiest customer per nation (window
    * rank over broadcast-joined dims, deterministic tie-break).
    */
  def qArgmaxCustomerPerNation(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    val w = Window.partitionBy("n_name").orderBy(col("c_acctbal").desc, col("c_custkey"))
    c.table("customer")
      .join(broadcast(c.table("nation")), col("c_nationkey") === col("n_nationkey"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("n_name"), col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy("n_name")
  }

  /** B23: cube — all aggregation combinations over status × priority. */
  def qCubeStatusPriority(s: SparkSession, dir: String): DataFrame =
    cat(s, dir).table("orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsumr(col("o_totalprice")).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy("status", "priority")

  /** B24: grouping sets — chosen aggregation levels in one pass
    * (SQL-text path; the reference's MapReduce consumer would run one
    * job per level).
    */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    cat(s, dir).table("orders").createOrReplaceTempView("graft_gs_orders")
    s.sql("""
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(CAST(year(o_orderdate) AS STRING), 'ALL') AS yr,
             count(*) AS n
      FROM graft_gs_orders
      GROUP BY GROUPING SETS ((o_orderstatus), (year(o_orderdate)), ())
      ORDER BY status, yr""")
  }

  /** B25: exact percentiles (distributed sort-based) over integer-
    * valued quantities — interpolation stays exact in both engines.
    */
  def qPercentileQuantity(s: SparkSession, dir: String): DataFrame =
    cat(s, dir).table("lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_quantity, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** B34: sketch percentiles — approx_percentile (Greenwald-Khanna
    * style summary, mergeable across partitions); rows-only: sketch
    * estimates are engine-specific.
    */
  def qApproxPercentile(s: SparkSession, dir: String): DataFrame =
    cat(s, dir).table("lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)").as("apx"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        col("apx").getItem(0).as("apx_p50"),
        col("apx").getItem(1).as("apx_p95"), col("n"))
      .orderBy("l_returnflag")

  /** B26: as-of join — each event matched to the user's most recent
    * order at event time (composed join + window; a dedicated
    * SparkPlan would replace this if the probe side outgrew it).
    */
  def qAsofEventOrder(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    val ev = graft.streaming.Events.eventsTable(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.plans.AsOf.join(
        ev, c.table("orders"),
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightTieBreaks = Seq("o_orderkey"))
      .select(col("event_id"), col("user_id"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .orderBy("event_id")
  }

  /** B26 (outer form): every event kept, nulls where the user has no
    * finalized order at event time — "latest state if any", the lookup
    * shape enrichment pipelines actually run (restricting the right
    * side to 'F' orders makes ~4% of events unmatched on this corpus;
    * against ALL orders the outer form would be vacuously inner).
    */
  def qAsofEventOrderOuter(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    val ev = graft.streaming.Events.eventsTable(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.plans.AsOf.join(
        ev, c.table("orders").where(col("o_orderstatus") === "F"),
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightTieBreaks = Seq("o_orderkey"),
        outer = true)
      .select(col("event_id"), col("user_id"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .orderBy("event_id")
  }

  /** B78: POINT-IN-TIME feature snapshot — the feature-store
    * assembly step: every LABEL row (an event) is joined to the
    * state of each feature AS OF its own label time, leakage-free.
    * Two feature classes, each with the correct temporal rule:
    *  - EXTERNAL feature (the customer's latest order price): B26's
    *    native as-of join, rightTime ≤ labelTime — one
    *    range-partitioned pass, never the quadratic pairs+rank shape;
    *  - SELF features (prior event count, previous event value):
    *    strictly BEFORE the label row via rn−1 / lag over the
    *    (user)-bounded window — the label row must never feed its
    *    own features (the classic target-leak a ≤ rule would commit
    *    on the self table).
    * Raw doubles move untouched (no arithmetic → bit-exact across
    * engines); first-event rows carry NULL prior features in both.
    */
  def qFeatureSnapshot(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    val ev = graft.streaming.Events.eventsTable(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val orders = c.table("orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_totalprice"))
    val withOrder = graft.plans.AsOf.join(
        ev, orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightTieBreaks = Seq("o_orderkey"), outer = true)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("o_totalprice").as("f_last_order_price"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    withOrder
      .withColumn("f_prior_events", (row_number().over(w) - 1).cast("long"))
      .withColumn("f_prev_value", lag("value", 1).over(w))
      .select(col("event_id"), col("user_id"),
        col("f_last_order_price"), col("f_prior_events"), col("f_prev_value"))
      .orderBy("event_id")
  }

  /** B27: salted skew join — the fact side carries a deterministic
    * salt, the build side is exploded ×8, so one hot key spreads over
    * 8 shuffle partitions. Result identical to the unsalted join.
    */
  def qSaltedJoinRevenue(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    // hash-based salt: l_linenumber alone is 1..7, which starves salt
    // lane 0 and spreads a hot key over only 7 of the 8 sub-keys;
    // hashing (orderkey, linenumber) uses all 8 lanes uniformly.
    val salted = c.table("lineitem")
      .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(8)))
    val ordersExploded = c.table("orders")
      .withColumn("salt", explode(sequence(lit(0), lit(7))))
      // the salted SHUFFLE join is the declared pattern — without the
      // hint the planner broadcasts the ×8-EXPLODED orders side (its
      // size estimate predates the explode), which rebuilds the whole
      // hot-key-spreading design into a single-threaded driver hash
      // build (measured at sf1: an 8 s no-job gap, 57% of the query)
      // and an OOM at real scale where orders×8 exceeds any driver.
      // Same inner equi-join rows either way; the exact DECIMAL sum is
      // order-insensitive, so the result is bit-identical (guide §3.1:
      // pick the strategy deliberately).
      .hint("shuffle_merge")
    salted.join(ordersExploded,
        col("l_orderkey") === col("o_orderkey") && salted("salt") === ordersExploded("salt"))
      .groupBy("o_orderpriority")
      .agg(dsumr(revenueExpr).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** B31 (TPC-H Q18): large-volume orders — IN-subquery over a
    * HAVING-filtered aggregate, decorrelated to a semi join.
    */
  def q18LargeVolumeOrders(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    val big = c.table("lineitem")
      .groupBy("l_orderkey")
      .agg(sum("l_quantity").as("sum_qty"))
      .where(col("sum_qty") > 300)
      .select(col("l_orderkey").as("big_orderkey"))
    c.table("customer")
      .join(c.table("orders"), col("o_custkey") === col("c_custkey"))
      .join(big, col("o_orderkey") === col("big_orderkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("total"))
      .orderBy("c_custkey", "o_orderkey")
  }

  /** B35 (TPC-H Q13): customer order-count distribution — an
    * aggregate of an aggregate (outer-join count per customer, then a
    * histogram over those counts).
    */
  def q13CustomerDistribution(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    c.table("customer")
      .join(c.table("orders"), col("o_custkey") === col("c_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** B36: histogram binning — fixed-width buckets over order totals
    * (floor-based bin ids, engine-agnostic).
    */
  def qHistogramTotalprice(s: SparkSession, dir: String): DataFrame =
    cat(s, dir).table("orders")
      .select(floor(col("o_totalprice") / 50000.0).cast("long").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"))
      .orderBy("bin")

  /** B58: equi-depth histogram — ntile over the global price order
    * puts the same row COUNT in every bucket (equi-width B36 puts the
    * same value RANGE). An unpartitioned window plans `Exchange
    * SinglePartition`: ALL rows flow through one task — fine at
    * test scale, the wrong shape at 100 TB. The scale route is
    * two-phase: exact/approximate percentile BOUNDARIES first (B25/
    * B34 — distributed), then a map-side bucket lookup against the
    * broadcast boundary array; this query keeps the one-pass ntile
    * form because its oracle needs exactly-equal depths. Ties are
    * ordered by o_orderkey so both engines assign identically.
    */
  def qHistogramEquidepth(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
    cat(s, dir).table("orders")
      .select(col("o_totalprice"), ntile(8).over(w).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        // floor-cents, not round(x,2): bucket bounds are ARBITRARY
        // doubles and round() diverges across engines at half-cent
        // boundaries (SURVEY §6)
        floor(min(col("o_totalprice")) * 100).cast("long").as("lo_cents"),
        floor(max(col("o_totalprice")) * 100).cast("long").as("hi_cents"))
      .orderBy("bucket")
  }

  /** B60: relative-standing window functions — percent_rank,
    * cume_dist, and quartile (ntile) of each customer's balance
    * WITHIN their nation. One partition-and-sort; all three functions
    * share the frame. Values are integer-ratio doubles ((rank-1)/
    * (n-1), rows≤/n) that both engines compute as the same IEEE
    * division, so the compare is exact with no rounding.
    */
  def qPercentRankBalance(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal"), col("c_custkey"))
    cat(s, dir).table("customer")
      .select(col("c_custkey"), col("c_nationkey").cast("int").as("nation_key"),
        col("c_acctbal"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        ntile(4).over(w).as("quartile"))
      .orderBy("c_custkey")
  }

  /** B58 (scale form): the two-phase equi-depth shape the ntile form's
    * doc promises — phase 1 computes the 7 octile BOUNDARIES with the
    * distributed exact-percentile aggregate (a 7-double driver
    * artifact, same class as IVF centroids); phase 2 buckets map-side
    * by counting boundaries strictly below each price (codegen'd sum
    * of comparisons, zero shuffle before the 8-group aggregate). No
    * SinglePartition window anywhere (plan-spec'd). Depths are
    * near-equal rather than exactly equal — boundary ties all land in
    * one bucket — which is the standard trade at scale.
    */
  def qHistogramEquidepthScalable(s: SparkSession, dir: String): DataFrame = {
    val o = cat(s, dir).table("orders")
    val ps = (1 to 7).map(i => i / 8.0)
    val bs = o.agg(expr(s"percentile(o_totalprice, array(${ps.mkString(", ")}))"))
      .first().getSeq[Double](0)
    val bucket = bs.map(b => when(col("o_totalprice") > b, 1).otherwise(0))
      .reduce(_ + _) + lit(1)
    o.select(bucket.cast("int").as("bucket"), col("o_totalprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        floor(min(col("o_totalprice")) * 100).cast("long").as("lo_cents"),
        floor(max(col("o_totalprice")) * 100).cast("long").as("hi_cents"))
      .orderBy("bucket")
  }

  /** B32: word count — THE canonical MapReduce job: tokenize → explode
    * → count, with map-side partial aggregation replacing the combiner.
    */
  def qWordcount(s: SparkSession, dir: String): DataFrame =
    cat(s, dir).table("documents")
      .select(explode(graft.functions.TextFns.tokensLower(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)

  /** B33: pivot API — priorities spread into columns (declared value
    * list keeps the schema static, as a scale deployment requires).
    */
  def qPivotApi(s: SparkSession, dir: String): DataFrame = {
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val pivoted = cat(s, dir).table("orders")
      .groupBy("o_orderstatus")
      .pivot("o_orderpriority", priorities)
      .agg(count(lit(1)))
    pivoted.select(col("o_orderstatus") +:
        priorities.map(p => coalesce(col(s"`$p`"), lit(0L)).as(p)): _*)
      .orderBy("o_orderstatus")
  }

  /** B29: deterministic hash sampling — a ~10% sample selected by key
    * hash, reproducible across engines and runs (no RNG state), the
    * scalable alternative to reservoir/Bernoulli sampling for
    * pipeline-stable subsets.
    */
  def qSampleHash(s: SparkSession, dir: String): DataFrame =
    cat(s, dir).table("lineitem")
      .where(pmod(col("l_orderkey") * 2654435761L, lit(1000)) < 100)
      .agg(count(lit(1)).as("n"), dsumr(col("l_extendedprice")).as("total"))

  /** B30: range (interval) join — purchases matched to same-user
    * clicks in the preceding hour, end-exclusive ([click_ts,
    * click_ts+1h)). The key (user_id) is coarse, so the interval
    * predicate does the real work: a naive time-inequality join is a
    * per-key cross product; bucketing both sides by HOUR makes it an
    * equi-join on (user, hour) with an exact refinement predicate.
    * Each click interval [ts, ts+1h) spans exactly the 2 hour buckets
    * of its endpoints (they always differ), so the explode factor is
    * a constant 2 — this is the scale-out recipe for interval joins
    * when no native operator exists.
    * (`qRangeJoinNative` runs the identical semantics through the
    * custom IntervalJoin operator; both share one oracle.)
    */
  def qRangeJoinEventsOrders(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.streaming.Events.eventsTable(s, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .withColumn("hb", explode(array(
        date_trunc("hour", col("click_ts")),
        date_trunc("hour", col("click_ts") + expr("INTERVAL 1 HOUR")))))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withColumn("hb", date_trunc("hour", col("purchase_ts")))
    clicks.join(purchases, Seq("user_id", "hb"))
      .where(col("purchase_ts") >= col("click_ts") &&
             col("purchase_ts") < col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_time"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_time"))
      .orderBy("click_id", "purchase_id")
  }

  /** B30 (native-operator form): the same purchase-to-click interval
    * join through [[graft.plans.IntervalJoinPlan]] — a per-partition
    * interval sweep (O(n+m+matches)) instead of the hour-bucket
    * explode. Same output and oracle as `qRangeJoinEventsOrders`.
    */
  def qRangeJoinNative(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.streaming.Events.eventsTable(s, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withColumn("click_end", col("click_ts") + expr("INTERVAL 1 HOUR"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    graft.plans.IntervalJoin.join(purchases, clicks,
        "user_id", "click_user", "purchase_ts", "click_ts", "click_end")
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_time"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_time"))
      .orderBy("click_id", "purchase_id")
  }

  /** B28: the SQL-text surface — TPC-H Q1 executed via spark.sql on
    * registered views (same oracle as the DataFrame form).
    */
  def q1Sql(s: SparkSession, dir: String): DataFrame = {
    cat(s, dir).table("lineitem").createOrReplaceTempView("graft_sql_lineitem")
    s.sql("""
      SELECT l_returnflag, l_linestatus,
             round(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_qty,
             round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_disc_price,
             count(*) AS count_order
      FROM graft_sql_lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")
  }

  /** B40: semi-structured extraction — the events `props` column is a
    * JSON document; `get_json_object` pulls a typed field out in the
    * scan projection (map-only, stays inside whole-stage codegen)
    * and the result aggregates like any other column. The ingest
    * pattern for logs/telemetry at 100 TB: extract-then-aggregate,
    * never materialize the parsed blob.
    */
  def qJsonProps(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Events.eventsTable(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  /** B39: set operations — customer keys ordering in BOTH priority
    * classes (INTERSECT) and in 'F' only (EXCEPT). Spark plans both
    * as hash aggregates + joins — one shuffle each on the compared
    * key, never a sort of the whole input.
    */
  def qExceptIntersect(s: SparkSession, dir: String): DataFrame = {
    val orders = cat(s, dir).table("orders")
    val f = orders.where(col("o_orderstatus") === "F")
      .select(col("o_custkey")).distinct()
    val o = orders.where(col("o_orderstatus") === "O")
      .select(col("o_custkey")).distinct()
    f.intersect(o).withColumn("op", lit("both"))
      .unionAll(f.except(o).withColumn("op", lit("f_only")))
      .select(col("op"), col("o_custkey"))
      .orderBy("op", "o_custkey")
  }

  /** B41: exact heavy hitters — the top-10 most frequent suppliers in
    * lineitem. groupBy + TakeOrderedAndProject: per-partition partial
    * counts, one shuffle, per-partition top-k heaps merged on the
    * driver — no global sort at any scale.
    */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame =
    cat(s, dir).table("lineitem")
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("l_suppkey"))
      .limit(10)

  /** B52: MERGEABLE distinct-count sketches — per-segment HLL
    * sketches built independently (the per-partition/per-day summary
    * a 1000-executor job materializes), then combined with
    * `hll_union_agg` into the global estimate WITHOUT touching the
    * raw data again. This two-phase shape is the entire point of
    * sketches at 100 TB: the union runs over K sketch blobs, not
    * N rows. Rows-only (estimates are engine-specific); the 5%-band
    * and union-consistency properties are spec-asserted.
    */
  def qHllUnion(s: SparkSession, dir: String): DataFrame = {
    val perSegment = cat(s, dir).table("orders")
      .groupBy("o_orderpriority")
      .agg(hll_sketch_agg(col("o_custkey")).as("sk"), count(lit(1)).as("n_rows"))
    perSegment.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("apx_customers"),
      sum(col("n_rows")).as("n_rows"),
      count(lit(1)).as("n_sketches"))
  }

  /** B54: time-RANGE window frame — per-customer rolling 90-day
    * revenue, the time-series shape a ROWS frame cannot express
    * (peers at the same date all enter the frame; gaps shrink it).
    * The frame is anchored on epoch DAYS (Spark's rangeBetween needs
    * a numeric sort key; o_orderdate is midnight-aligned, so day
    * granularity is exact and matches the oracle's INTERVAL 90 DAY
    * range on the raw timestamp); the window sum goes through
    * DECIMAL(28,6) because engines accumulate frames in different
    * orders (segment trees vs running state) — decimal makes the sum
    * order-independent, so both agree bit-exactly.
    */
  def qRollingRevenue(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(datediff(col("o_orderdate"), lit("1990-01-01")))
      .rangeBetween(-90, 0)
    cat(s, dir).table("orders")
      .withColumn("rolling_total",
        round(sum(col("o_totalprice").cast(DecimalType(28, 6))).over(w).cast("double"), 2))
      .withColumn("n_in_window", count(lit(1)).over(w))
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("rolling_total"), col("n_in_window"))
      .orderBy("o_orderkey")
  }

  /** B53: Theta-sketch SET OPERATIONS — audience overlap without a
    * join. Two conditional sketches built in ONE pass over orders
    * (finalized vs open customers), then intersection / union /
    * difference estimated on the sketch blobs. HLL can only union;
    * Theta's intersect/difference answer "customers in BOTH cohorts"
    * at 100 TB with no shuffle-join of the cohorts — the exact form
    * of this question is B39's INTERSECT/EXCEPT (`q_except_intersect`),
    * which the spec compares against. Rows-only (estimates are
    * engine-specific; below the sketch's nominal-entries threshold
    * they are exact, which the spec exploits).
    */
  def qThetaOverlap(s: SparkSession, dir: String): DataFrame = {
    val sk = cat(s, dir).table("orders").agg(
      theta_sketch_agg(when(col("o_orderstatus") === "F", col("o_custkey"))).as("sk_f"),
      theta_sketch_agg(when(col("o_orderstatus") === "O", col("o_custkey"))).as("sk_o"))
    sk.select(
      theta_sketch_estimate(theta_intersection(col("sk_f"), col("sk_o"))).as("apx_both"),
      theta_sketch_estimate(theta_union(col("sk_f"), col("sk_o"))).as("apx_either"),
      theta_sketch_estimate(theta_difference(col("sk_f"), col("sk_o"))).as("apx_f_only"))
  }

  /** The bloom prefilter `qBloomSemiJoin` applies to the fact side:
    * build Spark's own runtime-filter sketch (BloomFilterAggregate
    * over xxhash64 of the build keys — the exact pair InjectRuntimeFilter
    * plants) with ONE aggregate over the filtered build side, and
    * return the fact table filtered by BloomFilterMightContain on the
    * serialized sketch (a plan literal — broadcast with the task
    * binary, probed inside whole-stage codegen). Exposed for the
    * plan-shape/selectivity spec.
    */
  private[graft] def bloomPrefilter(fact: DataFrame, factKey: String,
      build: DataFrame, buildKey: String, expectedItems: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge
    val bloomBytes = build.select(Bridge.column(
      new BloomFilterAggregate(new XxHash64(Seq(Bridge.expression(col(buildKey)))),
        expectedItems).toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    fact.where(Bridge.column(BloomFilterMightContain(
      Literal.create(bloomBytes, org.apache.spark.sql.types.BinaryType),
      new XxHash64(Seq(Bridge.expression(col(factKey)))))))
  }

  /** B75: calendar gap-fill + forward fill (resample) — the
    * time-series regularization every dashboard/feature pipeline
    * needs: per order priority, EVERY day of the corpus span gets a
    * row — zero-filled daily counts, and daily revenue carried
    * forward across gap days (LOCF). Shapes: the day spine is
    * `sequence(min,max)` exploded from a broadcast single-row
    * aggregate (tiny — days × groups rows, never corpus-sized) and
    * left-joins the daily aggregate; the forward fill is the PACKED
    * MAX trick — pack (day_index, cents) into one BIGINT as
    * day·10^13 + cents, running `max` over the ordered window picks
    * the latest observed day's pack, decode with mod — pure integer
    * arithmetic, no IGNORE NULLS portability hazard, value-exact in
    * any engine. Leading days before a group's first observation
    * stay NULL (both engines agree). The window partitions by
    * priority — bounded partitions, no global funnel.
    */
  def qGapFill(s: SparkSession, dir: String): DataFrame = {
    val Pack = 10000000000000L // day * 1e13 + cents; cents headroom $100B/day
    val o = cat(s, dir).table("orders").select(
      col("o_orderpriority").as("p"),
      to_date(col("o_orderdate")).as("d"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    // `daily` is the ONLY pass over orders: it is bounded (groups ×
    // days grain) and cached, and the span bounds + group spine + the
    // final join all derive from it — no second corpus scan for min/max
    val daily = o.groupBy("p", "d")
      .agg(count(lit(1)).as("n_day"), sum("cents").as("rev_c"))
      .grainCache()
    val bounds = daily.agg(min("d").as("d0"), max("d").as("d1"))
    val spine = daily.select("p").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("p"), explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
    val w = Window.partitionBy("p").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("p", "d"), "left")
      .withColumn("pack",
        when(col("rev_c").isNotNull,
          datediff(col("d"), lit("1990-01-01")).cast("long") * Pack + col("rev_c")))
      .select(
        col("p").as("o_orderpriority"),
        date_format(col("d"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_day"), lit(0L)).as("n"),
        (max("pack").over(w) % Pack).as("rev_ffill_cents"))
      .orderBy("o_orderpriority", "day")
  }

  /** B74: UNPIVOT (melt) — wide measure columns to long
    * (measure, value) rows via the native `Dataset.unpivot`
    * (EXPAND in the plan: each row emits one output per measure
    * map-side, no shuffle before the aggregate's own exchange — the
    * same one-pass shape as B23's cube). The inverse surface of B18's
    * pivot; the long form then aggregates by (key, measure) with the
    * exact-decimal sum.
    */
  def qUnpivot(s: SparkSession, dir: String): DataFrame =
    cat(s, dir).table("lineitem")
      .select(col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "value")
      .groupBy("l_returnflag", "measure")
      .agg(count(lit(1)).as("n"), dsumr(col("value"), 6).as("total"))
      .orderBy("l_returnflag", "measure")

  /** B69: materialized-view auto-rewrite (GraftMv + MvRewriteRule,
    * plans/MvRewrite.scala). The rollup over (l_returnflag,
    * l_linestatus) is materialized once and registered; the query
    * below is written against the BASE lineitem table — filter, finer
    * re-grouping, exact-decimal sums — and the pre-CBO rule re-points
    * the whole aggregate at the MV (sum-of-sums, min-of-mins,
    * coalesced count) with the filter pushed into the MV scan. The
    * `require` makes this correctness entry fail loudly if the
    * rewrite ever stops firing, so the oracle genuinely checks the
    * MV path, not a silent base-table fallback. Registry is cleared
    * after collecting so no OTHER query's plan is affected; the tiny
    * result is re-wrapped as a local relation for the driver's sink.
    * At 100 TB: the fact scan disappears — the plan reads
    * |distinct(group keys)| rows.
    */
  def mvRewrite(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.GraftMv
    val base = dir + "/lineitem.parquet"
    val mvPath = graft.sources.GraftSink.scratchDir + "/mv_lineitem_rollup"
    val d = GraftMv.MvDef(base, mvPath,
      groupCols = Seq("l_returnflag", "l_linestatus"),
      measures = Seq(
        "cnt" -> GraftMv.MvCount,
        "sum_qty" -> GraftMv.MvSum("l_quantity", Some(DecimalType(28, 6))),
        "sum_price" -> GraftMv.MvSum("l_extendedprice", Some(DecimalType(28, 6))),
        "mn_qty" -> GraftMv.MvMin("l_quantity"),
        "mx_qty" -> GraftMv.MvMax("l_quantity"),
        "cnt_tax" -> GraftMv.MvCountCol("l_tax")))
    GraftMv.buildAndRegister(s, d)
    try {
      val out = graft.sources.GraftIO.readParquet(s, base)
        .where(col("l_returnflag") =!= "N")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast(DecimalType(28, 6))).cast("double"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice").cast(DecimalType(28, 6))).cast("double"), 2).as("sum_price"),
          min(col("l_quantity")).as("mn_qty"),
          max(col("l_quantity")).as("mx_qty"),
          count(col("l_tax")).as("n_tax"))
        .orderBy("l_returnflag")
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("mv_lineitem_rollup") && !plan.contains("lineitem.parquet"),
        "MV rewrite did not fire; plan:\n" + plan.take(1500))
      val rows = out.collect().toSeq
      s.createDataFrame(rows.asJava, out.schema)
    } finally GraftMv.clear()
  }

  /** B61: large-fact semi join via explicit bloom sideways-information
    * passing. At 100 TB the urgent-orders build side is far past
    * broadcast-join size (it carries rows), but a bloom filter of its
    * KEYS is a few MB — so the fact scan drops non-qualifying
    * lineitems MAP-SIDE, before the join shuffle, and the exact
    * equi-join afterwards absorbs the sketch's false positives. This
    * is Spark's InjectRuntimeFilter made explicit (that rule only
    * fires on its own selectivity heuristics); the result is exact —
    * the bloom changes WHERE rows die, never the answer.
    */
  def qBloomSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = cat(s, dir).table("orders")
      .where(col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
             col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderpriority")
    val pre = bloomPrefilter(
      cat(s, dir).table("lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount"),
      "l_orderkey", orders, "o_orderkey", expectedItems = 1000000L)
    pre.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"), dsumr(revenueExpr).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** PageRank damping and iteration count (B62). */
  val PrIters = 5

  /** B62: weighted PageRank over the nation trade graph — iterative
    * graph analytics beyond C6's connected components (Page et al.
    * 1999; the quality-propagation signal CommonCrawl-derived corpora
    * rank domains with). Nodes are nations; an edge u→v weighs how
    * many lineitems nation u's suppliers shipped into nation v's
    * customers (Q7's join topology, aggregated to the full matrix).
    *
    * Exactness: the recurrence is defined in exact integer micro
    * arithmetic — edge fractions frac_uv = (n_uv·1e6) div out_u
    * computed ONCE, then r'(v) = (150000 div N) + Σ_u (850·r(u)·
    * frac_uv) div 1e9, floored per edge — so five iterations replay
    * bit-for-bit as five unrolled CTEs in any integer-exact engine
    * (SURVEY.md §6's iterative pattern). Dangling mass (nations with
    * no out-edges) is dropped, the standard "weak" formulation;
    * ranks order by (score desc, name) so the output is total.
    *
    * Scale shape: the edge build is Q7's star join (broadcast dims,
    * one fact shuffle) collapsed to a ≤N² edge table; each iteration
    * is one broadcast-able join of the edge table with the N-row rank
    * vector plus one N-key aggregate — at web scale (N = domains)
    * this is the classic edge-partitioned power iteration, and the
    * per-edge integer floor keeps it deterministic under any
    * partitioning. Plans are localCheckpoint-truncated per round
    * (§ verify gotcha: union/join would otherwise double plan depth
    * per iteration), superseded checkpoints released eagerly.
    */
  def qNationPagerank(s: SparkSession, dir: String): DataFrame = {
    val c = cat(s, dir)
    val nodes0 = c.table("nation").select(col("n_nationkey").as("key"), col("n_name"))
    val nstats = nodes0.agg(count(lit(1)).as("nn"))
    val nodes = nodes0.crossJoin(broadcast(nstats))
      .select(col("key"), col("n_name"),
        expr("150000 div nn").as("base"), expr("1000000 div nn").as("r0"))
    val e = c.table("lineitem")
      .join(c.table("orders"), col("l_orderkey") === col("o_orderkey"))
      .join(c.table("customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(c.table("supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").as("u"), col("c_nationkey").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("n_uv"))
    val outs = e.groupBy("u").agg(sum("n_uv").as("out_u"))
    val frac = e.join(outs, Seq("u"))
      .select(col("u"), col("v"), expr("(n_uv * 1000000L) div out_u").as("frac_micro"))
      .grainCache() // reused by every power iteration
    var r = nodes.select(col("key"), col("r0").as("r")).localCheckpoint()
    for (_ <- 1 to PrIters) {
      val prev = r
      val inc = frac.join(r, col("u") === col("key"))
        .select(col("v"), expr("(850L * r * frac_micro) div 1000000000L").as("contrib"))
        .groupBy("v").agg(sum("contrib").as("inc"))
      r = nodes.join(inc, col("key") === col("v"), "left")
        .select(col("key"), (col("base") + coalesce(col("inc"), lit(0L))).as("r"))
        .localCheckpoint()
      graft.GraftSession.releaseCheckpoint(prev)
    }
    frac.unpersist()
    // final ranking: a dense GLOBAL rank via range partition +
    // zipWithIndex (GlobalOrder) — at N=25 nations a plain window
    // would do, but the operator's web-domain pitch has N = 10^8
    // nodes, where `Window.orderBy` with no partition is a
    // SinglePartition funnel (the B58→B58b lesson).
    val ranked = GlobalOrder.index(
      nodes0.join(r, Seq("key")).select(col("n_name"), col("r")),
      col("r").desc, col("n_name"))
    ranked
      .select((col("rn") + 1L).as("rank"), col("n_name"),
        col("r").as("pagerank_micro"))
      .orderBy("rank")
  }

  /** DuckDB oracle for B62: the same recurrence as PrIters unrolled
    * CTEs — per-edge integer floors make every round bit-identical.
    */
  def pagerankOracleSql: String = {
    val iters = (1 to PrIters).map { k =>
      val prev = if (k == 1) "r0" else s"r${k - 1}"
      s"""r$k AS (
        SELECT n.key, (150000 // ns.nn) + coalesce(i.inc, 0) AS r
        FROM nodes n CROSS JOIN ns LEFT JOIN (
          SELECT f.v, sum((850 * p.r * f.frac_micro) // 1000000000) AS inc
          FROM frac f JOIN $prev p ON f.u = p.key GROUP BY f.v) i
        ON n.key = i.v)"""
    }.mkString(",\n      ")
    s"""
      WITH nodes AS (SELECT n_nationkey AS key, n_name FROM nation),
      ns AS (SELECT count(*) AS nn FROM nodes),
      e AS (
        SELECT s_nationkey AS u, c_nationkey AS v, count(*) AS n_uv
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_nationkey, c_nationkey
      ), outs AS (SELECT u, sum(n_uv) AS out_u FROM e GROUP BY u),
      frac AS (
        SELECT e.u, e.v, (e.n_uv * 1000000) // o.out_u AS frac_micro
        FROM e JOIN outs o ON e.u = o.u
      ),
      r0 AS (SELECT key, 1000000 // nn AS r FROM nodes CROSS JOIN ns),
      $iters
      SELECT CAST(rank AS BIGINT) AS rank, n_name,
             CAST(r AS BIGINT) AS pagerank_micro
      FROM (
        SELECT row_number() OVER (ORDER BY r DESC, n_name) AS rank,
               n_name, r
        FROM r$PrIters JOIN nodes USING (key))
      ORDER BY rank"""
  }
}
