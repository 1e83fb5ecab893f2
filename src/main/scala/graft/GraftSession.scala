package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with the engine's standard tuning.
  *
  * Tuned for local[32] testing but with settings that scale to a real
  * cluster: AQE (runtime re-plan + skew-join splitting), partition
  * coalescing, and a broadcast threshold sized for TPC-H-ratio dims.
  */
object GraftSession {

  /** Apply graft's standard config to an existing builder. */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    .config("spark.sql.parquet.filterPushdown", "true")
    // testdata events.parquet carries TIMESTAMP(NANOS) which Spark 4
    // refuses by default; read as long ns and convert explicitly.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.warehouse.dir",
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_warehouse/spark")
    .config("spark.sql.parquet.aggregatePushdown", "true")
    // runtime row-level join pruning: a bloom filter built from the
    // filtered build side prunes the probe-side scan before the shuffle
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    .config("spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled", "false")
    // local file:// without permission-materializing forks or .crc
    // sidecar doubling (see GraftLocalFileSystem); inert on cluster
    // filesystems, which keep their own impls
    .config("spark.hadoop.fs.file.impl", "graft.sources.GraftLocalFileSystem")
    // the same for FileContext users (streaming checkpoints)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "graft.sources.GraftLocalFs")
    .config("spark.ui.enabled", "false")
    // Janino-compiled classes are cached by generated source, and graft
    // re-runs the same scan/join/aggregate/sort shapes: one pass of
    // graft.Bench's headline keys at sf0.01 generates ~1275 distinct
    // classes, perfbench's analytics_read ~220. Spark's default of 100
    // entries evicts each class before its next use, so every warm pass
    // recompiled nearly all of them (~37% of executor-task time in
    // analytics_read). 2000 holds the largest measured working set with
    // headroom. Static and JVM-wide: CodeGenerator reads it once, when
    // its cache is first built, so it applies only when this builder
    // creates the JVM's first session; an earlier session keeps 100.
    .config("spark.sql.codegen.cache.maxEntries", "2000")

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Load a named table from an sf directory (TESTDATA.md layout).
    * Schema resolves driver-side from one footer (no inference job).
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.sources.GraftIO.readParquet(spark, s"$sfDir/$name.parquet")

  /** Operator-grain cache lifecycle (r12 discipline). Operators cache
    * intermediate GRAINS (a tokenize pass, a signature table) that
    * their RETURNED plan references — the cache must outlive the
    * operator call (the caller's action is what pays it off), so a
    * try/finally unpersist inside the operator would silently
    * recompute the grain per consumer (the very double-tokenize class
    * GraftDoctor lints). Instead every grain registers here at cache
    * time (`grainCache()`), and the session owner releases them ALL
    * at its composition boundary with [[releaseGrains]] — between
    * queries (what Bench's clearCache already did), after a pipeline
    * stage, on a serving-session cadence. References are STRONG by
    * necessity: the CacheManager keeps a cached plan alive even after
    * the operator's local Dataset is garbage-collected, so the
    * registry's handle is the only thing that can still unpersist it —
    * and it is cleared (bounded) at every release point.
    */
  private val grainRegistry: java.util.Set[org.apache.spark.sql.Dataset[_]] =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.concurrent.ConcurrentHashMap[org.apache.spark.sql.Dataset[_], java.lang.Boolean]()))

  private[graft] def trackGrain(ds: org.apache.spark.sql.Dataset[_]): Unit =
    grainRegistry.add(ds)

  /** Unpersist every tracked operator grain (blocking=false). Safe at
    * any point — an unpersisted grain recomputes, never errors — and
    * precise: ONLY graft's operator-local caches are dropped, a
    * caller's own cached frames survive (the advantage over
    * `spark.catalog.clearCache()`). Returns how many grains released.
    */
  def releaseGrains(): Int = {
    val snapshot = grainRegistry.synchronized {
      val s = new java.util.ArrayList(grainRegistry)
      grainRegistry.clear()
      s
    }
    snapshot.forEach(_.unpersist(false))
    snapshot.size
  }

  /** Fills `grain`'s cache (one `count()`) on a second driver thread
    * while `body` runs on this one, and returns `body`'s result once
    * both are done. The fill thread is started here, so it inherits a
    * copy of this thread's SparkContext local properties (job group,
    * description, scheduler pool): `cancelJobGroup` on the caller's
    * group reaches the fill. A failed fill rethrows here; if `body`
    * throws (or the wait is interrupted), the fill is cancelled before
    * the exception propagates.
    */
  private[graft] def fillAlongside[A](grain: org.apache.spark.sql.Dataset[_])(body: => A): A = {
    val sc = grain.sparkSession.sparkContext
    val tag = s"graft-fill-${java.util.UUID.randomUUID()}"
    @volatile var failure: Throwable = null
    val fill = new Thread(() => {
      sc.addJobTag(tag)
      try grain.count() catch { case e: Throwable => failure = e }
    }, "graft-grain-fill")
    fill.setDaemon(true)
    fill.start()
    try {
      val out = body
      fill.join()
      if (failure != null) throw failure
      out
    } catch { case e: Throwable =>
      // re-cancel until the thread ends: a job the fill submits after
      // one cancel is caught by the next
      while (fill.isAlive) {
        sc.cancelJobsWithTag(tag)
        fill.join(100)
      }
      throw e
    }
  }

  implicit class GrainOps[T](private val ds: org.apache.spark.sql.Dataset[T]) {
    /** `.grainCache()` — cache + register as an operator grain. The
      * cache fills lazily, inside the caller's first action. A grain
      * consumed by several of the final plan's LEAF exchanges races
      * there: AQE materializes those stages in PARALLEL, and
      * concurrent scans of a not-yet-filled cache each recompute the
      * full grain (measured: the exact-shingle grain computed 3× and
      * the funnel's token grain 5× per execution). An eager count()
      * fill would pay the grain once, but it adds a SERIAL stage to
      * the action chain, and the r17 A/B measured the lazy fill
      * wall-optimal at every corner of this box — 32c/sf0.1
      * (text_decontaminate 0.28→0.76 s eager), 32c/sf1 (funnel 15.7 s
      * lazy vs 19.2 s eager) and 8c/sf0.1 (funnel 5.2-6.2 s lazy vs
      * 7.0 s eager, two interleaved pairs) — because the duplicated
      * leaf compute back-fills scheduling slack. So the fill stays lazy.
      */
    def grainCache(): org.apache.spark.sql.Dataset[T] = {
      ds.cache()
      trackGrain(ds)
      ds
    }
  }

  /** Frees the storage blocks behind a localCheckpoint'd Dataset.
    * `Dataset.unpersist` only clears CacheManager entries and is a
    * NO-OP for checkpoints (verified on this Spark build): the blocks
    * belong to the materialized RDD inside the plan's LogicalRDD
    * leaf, so that RDD must be unpersisted directly. Call ONLY on a
    * checkpoint no live plan will read again — its lineage is
    * truncated, so dropped blocks cannot be recomputed.
    *
    * Accepts ONLY the checkpoint Dataset itself (analyzed plan = one
    * bare LogicalRDD leaf). A derived plan is rejected: it may join or
    * union OTHER still-live LogicalRDD leaves, and unpersisting every
    * leaf found would free those checkpoints' blocks too — later reads
    * then fail with missing blocks rather than recomputing, because
    * checkpoint lineage is truncated.
    */
  def releaseCheckpoint(df: org.apache.spark.sql.Dataset[_]): Unit = {
    val plan = df.queryExecution.analyzed
    require(plan.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      "[GRAFT] releaseCheckpoint takes the localCheckpoint Dataset itself " +
        s"(a bare LogicalRDD plan), not a derived plan: ${plan.nodeName}")
    plan.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.unpersist(false)
  }
}
