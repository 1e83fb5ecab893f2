package graft

import org.apache.spark.sql.functions._
import graft.sources.{GraftLease, GraftMor}

/** A42/A43 merge-on-read deletion vectors: the claims the oracle hash
  * can't see — which files are touched when, how tombstone epochs
  * accumulate, what the read plan looks like, and the lease contract
  * split (mutation safe under live readers, compaction not).
  */
class MorSpec extends SparkSpecBase {

  private def hfs(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sessionState.newHadoopConf())

  /** (path, length, mtime) of every visible data file — byte-identity
    * signature; `_dv` and other `_`/`.` bookkeeping excluded at every
    * segment.
    */
  private def dataSig(root: String): Set[(String, Long, Long)] = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = hfs(root)
    val rootPath = rp.toUri.getPath
    val out = Set.newBuilder[(String, Long, Long)]
    val it = fs.listFiles(rp, true)
    while (it.hasNext) {
      val f = it.next()
      val rel = f.getPath.toUri.getPath.stripPrefix(rootPath).stripPrefix("/")
      if (!rel.split('/').exists(s => s.startsWith("_") || s.startsWith(".")))
        out += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    out.result()
  }

  private def freshTable(name: String, nFiles: Int = 4): String = {
    val path = graft.sources.GraftSink.scratchDir + s"/mor_spec_$name"
    hfs(path).delete(new org.apache.hadoop.fs.Path(path), true)
    new graft.sources.GraftCatalog(spark, sfDir).table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .repartitionByRange(nFiles, col("o_orderkey"))
      .write.mode("overwrite").parquet(path)
    path
  }

  test("A42: a MOR delete touches no data file and the read hides exactly the doomed rows") {
    val path = freshTable("del")
    val before = dataSig(path)
    val all = spark.read.parquet(path)
    val doomedN = all.where(col("o_orderkey") % 10 === 3).count()
    GraftMor.morDelete(spark, path, col("o_orderkey") % 10 === 3)
    assert(dataSig(path) === before, "delete must not touch data files")
    val dv = spark.read.parquet(s"$path/${GraftMor.DvDir}")
    assert(dv.count() === doomedN)
    val read = GraftMor.morRead(spark, path)
    assert(read.count() === all.count() - doomedN)
    assert(read.where(col("o_orderkey") % 10 === 3).count() === 0)
  }

  test("A42: overlapping epochs are true deltas — already-tombstoned rows write no duplicate coordinates") {
    val path = freshTable("overlap")
    val all = spark.read.parquet(path)
    GraftMor.morDelete(spark, path, col("o_orderkey") % 10 === 3)
    // second delete overlaps the first (every %30==3 key is %10==3)
    GraftMor.morDeleteKeys(spark, path,
      all.where(col("o_orderkey") % 30 === 3 || col("o_orderkey") % 10 === 4),
      Seq("o_orderkey"))
    val dv = spark.read.parquet(s"$path/${GraftMor.DvDir}")
    val expected = all.where(col("o_orderkey") % 10 === 3 ||
                             col("o_orderkey") % 10 === 4).count()
    assert(dv.count() === expected, "overlap must not duplicate tombstones")
    assert(dv.select("dv_file", "dv_pos").distinct().count() === expected)
    assert(dv.select("epoch").distinct().count() === 2)
    assert(GraftMor.morRead(spark, path).count() === all.count() - expected)
  }

  test("A43: upsert appends new files, removes none, and the last version wins") {
    val path = freshTable("up")
    val before = dataSig(path)
    val orig = spark.read.parquet(path).localCheckpoint(true)
    val batch = orig.where(col("o_orderkey") % 500 === 0)
      .withColumn("o_totalprice", lit(7.25))
      // shuffled column order: morUpsert must realign to the target
      .select("o_totalprice", "o_orderkey", "o_custkey", "o_orderstatus")
    GraftMor.morUpsert(spark, path, batch, Seq("o_orderkey"))
    val after = dataSig(path)
    assert(before.subsetOf(after), "upsert must not remove or rewrite existing files")
    assert(after.size > before.size, "the update batch lands as appended files")
    val read = GraftMor.morRead(spark, path)
    assert(read.count() === orig.count())
    assert(read.where(col("o_orderkey") % 500 === 0)
      .agg(max("o_totalprice"), min("o_totalprice")).head().toSeq
      === Seq(7.25, 7.25))
    // second generation over the same keys supersedes the first
    GraftMor.morUpsert(spark, path,
      orig.where(col("o_orderkey") % 500 === 0)
        .withColumn("o_totalprice", lit(9.5)), Seq("o_orderkey"))
    val read2 = GraftMor.morRead(spark, path)
    assert(read2.count() === orig.count())
    assert(read2.where(col("o_orderkey") % 500 === 0)
      .agg(min("o_totalprice")).head().getDouble(0) === 9.5)
  }

  test("A42: compaction rewrites only the affected files, clears the vector, and preserves content") {
    val path = freshTable("cp", nFiles = 6)
    val all = spark.read.parquet(path)
    // range layout: a delete confined to the lowest keys touches only
    // the file(s) holding them
    val cut = all.agg(expr("percentile_approx(o_orderkey, 0.05)")).head().get(0)
      .toString.toDouble.toLong
    GraftMor.morDelete(spark, path, col("o_orderkey") <= cut)
    val preRead = GraftMor.morRead(spark, path).orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq
    val before = dataSig(path)
    // dv_file coordinates are stored scheme-less (the canonical space
    // shared with the delta DML writer); normalize listing paths too
    def normP(p: String) = p.replaceFirst("^[a-zA-Z0-9.+-]+:/+", "/")
    val affected = spark.read.parquet(s"$path/${GraftMor.DvDir}")
      .select("dv_file").distinct().collect().map(_.getString(0)).toSet
    assert(affected.nonEmpty && affected.size < before.size,
      s"the delete must be confined to a strict file subset (${affected.size}/${before.size})")
    GraftMor.morCompact(spark, path)
    val after = dataSig(path)
    // untouched files byte-identical; affected files gone
    assert(before.filterNot(f => affected(normP(f._1))).subsetOf(after))
    assert(after.map(f => normP(f._1)).intersect(affected) === Set.empty)
    assert(!hfs(path).exists(new org.apache.hadoop.fs.Path(s"$path/${GraftMor.DvDir}")),
      "compaction clears the sidecar")
    val postRead = GraftMor.morRead(spark, path).orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq
    assert(postRead === preRead, "compaction must not change content")
    // idempotent: nothing left to fold
    val sig2 = dataSig(path)
    GraftMor.morCompact(spark, path)
    assert(dataSig(path) === sig2, "a second compact is a physical no-op")
  }

  test("A42: the MOR read plans a broadcast anti-join (no shuffle of the fact) and survives the no-broadcast fallback") {
    val path = freshTable("plan")
    GraftMor.morDelete(spark, path, col("o_orderkey") % 7 === 0)
    val read = GraftMor.morRead(spark, path)
    read.collect() // materialize so AQE finalizes stages
    val nodes = allPlanNodes(read.queryExecution.executedPlan)
    assert(nodes.exists {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        b.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti
      case _ => false
    }, "the vector side must broadcast")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
      "the fact side must not shuffle for the anti-join")
    // oversized-vector fallback: same rows through the shuffled plan
    val fallback = GraftMor.morRead(spark, path, maxBroadcastBytes = 0L)
    assert(fallback.count() === read.count())
  }

  test("A24 contract split: mutation is safe under a live reader lease; compaction is refused") {
    val path = freshTable("lease")
    val lease = GraftLease.acquire(spark, path)
    try {
      GraftMor.morDelete(spark, path, col("o_orderkey") % 11 === 0) // allowed: unlinks nothing
      val e = intercept[IllegalStateException](GraftMor.morCompact(spark, path))
      assert(e.getMessage.contains("lease"), e.getMessage)
    } finally GraftLease.release(spark, path, lease)
    GraftMor.morCompact(spark, path) // lease released → proceeds
    assert(GraftMor.morRead(spark, path)
      .where(col("o_orderkey") % 11 === 0).count() === 0)
  }

  test("A44: an equality delete reads zero table bytes at write time, masks every current match, and masks future appends of the key") {
    import spark.implicits._
    val path = freshTable("eq")
    val all = spark.read.parquet(path).localCheckpoint(true)
    val before = dataSig(path)
    // the erase is a plain key-list write — assert no action scanned
    // the table's data files (QueryExecutionListener events are async:
    // wait for at least the write's own event, then check none
    // carried a FileSourceScan over this table)
    @volatile var actions = 0
    @volatile var scans = 0
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        actions += 1
        if (allPlanNodes(qe.executedPlan).exists {
          case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
            sc.relation.location.rootPaths.exists(_.toString.contains("mor_spec_eq"))
          case _ => false
        }) scans += 1
      }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(qeListener)
    try {
      GraftMor.morErase(spark, path,
        Seq(1L, 7L, 900L).toDF("o_custkey"), Seq("o_custkey"))
      val deadline = System.currentTimeMillis() + 10000
      while (actions < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(actions >= 1, "the erase write's execution event must arrive")
    } finally spark.listenerManager.unregister(qeListener)
    assert(scans === 0, "morErase must not scan the table")
    assert(dataSig(path) === before, "erase must not touch data files")
    val read = GraftMor.morRead(spark, path)
    assert(read.where(col("o_custkey").isin(1L, 7L, 900L)).count() === 0)
    assert(read.count() ===
      all.where(!col("o_custkey").isin(1L, 7L, 900L)).count())
    // the forward-looking mask: a straggler append for an erased key
    // stays hidden; a live key's append is served
    Seq((900000000L, 7L, "F", 1.0), (900000001L, 2L, "F", 1.0))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write.mode("append").parquet(path)
    val read2 = GraftMor.morRead(spark, path)
    assert(read2.where(col("o_orderkey") === 900000000L).count() === 0,
      "an erased key's straggler must stay masked")
    assert(read2.where(col("o_orderkey") === 900000001L).count() === 1)
  }

  test("A44: mixed-key erase epochs are refused; unknown key columns are refused") {
    val path = freshTable("eqkeys")
    import spark.implicits._
    GraftMor.morErase(spark, path, Seq(1L).toDF("o_custkey"), Seq("o_custkey"))
    val e1 = intercept[IllegalArgumentException](
      GraftMor.morErase(spark, path, Seq(1L).toDF("o_orderkey"), Seq("o_orderkey")))
    assert(e1.getMessage.contains("differ"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      GraftMor.morErase(spark, path, Seq(1L).toDF("nope"), Seq("nope")))
    assert(e2.getMessage.contains("absent"), e2.getMessage)
  }

  test("A45: eq-upsert reads zero table bytes per batch, chains generations by sequence, and an erase outranks later upserts") {
    import spark.implicits._
    val path = freshTable("ueq")
    val all = spark.read.parquet(path).localCheckpoint(true)
    val before = dataSig(path)
    @volatile var actions = 0
    @volatile var scans = 0
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        actions += 1
        if (allPlanNodes(qe.executedPlan).exists {
          case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
            sc.relation.location.rootPaths.exists(_.toString.contains("mor_spec_ueq"))
          case _ => false
        }) scans += 1
      }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(qeListener)
    try {
      GraftMor.morUpsertEq(spark, path,
        all.where(col("o_orderkey") % 500 === 0)
          .withColumn("o_totalprice", lit(7.25)), Seq("o_orderkey"))
      // tombstone + append = two write actions; the sequence manifest
      // is written on the driver
      val deadline = System.currentTimeMillis() + 10000
      while (actions < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(actions >= 2, "the two eq-upsert writes' events must arrive")
      assert(GraftMor.sidecars(spark, path).seqm.size === 1)
    } finally spark.listenerManager.unregister(qeListener)
    assert(scans === 0, "morUpsertEq must not scan the table")
    assert(before.subsetOf(dataSig(path)),
      "eq-upsert must not remove or rewrite existing files")
    val read1 = GraftMor.morRead(spark, path)
    assert(read1.count() === all.count())
    assert(read1.where(col("o_orderkey") % 500 === 0)
      .agg(max("o_totalprice"), min("o_totalprice")).head().toSeq
      === Seq(7.25, 7.25), "the tombstone hides every older version, never its own batch")
    // generation 2: a higher sequence supersedes generation 1's appends
    GraftMor.morUpsertEq(spark, path,
      all.where(col("o_orderkey") % 500 === 0)
        .withColumn("o_totalprice", lit(9.5)), Seq("o_orderkey"))
    val read2 = GraftMor.morRead(spark, path)
    assert(read2.count() === all.count())
    assert(read2.where(col("o_orderkey") % 500 === 0)
      .agg(max("o_totalprice"), min("o_totalprice")).head().toSeq === Seq(9.5, 9.5))
    // an erase (infinite sequence) outranks a LATER upsert: the
    // resurrection attempt's appended row stays masked
    val ks = all.where(col("o_orderkey") % 500 === 0)
      .select("o_orderkey").orderBy("o_orderkey")
      .limit(2).collect().map(_.getLong(0))
    val (kDead, kLive) = (ks(0), ks(1))
    GraftMor.morErase(spark, path,
      Seq(kDead).toDF("o_orderkey"), Seq("o_orderkey"))
    GraftMor.morUpsertEq(spark, path,
      Seq((kDead, 1L, "F", 11.0), (kLive, 1L, "F", 12.0))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
      Seq("o_orderkey"))
    val read3 = GraftMor.morRead(spark, path)
    assert(read3.where(col("o_orderkey") === kDead).count() === 0,
      "an erased key stays masked through later upserts")
    assert(read3.where(col("o_orderkey") === kLive).collect()
      .map(_.getAs[Double]("o_totalprice")).toSeq === Seq(12.0))
    assert(read3.count() === all.count() - 1)
    // a PLAIN append carries no manifest entry: it sequences as a base
    // file, so an already-upserted key's straggler is masked
    Seq((kLive, 1L, "F", 999.0))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write.mode("append").parquet(path)
    val read4 = GraftMor.morRead(spark, path)
    assert(read4.where(col("o_orderkey") === kLive).collect()
      .map(_.getAs[Double]("o_totalprice")).toSeq === Seq(12.0),
      "plain appends sequence as base files under existing tombstones")
  }

  test("A45: compaction folds the sequence rule — survivors exact, all three sidecars cleared, untouched files identical") {
    import spark.implicits._
    val path = freshTable("ueqcp", nFiles = 6)
    val all = spark.read.parquet(path).localCheckpoint(true)
    // confine the churn to the lowest keys so high-range files stay out
    val cut = all.agg(expr("percentile_approx(o_orderkey, 0.10)")).head()
      .get(0).toString.toDouble.toLong
    GraftMor.morUpsertEq(spark, path,
      all.where(col("o_orderkey") <= cut)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
      Seq("o_orderkey"))
    GraftMor.morErase(spark, path,
      all.where(col("o_orderkey") <= cut / 2).select("o_orderkey"),
      Seq("o_orderkey"))
    val expect = GraftMor.morRead(spark, path)
      .orderBy("o_orderkey").collect().toSeq
    val untouched = dataSig(path).filter { case (f, _, _) =>
      spark.read.parquet(f).agg(min("o_orderkey")).head().getLong(0) > cut }
    assert(untouched.nonEmpty, "the layout must leave unaffected files")
    GraftMor.morCompact(spark, path)
    for (d <- Seq(GraftMor.DvDir, GraftMor.EqDir, GraftMor.SeqDir))
      assert(!hfs(path).exists(new org.apache.hadoop.fs.Path(s"$path/$d")),
        s"$d must be cleared")
    assert(untouched.subsetOf(dataSig(path)),
      "files without masked rows keep their bytes")
    assert(GraftMor.morRead(spark, path).orderBy("o_orderkey")
      .collect().toSeq === expect, "compaction changes where, never what")
    // idempotent: a second compact is a physical no-op
    val sig2 = dataSig(path)
    GraftMor.morCompact(spark, path)
    assert(dataSig(path) === sig2)
  }

  test("A46: incremental aggregate maintenance refreshes from churn only, no-ops cleanly, refuses eq sidecars, rebuilds after compaction") {
    import spark.implicits._
    val path = freshTable("iagg")
    val summary = graft.sources.GraftSink.scratchDir + "/mor_spec_iagg_sum"
    hfs(summary).delete(new org.apache.hadoop.fs.Path(summary), true)
    val all = spark.read.parquet(path).localCheckpoint(true)
    def partial(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(28, 6)))
          .as("total_d"))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderstatus").collect().map(_.toSeq).toSeq
    def recompute() = snap(partial(GraftMor.morRead(spark, path)))
    // build: equals the full recompute
    val built = GraftMor.morIncrementalAgg(
      spark, path, summary, Seq("o_orderstatus"), partial)
    assert(snap(built) === recompute())
    // mutate, then refresh — asserting no scan roots at the BARE table
    // dir (file-scoped churn reads and sidecar reads only)
    GraftMor.morDelete(spark, path, col("o_orderkey") % 10 === 3)
    GraftMor.morUpsert(spark, path,
      all.where(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
      Seq("o_orderkey"))
    val tableDir = new org.apache.hadoop.fs.Path(path).toUri.getPath
    @volatile var actions = 0
    @volatile var tableScans = 0
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        actions += 1
        if (allPlanNodes(qe.executedPlan).exists {
          case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
            sc.relation.location.rootPaths.exists(_.toUri.getPath == tableDir)
          case _ => false
        }) tableScans += 1
      }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(qeListener)
    val refreshed = try {
      val r = GraftMor.morIncrementalAgg(
        spark, path, summary, Seq("o_orderstatus"), partial)
      val deadline = System.currentTimeMillis() + 10000
      while (actions < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(actions >= 1, "the refresh's execution events must arrive")
      r
    } finally spark.listenerManager.unregister(qeListener)
    assert(tableScans === 0, "a refresh must never rescan the base table")
    assert(snap(refreshed) === recompute())
    // nothing new: physical no-op (summary file identity unchanged)
    val sig1 = dataSig(summary)
    GraftMor.morIncrementalAgg(spark, path, summary, Seq("o_orderstatus"), partial)
    assert(dataSig(summary) === sig1, "an unchanged table must not rewrite the summary")
    // equality sidecars are refused BY NAME
    GraftMor.morErase(spark, path, Seq(1L).toDF("o_custkey"), Seq("o_custkey"))
    val e = intercept[IllegalArgumentException](GraftMor.morIncrementalAgg(
      spark, path, summary, Seq("o_orderstatus"), partial))
    assert(e.getMessage.contains("morCompact"), e.getMessage)
    // compaction rewrites history → the next refresh REBUILDS, exactly
    GraftMor.morCompact(spark, path)
    val rebuilt = GraftMor.morIncrementalAgg(
      spark, path, summary, Seq("o_orderstatus"), partial)
    assert(snap(rebuilt) === recompute())
    // crash adoption: a committed staging with no live summary is adopted
    val fsm = hfs(summary)
    assert(fsm.rename(new org.apache.hadoop.fs.Path(summary),
      new org.apache.hadoop.fs.Path(s"$summary.staging")))
    val adopted = GraftMor.morIncrementalAgg(
      spark, path, summary, Seq("o_orderstatus"), partial)
    assert(snap(adopted) === recompute())
  }

  test("A46: a group whose count reaches zero leaves the summary") {
    import spark.implicits._
    val path = graft.sources.GraftSink.scratchDir + "/mor_spec_iagg0"
    val summary = s"${path}_sum"
    hfs(path).delete(new org.apache.hadoop.fs.Path(path), true)
    hfs(summary).delete(new org.apache.hadoop.fs.Path(summary), true)
    spark.range(10).select((col("id") % 2).as("g"), col("id").as("v"))
      .write.parquet(path)
    def partial(df: org.apache.spark.sql.DataFrame) = df.groupBy("g")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
    GraftMor.morIncrementalAgg(spark, path, summary, Seq("g"), partial)
    GraftMor.morDelete(spark, path, col("g") === 0L)
    val after = GraftMor.morIncrementalAgg(spark, path, summary, Seq("g"), partial)
    assert(after.collect().map(_.toSeq).toSeq === Seq(Seq(1L, 5L, 25L)),
      "the emptied group must leave the summary")
  }

  test("A48: retention sweep unlinks wholly-old files with zero rows read, tombstones straddlers, advises from footers, and is idempotent") {
    import graft.sources.GraftAdvisor
    val path = graft.sources.GraftSink.scratchDir + "/mor_spec_retention"
    hfs(path).delete(new org.apache.hadoop.fs.Path(path), true)
    new graft.sources.GraftCatalog(spark, sfDir).table("orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .repartitionByRange(8, col("o_orderdate"))
      .write.mode("overwrite").parquet(path)
    val all = spark.read.parquet(path).localCheckpoint(true)
    val cutoff = java.time.LocalDateTime.of(1996, 1, 1, 0, 0)
    val cutoffLit = lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
    val nOld = all.where(col("o_orderdate") < cutoffLit).count()
    assert(nOld > 0, "the corpus must span the cutoff")
    // the advisor prices the sweep from footers before anything runs
    val advice = GraftAdvisor.adviseRetention(spark, path, "o_orderdate", cutoff)
    assert(advice.exists(_.rule === "retention-due"), advice.toString)
    val whollyAdvised = advice.head.metric
    assert(whollyAdvised >= 1L, "range layout must make whole files old")
    val filesBefore = dataSig(path)
    val (dropped, tombstoned) =
      GraftMor.retentionSweep(spark, path, "o_orderdate", cutoff)
    assert(dropped.toLong === whollyAdvised,
      "the sweep drops exactly what the advisor priced")
    assert(tombstoned > 0L, "the straddling file's old rows tombstone")
    assert(dataSig(path).size === filesBefore.size - dropped)
    // served state is exactly the retained corpus
    val served = GraftMor.morRead(spark, path)
    assert(served.count() === all.count() - nOld)
    assert(served.where(col("o_orderdate") < cutoffLit).count() === 0)
    // files wholly PAST the cutoff keep their bytes
    val survivors = dataSig(path)
    val untouchedYoung = filesBefore.filter { case sig@(f, _, _) =>
      survivors.contains(sig) }
    assert(untouchedYoung.nonEmpty)
    // the advice clears once the whole files are gone
    assert(GraftAdvisor.adviseRetention(spark, path, "o_orderdate", cutoff)
      .isEmpty, "acting on the advice must clear it")
    // idempotent: a second sweep finds nothing whole to drop and no
    // untombstoned old row
    assert(GraftMor.retentionSweep(spark, path, "o_orderdate", cutoff)
      === ((0, 0L)))
    assert(dataSig(path) === survivors)
  }

  test("A49: the change feed publishes exactly the churn, folds to the recompute, no-ops cleanly, and refuses rewritten history") {
    import spark.implicits._
    val root = graft.sources.GraftSink.scratchDir + "/mor_spec_feed"
    hfs(root).delete(new org.apache.hadoop.fs.Path(root), true)
    val path = s"$root/t"
    val feed = s"$root/feed"
    new graft.sources.GraftCatalog(spark, sfDir).table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .repartitionByRange(4, col("o_orderkey"))
      .write.mode("overwrite").parquet(path)
    val all = spark.read.parquet(path).localCheckpoint(true)
    // snapshot segment: the whole current state as inserts
    assert(GraftMor.publishMorFeed(spark, path, feed) === 0L)
    val snap = spark.read.parquet(s"$root/feed/segments/seq=0")
    assert(snap.count() === all.count())
    assert(snap.where(col("change_type") =!= "I").count() === 0)
    // churn: delete + upsert → the delta carries EXACTLY the doomed
    // images and the appended versions
    GraftMor.morDelete(spark, path, col("o_orderkey") % 10 === 3)
    val bumps = all.where(col("o_orderkey") % 100 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
      .localCheckpoint(true)
    GraftMor.morUpsert(spark, path, bumps, Seq("o_orderkey"))
    assert(GraftMor.publishMorFeed(spark, path, feed) === 1L)
    val delta = spark.read.parquet(s"$root/feed/segments/seq=1")
    val nDeleted = all.where(col("o_orderkey") % 10 === 3).count()
    assert(delta.where(col("change_type") === "D").count()
      === nDeleted + bumps.count(), "doomed rows + upserted originals")
    assert(delta.where(col("change_type") === "I").count() === bumps.count())
    // nothing new: no-op, same tip, no new segment dir
    assert(GraftMor.publishMorFeed(spark, path, feed) === 1L)
    assert(!hfs(feed).exists(
      new org.apache.hadoop.fs.Path(s"$feed/segments/seq=2")))
    // the downstream fold over segments alone equals the recompute
    val signed = when(col("change_type") === "I", lit(1L)).otherwise(lit(-1L))
    val folded = GraftMor.readMorFeed(spark, feed, -1L, 1L)
      .groupBy("o_orderstatus").agg(sum(signed).as("n"))
      .where(col("n") =!= 0L).orderBy("o_orderstatus")
      .collect().map(_.toSeq).toSeq
    val recomputed = GraftMor.morRead(spark, path)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus").collect().map(_.toSeq).toSeq
    assert(folded === recomputed)
    // eq sidecars are refused BY NAME
    GraftMor.morErase(spark, path, Seq(1L).toDF("o_custkey"), Seq("o_custkey"))
    val e = intercept[IllegalArgumentException](
      GraftMor.publishMorFeed(spark, path, feed))
    assert(e.getMessage.contains("morCompact"), e.getMessage)
    // rewritten history is refused BY NAME — downstream must resync
    GraftMor.morCompact(spark, path)
    val e2 = intercept[IllegalStateException](
      GraftMor.publishMorFeed(spark, path, feed))
    assert(e2.getMessage.contains("resync"), e2.getMessage)
  }

  test("A50: the durable feed consumer folds segments to the recompute, no-ops on replay, and adopts a crashed swap") {
    val root = graft.sources.GraftSink.scratchDir + "/mor_spec_consume"
    hfs(root).delete(new org.apache.hadoop.fs.Path(root), true)
    val path = s"$root/t"
    val feed = s"$root/feed"
    val rollup = s"$root/rollup"
    new graft.sources.GraftCatalog(spark, sfDir).table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .repartitionByRange(4, col("o_orderkey"))
      .write.mode("overwrite").parquet(path)
    val all = spark.read.parquet(path).localCheckpoint(true)
    def partial(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(28, 6)))
          .as("total_d"))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderstatus").collect().map(_.toSeq).toSeq
    def recompute() = snap(partial(GraftMor.morRead(spark, path)))
    def consume() = GraftMor.consumeMorFeed(
      spark, feed, rollup, Seq("o_orderstatus"), partial)
    GraftMor.publishMorFeed(spark, path, feed)
    assert(snap(consume()) === recompute(), "snapshot fold")
    // churn, publish, consume — the consumer never sees the table
    GraftMor.morDelete(spark, path, col("o_orderkey") % 10 === 3)
    GraftMor.morUpsert(spark, path,
      all.where(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
      Seq("o_orderkey"))
    GraftMor.publishMorFeed(spark, path, feed)
    assert(snap(consume()) === recompute(), "delta fold")
    // replay with no new segments: physical no-op
    val sig = dataSig(rollup)
    consume()
    assert(dataSig(rollup) === sig, "a caught-up consumer rewrites nothing")
    // crash between delete and rename: the next call adopts the
    // committed staging and serves it
    assert(hfs(rollup).rename(
      new org.apache.hadoop.fs.Path(s"$rollup/rollup"),
      new org.apache.hadoop.fs.Path(s"$rollup/rollup.staging")))
    assert(snap(consume()) === recompute(), "crash adoption")
  }

  test("A44: compaction folds position AND equality vectors — affected files only, both sidecars cleared, content preserved") {
    val path = freshTable("eqcp", nFiles = 6)
    val all = spark.read.parquet(path).localCheckpoint(true)
    // position delete confined to the lowest keys; equality erase on
    // a handful of customers scattered anywhere
    val cut = all.agg(expr("percentile_approx(o_orderkey, 0.05)")).head().get(0)
      .toString.toDouble.toLong
    GraftMor.morDelete(spark, path, col("o_orderkey") <= cut)
    import spark.implicits._
    val victims = all.select("o_custkey").distinct().orderBy("o_custkey")
      .limit(3).collect().map(_.getLong(0)).toSeq
    GraftMor.morErase(spark, path, victims.toDF("o_custkey"), Seq("o_custkey"))
    val preRead = GraftMor.morRead(spark, path).orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq
    GraftMor.morCompact(spark, path)
    assert(!hfs(path).exists(new org.apache.hadoop.fs.Path(s"$path/${GraftMor.DvDir}")))
    assert(!hfs(path).exists(new org.apache.hadoop.fs.Path(s"$path/${GraftMor.EqDir}")))
    val postRead = GraftMor.morRead(spark, path).orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq
    assert(postRead === preRead, "folding both vectors must not change content")
    // after the fold the table serves the same rows through a PLAIN scan
    assert(spark.read.parquet(path).count() === preRead.size)
    // physical erasure happened: the erased keys are gone from raw bytes
    assert(spark.read.parquet(path)
      .where(col("o_custkey").isin(victims.map(x => x: Any): _*)).count() === 0)
    // an eq-only compact (fresh erase, no position vector) also folds
    GraftMor.morErase(spark, path,
      all.select("o_custkey").distinct().orderBy(col("o_custkey").desc)
        .limit(1), Seq("o_custkey"))
    val pre2 = GraftMor.morRead(spark, path).count()
    GraftMor.morCompact(spark, path)
    assert(spark.read.parquet(path).count() === pre2)
    assert(!hfs(path).exists(new org.apache.hadoop.fs.Path(s"$path/${GraftMor.EqDir}")))
  }

  test("A42: compaction of a hive-partitioned table keeps the layout and partition pruning") {
    val path = graft.sources.GraftSink.scratchDir + "/mor_spec_part"
    hfs(path).delete(new org.apache.hadoop.fs.Path(path), true)
    val orders = new graft.sources.GraftCatalog(spark, sfDir).table("orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    GraftMor.morDelete(spark, path,
      col("o_orderstatus") === "F" && col("o_orderkey") % 3 === 0)
    val expect = orders.where(
      !(col("o_orderstatus") === "F" && col("o_orderkey") % 3 === 0)).count()
    assert(GraftMor.morRead(spark, path).count() === expect)
    GraftMor.morCompact(spark, path, partitionCols = Seq("o_orderstatus"))
    val after = spark.read.parquet(path)
    assert(after.count() === expect)
    // survivors re-landed under partition directories — no file fell
    // flat to the table root (inputFiles ignores pushed filters, so
    // assert the LAYOUT, not a filtered listing)
    assert(after.inputFiles.nonEmpty &&
      after.inputFiles.forall(_.contains("o_orderstatus=")))
    assert(after.where(col("o_orderstatus") === "F").count() ===
      orders.where(col("o_orderstatus") === "F" &&
                   col("o_orderkey") % 3 =!= 0).count())
  }

  test("r12: COW rewrites refuse BY NAME while mutation sidecars are live — a raw rewrite would resurrect tombstones") {
    import spark.implicits._
    val path = freshTable("cowguard")
    GraftMor.morDelete(spark, path, col("o_orderkey") % 10 === 3)
    val e1 = intercept[IllegalStateException](
      graft.sources.GraftSink.mergeDelete(spark, path,
        Seq(1L).toDF("o_orderkey"), Seq("o_orderkey"), "o_orderstatus"))
    assert(e1.getMessage.contains("morCompact"), e1.getMessage)
    val e2 = intercept[IllegalStateException](
      graft.sources.GraftSink.compactTable(spark, path))
    assert(e2.getMessage.contains("resurrected"), e2.getMessage)
    // folding reunifies: the rewrite proceeds on the clean table
    GraftMor.morCompact(spark, path)
    graft.sources.GraftSink.compactTable(spark, path)
    assert(spark.read.parquet(path)
      .where(col("o_orderkey") % 10 === 3).count() === 0,
      "the fold must hold through the subsequent rewrite")
  }

  test("r12: constructing a morRead plan launches NO sizing job (listing-byte broadcast gates)") {
    val path = freshTable("nosize")
    GraftMor.morDelete(spark, path, col("o_orderkey") % 10 === 3)
    import spark.implicits._
    GraftMor.morErase(spark, path, Seq(1L).toDF("o_custkey"), Seq("o_custkey"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    val df = try {
      val d = GraftMor.morRead(spark, path)
      // sizing jobs (the old per-read count()s) would have run
      // SYNCHRONOUSLY inside the call; give the async listener bus a
      // moment to drain before asserting none started
      Thread.sleep(1500)
      d
    } finally spark.sparkContext.removeSparkListener(l)
    // the one allowed job is the TABLE read's parquet schema inference
    // (part of any Spark scan prep); the sidecar frames carry explicit
    // schemas and the old per-read count() sizing jobs are gone
    assert(jobs.get() <= 1,
      s"morRead construction must launch no sizing job, saw ${jobs.get()}")
    // and the gated plan still serves the masked answer
    assert(df.where(col("o_orderkey") % 10 === 3 || col("o_custkey") === 1L)
      .count() === 0)
  }

  test("A36xMOR: additive nullable columns LAND and serve null-filled; breaking changes are refused by name") {
    val path = freshTable("evolve")
    val all = spark.read.parquet(path).localCheckpoint(true)
    // breaking: a retype is refused naming the column
    val retyped = all.limit(1).withColumn("o_totalprice", lit("oops"))
    val e1 = intercept[IllegalStateException](
      GraftMor.morUpsert(spark, path, retyped, Seq("o_orderkey")))
    assert(e1.getMessage.contains("o_totalprice") &&
      e1.getMessage.contains("breaking"), e1.getMessage)
    // breaking: a dropped column is refused naming it
    val dropped = all.limit(1).drop("o_totalprice")
    val e2 = intercept[IllegalStateException](
      GraftMor.morUpsert(spark, path, dropped, Seq("o_orderkey")))
    assert(e2.getMessage.contains("o_totalprice"), e2.getMessage)
    assert(GraftMor.morRead(spark, path).columns.length === 4,
      "refused batches must leave the schema untouched")
    // additive: a new nullable column lands, old rows serve it as null
    val batch = all.where(col("o_orderkey") % 100 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
      .withColumn("o_channel", lit("web"))
    GraftMor.morUpsert(spark, path, batch, Seq("o_orderkey"))
    val read = GraftMor.morRead(spark, path)
    assert(read.columns.toSeq ===
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_channel"))
    val nBatch = batch.count()
    assert(read.where(col("o_channel") === "web").count() === nBatch)
    assert(read.where(col("o_channel").isNull).count() === all.count() - nBatch)
    // a second batch at the evolved width is a plain upsert
    GraftMor.morUpsert(spark, path,
      all.where(col("o_orderkey") % 200 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1001.0))
        .withColumn("o_channel", lit("app")),
      Seq("o_orderkey"))
    // compaction folds under the widened schema and the width survives
    GraftMor.morDelete(spark, path, col("o_orderkey") % 10 === 3)
    GraftMor.morCompact(spark, path)
    val post = GraftMor.morRead(spark, path)
    assert(post.columns.toSeq === read.columns.toSeq)
    assert(post.where(col("o_channel") === "app").count() ===
      all.where(col("o_orderkey") % 200 === 0).count())
    assert(post.where(col("o_orderkey") % 10 === 3).count() === 0)
  }

  test("A47: GraftCatalog.table composes the MOR masks, and a FRESH erase outranks the pinned snapshot") {
    import spark.implicits._
    val root = graft.sources.GraftSink.scratchDir + "/mor_spec_cat"
    val path = s"$root/orders_m.parquet"
    hfs(root).delete(new org.apache.hadoop.fs.Path(root), true)
    new graft.sources.GraftCatalog(spark, sfDir).table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .repartitionByRange(4, col("o_orderkey"))
      .write.mode("overwrite").parquet(path)
    GraftMor.morDelete(spark, path, col("o_orderkey") % 10 === 3)
    val cat = new graft.sources.GraftCatalog(spark, root)
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(sig(cat.table("orders_m")) === sig(GraftMor.morRead(spark, path)),
      "table() and morRead must give ONE answer on a mutated table")
    // history published BEFORE the erase...
    val epoch = cat.publishSnapshot("orders_m")
    val victim = cat.table("orders_m").select("o_custkey").head().getLong(0)
    // ...then the erase lands AFTER the catalog pinned its snapshot:
    // the GDPR mask must still apply — to the pin AND to time travel
    GraftMor.morErase(spark, path, Seq(victim).toDF("o_custkey"), Seq("o_custkey"))
    assert(cat.table("orders_m")
      .where(col("o_custkey") === victim).count() === 0,
      "a fresh erase must mask a pinned catalog read")
    assert(cat.tableAsOf("orders_m", epoch)
      .where(col("o_custkey") === victim).count() === 0,
      "a fresh erase must mask an addressed historical epoch")
    assert(cat.table("orders_m").count() ===
      GraftMor.morRead(spark, path).count())
  }

  test("A51: a HIVE-PARTITIONED MOR table serves masked through the catalog AND the SQL surface; partition-keyed erases compose") {
    import spark.implicits._
    val wh = graft.sources.GraftSink.scratchDir + "/mor_spec_part_wh"
    val path = s"$wh/db/t_part.parquet"
    hfs(wh).delete(new org.apache.hadoop.fs.Path(wh), true)
    spark.range(200).select(col("id").as("k"), (col("id") % 4).as("p"),
        (col("id") * 3).as("v"))
      .write.partitionBy("p").parquet(path)
    GraftMor.morDelete(spark, path, col("k") % 7 === 3)
    // equality erase keyed on the PARTITION column: the v2 reader must
    // evaluate it from the split's partition constants
    GraftMor.morErase(spark, path, Seq(2L).toDF("p"), Seq("p"))
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "p", "v").orderBy("k").collect().map(_.toSeq).toSeq
    val expect = sig(GraftMor.morRead(spark, path))
    assert(expect.nonEmpty)
    assert(!expect.exists(r => r(1) == 2L), "erased partition masked")
    assert(!expect.exists(r => r(0).asInstanceOf[Long] % 7 == 3))
    val cat = new graft.sources.GraftCatalog(spark, s"$wh/db")
    assert(sig(cat.table("t_part")) === expect, "catalog leg")
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftmorpart")
    spark.sql("REFRESH TABLE graftmorpart.db.t_part")
    assert(sig(spark.sql("SELECT k, p, v FROM graftmorpart.db.t_part")) === expect,
      "SQL leg")
    // partition-aware compaction folds; every surface then serves the
    // same plain state
    GraftMor.morCompact(spark, path, partitionCols = Seq("p"))
    spark.sql("REFRESH TABLE graftmorpart.db.t_part")
    assert(sig(spark.read.parquet(path)) === expect, "raw post-fold")
    assert(sig(spark.sql("SELECT k, p, v FROM graftmorpart.db.t_part")) === expect)
  }

  test("A43xA45: a position upsert after an equality upsert of the same key serves the new version on every read surface") {
    import spark.implicits._
    val wh = graft.sources.GraftSink.scratchDir + "/mor_spec_mix_wh"
    val path = s"$wh/db/t_mix.parquet"
    hfs(wh).delete(new org.apache.hadoop.fs.Path(wh), true)
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v").coalesce(1).write.parquet(path)
    GraftMor.morUpsertEq(spark, path, Seq((1L, 11.0)).toDF("k", "v"), Seq("k"))
    GraftMor.morUpsert(spark, path, Seq((1L, 12.0)).toDF("k", "v"), Seq("k"))
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v").orderBy("k").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val expect = Seq((1L, 12.0), (2L, 20.0))
    assert(sig(GraftMor.morRead(spark, path)) === expect, "morRead leg")
    assert(sig(new graft.sources.GraftCatalog(spark, s"$wh/db").table("t_mix")) === expect,
      "catalog leg")
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftmormix")
    spark.sql("REFRESH TABLE graftmormix.db.t_mix")
    assert(sig(spark.sql("SELECT k, v FROM graftmormix.db.t_mix")) === expect, "SQL leg")
    assert(!hfs(path).exists(new org.apache.hadoop.fs.Path(s"$path/_staging")),
      "the staged batch must move in completely")
    // compaction folds the mix to the same content
    GraftMor.morCompact(spark, path)
    assert(sig(spark.read.parquet(path)) === expect)
  }

  test("A42: a compaction whose staged survivor write fails throws and changes nothing") {
    import spark.implicits._
    val path = freshTable("stagefail")
    GraftMor.morDelete(spark, path, col("o_orderkey") % 10 === 3)
    val victim = spark.read.parquet(path).select("o_custkey").head().getLong(0)
    GraftMor.morErase(spark, path, Seq(victim).toDF("o_custkey"), Seq("o_custkey"))
    def content() = GraftMor.morRead(spark, path).orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq
    val files = dataSig(path)
    val side = GraftMor.sidecars(spark, path)
    val served = content()
    // a plain file where the staging dir goes makes the survivor write fail
    val blocker = new org.apache.hadoop.fs.Path(s"$path/_staging")
    hfs(path).create(blocker, false).close()
    intercept[Exception](GraftMor.morCompact(spark, path))
    assert(dataSig(path) === files, "no data file may change")
    assert(GraftMor.sidecars(spark, path) === side, "no sidecar may change")
    assert(content() === served)
    // with the blocker gone the same compaction folds
    hfs(path).delete(blocker, false)
    GraftMor.morCompact(spark, path)
    assert(!GraftMor.sidecars(spark, path).any)
    assert(!hfs(path).exists(blocker), "the staging shell must be cleaned up")
    assert(spark.read.parquet(path).orderBy("o_orderkey").collect().map(_.toSeq).toSeq
      === served)
  }

  test("A49/A50: the consumer folds only the COMMITTED tip; epoch counters stay monotone across a zero-rewrite compaction") {
    import spark.implicits._
    val root = graft.sources.GraftSink.scratchDir + "/mor_spec_feedfix"
    val path = s"$root/t"
    val feed = s"$root/feed"
    val roll = s"$root/roll"
    hfs(root).delete(new org.apache.hadoop.fs.Path(root), true)
    spark.range(100).select(col("id").as("k"), (col("id") % 5).as("g"),
        lit(1L).as("v"))
      .repartitionByRange(4, col("k")).write.parquet(path)
    def partial(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("sv"))
    def rollup() = GraftMor.consumeMorFeed(spark, feed, roll, Seq("g"), partial)
      .orderBy("g").collect().map(_.toSeq).toSeq
    def recompute() = partial(GraftMor.morRead(spark, path))
      .orderBy("g").collect().map(_.toSeq).toSeq
    GraftMor.publishMorFeed(spark, path, feed) // seq 0: snapshot
    assert(rollup() === recompute())
    // a publisher crashed mid-write beyond the committed tip: fake a
    // partial segment dir — the consumer must fold by the COMMITTED
    // sequence, not the listing, so the rollup is unchanged
    val f = hfs(root)
    org.apache.hadoop.fs.FileUtil.copy(f,
      new org.apache.hadoop.fs.Path(s"$feed/segments/seq=0"), f,
      new org.apache.hadoop.fs.Path(s"$feed/segments/seq=7"),
      false, spark.sessionState.newHadoopConf())
    assert(rollup() === recompute(),
      "a partial (uncommitted) segment must not fold into the rollup")
    f.delete(new org.apache.hadoop.fs.Path(s"$feed/segments/seq=7"), true)
    // a zero-row delete advances the epoch counter with no coordinates:
    // the publish lands an EMPTY segment instead of crashing
    GraftMor.morDelete(spark, path, col("k") > 1000000L)
    val s1 = GraftMor.publishMorFeed(spark, path, feed)
    assert(s1 === 1L)
    assert(rollup() === recompute())
    // zero-rewrite compaction (only the empty epoch folds): epoch
    // numbering must stay MONOTONE, so later real mutations are never
    // numbered below the consumer's watermark and silently dropped
    GraftMor.morCompact(spark, path)
    GraftMor.morDelete(spark, path, col("k") % 10 === 3L)
    val s2 = GraftMor.publishMorFeed(spark, path, feed)
    assert(s2 === 2L)
    assert(rollup() === recompute(),
      "mutations after a zero-rewrite compaction must reach the feed")
    assert(rollup().map(_(1)).map(_.asInstanceOf[Long]).sum === 90L)
  }

  test("A54: published epochs pin MUTATION STATE — AS OF after a delete serves post-delete, before serves pre-delete; erases mask every epoch; export/CDF refuse over masked epochs; compaction voids historical masks BY NAME") {
    import spark.implicits._
    import graft.sources.{GraftCatalog, GraftMor}
    val root = graft.sources.GraftSink.scratchDir + "/mor_tt_ladder"
    val path = s"$root/t_tt.parquet"
    hfs(root).delete(new org.apache.hadoop.fs.Path(root), true)
    spark.range(100).select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartition(2).write.parquet(path)
    val v1 = new GraftCatalog(spark, root).publishSnapshot("t_tt")
    GraftMor.morDelete(spark, path, col("k") % 10 === 3) // 10 rows
    val v2 = new GraftCatalog(spark, root).publishSnapshot("t_tt")
    GraftMor.morUpsert(spark, path,
      Seq((1L, 99991L), (2L, 99992L)).toDF("k", "v"), Seq("k"))
    val v3 = new GraftCatalog(spark, root).publishSnapshot("t_tt")
    val cat = new GraftCatalog(spark, root)
    // v1 (published BEFORE the delete) serves the pre-delete state
    assert(cat.tableAsOf("t_tt", v1).count() === 100L)
    assert(cat.tableAsOf("t_tt", v1).where(col("k") % 10 === 3).count() === 10L)
    // v2 (published AFTER the delete) serves the post-delete state —
    // and must NOT see the LATER upsert's tombstones or appends
    assert(cat.tableAsOf("t_tt", v2).count() === 90L)
    assert(cat.tableAsOf("t_tt", v2).where(col("k") % 10 === 3).count() === 0L)
    assert(cat.tableAsOf("t_tt", v2).where(col("k") === 1L)
      .head().getLong(1) === 10L,
      "an epoch published before an upsert must serve the old version")
    // v3 carries the upsert: new versions serve, no duplicates
    assert(cat.tableAsOf("t_tt", v3).count() === 90L)
    assert(cat.tableAsOf("t_tt", v3).where(col("k") === 1L)
      .head().getLong(1) === 99991L)
    assert(cat.tableAsOf("t_tt", v3).groupBy("k").count()
      .where(col("count") > 1L).count() === 0L)
    // snapshot export refuses over a masked epoch (a foreign parquet
    // reader cannot apply the masks); the pre-mutation epoch exports
    val eOut = s"$root/export.json"
    val e1 = intercept[IllegalStateException](
      cat.exportSnapshot("t_tt", v2, eOut))
    assert(e1.getMessage.contains("morCompact"), e1.getMessage)
    assert(cat.exportSnapshot("t_tt", v1, eOut).nonEmpty)
    // CDF between mask-bearing epochs refuses by name (file-set diffs
    // cannot see mask-only deltas — the MOR feed is the route)
    val e2 = intercept[IllegalStateException](
      cat.changesBetween("t_tt", v1, v2))
    assert(e2.getMessage.contains("publishMorFeed"), e2.getMessage)
    // a GDPR erase landing after ALL THREE publishes masks every epoch
    GraftMor.morErase(spark, path, Seq(5L).toDF("k"), Seq("k"))
    Seq(v1, v2, v3).foreach { v =>
      assert(cat.tableAsOf("t_tt", v).where(col("k") === 5L).count() === 0L,
        s"a fresh erase must mask epoch v$v") }
    // with a live erase sidecar, even the unmasked epoch refuses to
    // EXPORT (the mask can never reach a foreign reader)
    val e4 = intercept[IllegalStateException](
      cat.exportSnapshot("t_tt", v1, eOut))
    assert(e4.getMessage.contains("erasure is retroactive"), e4.getMessage)
    // A60: the MATERIALIZED route serves what the metadata-only export
    // refuses — a mask-APPLIED COW copy of the epoch, table untouched
    val preSig = dataSig(path)
    val mFiles = cat.exportSnapshotMaterialized("t_tt", v2, s"$root/exp_v2")
    assert(mFiles.nonEmpty)
    assert(dataSig(path) === preSig,
      "materialization must not touch the table")
    val foreign = spark.read.parquet(mFiles: _*) // plain reader, no graft
    assert(foreign.orderBy("k").collect().map(_.toSeq).toSeq ===
      cat.tableAsOf("t_tt", v2).orderBy("k").collect().map(_.toSeq).toSeq,
      "a foreign plain read of the materialized export must equal tableAsOf")
    assert(foreign.where(col("k") === 5L).count() === 0L,
      "the retroactive erase must ride into the export")
    // the manifest names exactly the materialized files
    val mIn = hfs(root).open(
      new org.apache.hadoop.fs.Path(s"$root/exp_v2/manifest.json"))
    val mBody = try scala.io.Source.fromInputStream(mIn, "UTF-8").mkString
      finally mIn.close()
    assert(mBody.contains("\"materialized\":true"))
    assert(mFiles.forall(f => mBody.contains(f.split("/").last)),
      "the manifest must list every materialized file")
    // compaction folds the sidecars — the masked epochs' recorded
    // sidecar files are gone, so their AS-OF reads refuse BY NAME
    GraftMor.morCompact(spark, path)
    val e3 = intercept[Exception](
      new GraftCatalog(spark, root).tableAsOf("t_tt", v2))
    assert(e3.getMessage.contains("compaction") ||
      e3.getMessage.contains("morCompact"), e3.getMessage)
  }
}
