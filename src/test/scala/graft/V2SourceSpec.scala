package graft

import graft.sources.v2.GraftV2
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, LessThan}

class V2SourceSpec extends SparkSpecBase {

  private def v2(name: String) =
    spark.read.format("graft").load(s"$sfDir/$name.parquet")

  test("v2 schema matches the native parquet reader") {
    val got = v2("orders").schema.map(f => f.name -> f.dataType).toMap
    val exp = spark.read.parquet(s"$sfDir/orders.parquet")
      .schema.map(f => f.name -> f.dataType).toMap
    assert(got === exp)
  }

  test("v2 full-scan values equal the native reader (orders)") {
    val got = v2("orders").orderBy("o_orderkey").collect().map(_.toString)
    val exp = spark.read.parquet(s"$sfDir/orders.parquet")
      .orderBy("o_orderkey").collect().map(_.toString)
    assert(got.length === exp.length)
    assert(got.toSeq === exp.toSeq)
  }

  test("v2 filtered projection equals the native reader (lineitem)") {
    def q(df: org.apache.spark.sql.DataFrame) = df
      .where(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")
      .collect().map(_.toString)
    assert(q(v2("lineitem")).toSeq ===
      q(spark.read.parquet(s"$sfDir/lineitem.parquet")).toSeq)
  }

  test("v2 scan reports pushed filters and prunes columns") {
    val df = v2("orders").where(col("o_totalprice") > 100000.0).select("o_orderkey")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft parquet row-group scan"), plan.take(500))
    assert(plan.contains("pushed=[") && plan.contains("o_totalprice"), plan.take(800))
  }

  test("row-group stats elimination logic") {
    import org.apache.parquet.hadoop.metadata.BlockMetaData
    // use a real footer block from lineitem for plumbing, then check
    // decisions against its actual stats
    val path = s"$sfDir/lineitem.parquet"
    val block: BlockMetaData = GraftV2.withReader(path)(_.getFooter.getBlocks.get(0))
    // l_quantity spans [1, 50]: a filter > 100 eliminates the group
    assert(GraftV2.canSkipRowGroup(block, Array(GreaterThan("l_quantity", 100.0))))
    assert(!GraftV2.canSkipRowGroup(block, Array(GreaterThan("l_quantity", 10.0))))
    assert(GraftV2.canSkipRowGroup(block, Array(LessThan("l_quantity", 0.5))))
    assert(GraftV2.canSkipRowGroup(block, Array(EqualTo("l_returnflag", "Z"))))
    assert(!GraftV2.canSkipRowGroup(block, Array(EqualTo("l_returnflag", "R"))))
    // unknown column or unsupported filter → never skip
    assert(!GraftV2.canSkipRowGroup(block, Array(EqualTo("nope", 1))))
  }

  test("runtime In-filter prunes row groups from a re-planned scan") {
    import graft.sources.v2.GraftScan
    import org.apache.spark.sql.sources.In
    import org.apache.spark.sql.types._
    // a multi-row-group file with a sorted key: write 4 sorted files'
    // worth via maxRecordsPerFile so footer stats partition the key space
    val tmp = java.nio.file.Files.createTempDirectory("graft_rtf").toString
    import spark.implicits._
    (0L until 40000L).map(i => (i, i % 97)).toDF("k", "v")
      .orderBy("k").coalesce(1)
      .write.option("parquet.block.size", "65536").mode("overwrite")
      .parquet(tmp)
    val file = new java.io.File(tmp).listFiles()
      .find(f => f.getName.endsWith(".parquet")).get.getAbsolutePath
    val scan = GraftScan(file, StructType(Seq(StructField("k", LongType))), Array.empty)
    val before = scan.planInputPartitions().length
    assume(before > 1, s"need multiple row groups, got $before")
    // Spark delivers the materialized dim keys at runtime
    scan.filter(Array[org.apache.spark.sql.sources.Filter](In("k", Array(5L, 10L))))
    val after = scan.planInputPartitions().length
    assert(after < before, s"runtime filter did not prune: $before -> $after")
    assert(after >= 1)
  }

  test("z-ordered layout prunes row groups on BOTH interleaved keys") {
    import graft.sources.v2.GraftScan
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    import org.apache.spark.sql.types._
    val zFile = graft.operators.Relational.writeZordered(spark, "/root/testdata/sf0.01")
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType)))
    def parts(filters: Array[org.apache.spark.sql.sources.Filter]): Int =
      GraftScan(zFile, schema, filters).planInputPartitions().length
    val total = parts(Array.empty)
    assume(total > 3, s"need multiple row groups, got $total")
    val byCust = parts(Array(
      GreaterThanOrEqual("o_custkey", 100L), LessThanOrEqual("o_custkey", 120L)))
    val byOrder = parts(Array(
      GreaterThanOrEqual("o_orderkey", 100L), LessThanOrEqual("o_orderkey", 200L)))
    assert(byCust < total, s"custkey band must prune: $byCust of $total")
    assert(byOrder < total, s"orderkey band must prune: $byOrder of $total")
  }

  test("row-group splits carry preferred locations plumbing") {
    import graft.sources.v2.{GraftInputPartition, GraftScan}
    import org.apache.spark.sql.types._
    val path = s"$sfDir/orders.parquet"
    val scan = GraftScan(path, StructType(Seq(StructField("o_orderkey", LongType))), Array.empty)
    val parts = scan.planInputPartitions()
    assert(parts.nonEmpty)
    // on local FS the host list may be empty or localhost — the
    // contract under test is that the array is present and non-null
    parts.foreach { p =>
      assert(p.asInstanceOf[GraftInputPartition].preferredLocations() != null)
    }
  }

  test("fractional filter values against integral stats compare exactly") {
    import org.apache.parquet.hadoop.metadata.BlockMetaData
    // orders has integral o_orderkey stats; a fractional bound must not
    // truncate (45.5 pruned as 45 was the latent bug)
    val path = s"$sfDir/orders.parquet"
    val block: BlockMetaData = GraftV2.withReader(path)(_.getFooter.getBlocks.get(0))
    val mx = GraftV2.withReader(path)(_.getFooter.getBlocks.get(0))
      .getColumns.get(0).getStatistics.genericGetMax.asInstanceOf[Number].longValue()
    // filter: key > max + 0.5 → provably empty → skip; with the old
    // longValue() truncation this compared against max + 0 and kept it
    assert(GraftV2.canSkipRowGroup(block, Array(GreaterThan("o_orderkey", mx + 0.5))))
    assert(!GraftV2.canSkipRowGroup(block, Array(GreaterThan("o_orderkey", mx - 0.5))))
    // NaN declines to compare → conservative keep
    assert(!GraftV2.canSkipRowGroup(block, Array(GreaterThan("o_orderkey", Double.NaN))))
  }

  test("v2 decimal columns round-trip on all three physical backings") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft_v2_dec").toString
    Seq((1L, "12.34", "123456.78", "0.123456"), (2L, "-5.50", "-9999999999.99", "-0.000001"))
      .toDF("id", "a", "b", "c")
      .select(col("id"),
        col("a").cast(DecimalType(9, 2)).as("a"),    // INT32-backed
        col("b").cast(DecimalType(18, 2)).as("b"),   // INT64-backed
        col("c").cast(DecimalType(25, 6)).as("c"))   // FIXED_LEN_BYTE_ARRAY-backed
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val got = spark.read.format("graft").load(tmp)
    val exp = spark.read.parquet(tmp)
    assert(got.schema.map(f => f.name -> f.dataType) ===
      exp.schema.map(f => f.name -> f.dataType))
    assert(got.orderBy("id").collect().map(_.toString).toSeq ===
      exp.orderBy("id").collect().map(_.toString).toSeq)
  }

  test("v2 directory table: one split per (file, row group), values equal native") {
    import spark.implicits._
    import graft.sources.v2.GraftScan
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft_v2_dir").toString
    (0L until 3000L).map(i => (i, i % 7)).toDF("k", "v")
      .repartition(3).write.mode("overwrite").parquet(tmp)
    val files = graft.sources.v2.GraftV2.dataFiles(tmp, spark.sessionState.newHadoopConf())
    assert(files.length === 3, s"expected 3 data files, got $files")
    val totalRowGroups = files.map(f =>
      GraftV2.withReader(f)(_.getFooter.getBlocks.size())).sum
    val scan = GraftScan(tmp, StructType(Seq(StructField("k", LongType))), Array.empty)
    assert(scan.planInputPartitions().length === totalRowGroups)
    val got = spark.read.format("graft").load(tmp)
    assert(got.count() === 3000L)
    assert(got.agg(sum("k")).head().getLong(0) ===
      spark.read.parquet(tmp).agg(sum("k")).head().getLong(0))
  }

  test("decimal row-group stats prune with scaled (not unscaled) bounds") {
    import spark.implicits._
    import org.apache.parquet.hadoop.metadata.BlockMetaData
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft_v2_decstat").toString
    (1 to 100).map(i => BigDecimal(i) / 100).toDF("d")
      .select(col("d").cast(DecimalType(9, 2)).as("d"))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val file = graft.sources.v2.GraftV2
      .dataFiles(tmp, spark.sessionState.newHadoopConf()).head
    val block: BlockMetaData = GraftV2.withReader(file)(_.getFooter.getBlocks.get(0))
    // values span [0.01, 1.00]; unscaled int32 stats span [1, 100] —
    // a filter d > 2 must prune ONLY if bounds are rescaled (unscaled
    // 100 > 2 would wrongly keep... and unscaled comparison of
    // d > 0.005 vs min=1 would wrongly prune the whole group)
    assert(GraftV2.canSkipRowGroup(block,
      Array(GreaterThan("d", new java.math.BigDecimal("2")))))
    assert(!GraftV2.canSkipRowGroup(block,
      Array(GreaterThan("d", new java.math.BigDecimal("0.005")))))
    assert(!GraftV2.canSkipRowGroup(block,
      Array(LessThan("d", new java.math.BigDecimal("0.5")))))
  }

  test("SQL catalog: SHOW NAMESPACES / SHOW TABLES / SELECT by name route through GraftScan") {
    graft.sources.v2.GraftTableCatalog.register(spark, "/root/testdata")
    // names with dots come back backtick-quoted
    val nss = spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0).stripPrefix("`").stripSuffix("`")).toSet
    assert(nss.contains("sf0.001"), s"namespaces: $nss")
    val tables = spark.sql("SHOW TABLES IN graft.`sf0.001`")
      .collect().map(_.getString(1)).toSet
    assert(Set("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents").subsetOf(tables), s"tables: $tables")
    // SELECT by metastore-style name: values equal the path API
    val viaSql = spark.sql(
      "SELECT count(*) AS n FROM graft.`sf0.001`.nation").head().getLong(0)
    val viaApi = new graft.sources.GraftCatalog(spark, sfDir).table("nation").count()
    assert(viaSql === viaApi)
    // the read plans through the v2 GraftScan with the filter pushed
    val df = spark.sql(
      "SELECT o_orderkey FROM graft.`sf0.001`.orders WHERE o_orderkey < 100")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft parquet row-group scan"), plan.take(800))
    assert(plan.contains("LessThan(o_orderkey"), "filter must reach the scan: " + plan.take(800))
    assert(df.count() > 0)
  }

  test("SQL catalog refuses ALTER/RENAME by name and names missing tables/namespaces clearly") {
    graft.sources.v2.GraftTableCatalog.register(spark, "/root/testdata")
    // ops that STAY refused on shared testdata forever (A61 made
    // DROP/RENAME COLUMN a real rewrite on directory-rooted tables, so
    // this spec pins only the permanently-safe refusals): retype is a
    // re-create, and a single-FILE table root has nowhere to stage a
    // rewrite — both refuse BY NAME before touching anything
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.`sf0.001`.orders " +
        "ALTER COLUMN o_orderkey TYPE STRING")
    }
    assert(e.getMessage.toLowerCase.contains("re-create"), e.getMessage)
    val eFile = intercept[Exception] {
      spark.sql("ALTER TABLE graft.`sf0.001`.orders DROP COLUMN o_orderpriority")
    }
    assert(eFile.getMessage.contains("single parquet file"), eFile.getMessage)
    assert(spark.sql("SELECT o_orderpriority FROM graft.`sf0.001`.orders")
      .count() > 0, "the refused ALTER must leave the shared table whole")
    assert(intercept[Exception] {
      spark.sql("SELECT * FROM graft.`sf0.001`.no_such_table").collect()
    }.getMessage.toLowerCase.contains("table"),
      "missing table must raise a table-not-found analysis error")
    // re-registering the same root is a no-op; a different root errors
    graft.sources.v2.GraftTableCatalog.register(spark, "/root/testdata")
    intercept[IllegalArgumentException] {
      graft.sources.v2.GraftTableCatalog.register(spark, "/somewhere/else")
    }
  }

  test("catalog SQL scan runs against two data roots in one session (derived names)") {
    // the shared-name binding above would throw here; registerForRoot
    // gives each root its own catalog name
    assert(graft.operators.Relational
      .srcCatalogSqlScan(spark, "/root/testdata/sf0.001").count() > 0)
    assert(graft.operators.Relational
      .srcCatalogSqlScan(spark, "/root/testdata/sf0.01").count() > 0)
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF resolve published epochs") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_sqltt").toString
    spark.range(5).toDF("k").write.parquet(s"$wh/db1/t.parquet")
    val cat = new graft.sources.GraftCatalog(spark, s"$wh/db1")
    val v1 = cat.publishSnapshot("t")
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(1100) // manifest mtime granularity is a full second on some FS
    spark.range(7).toDF("k").write.mode("append").parquet(s"$wh/db1/t.parquet")
    val v2 = new graft.sources.GraftCatalog(spark, s"$wh/db1").publishSnapshot("t")
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graft_tt")
    def q(sql: String) = spark.sql(sql).head().getLong(0)
    assert(q(s"SELECT count(*) FROM graft_tt.db1.t VERSION AS OF $v1") === 5)
    assert(q(s"SELECT count(*) FROM graft_tt.db1.t VERSION AS OF '$v2'") === 12)
    assert(q(s"SELECT count(*) FROM graft_tt.db1.t VERSION AS OF 'v$v1'") === 5)
    // TIMESTAMP AS OF between the publishes → epoch 1
    val ts = new java.sql.Timestamp(betweenMs)
    assert(q(s"SELECT count(*) FROM graft_tt.db1.t TIMESTAMP AS OF '$ts'") === 5)
    // the time-travel read routes through the v2 scan like any other
    val plan = spark.sql(s"SELECT k FROM graft_tt.db1.t VERSION AS OF $v1 WHERE k < 3")
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft parquet row-group scan"), plan.take(800))
    // bad addresses fail clearly
    assert(intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_tt.db1.t VERSION AS OF 99").collect()
    }.getMessage.contains("no published snapshot"))
    assert(intercept[Exception] {
      spark.sql("SELECT * FROM graft_tt.db1.t VERSION AS OF 'abc'").collect()
    }.getMessage.contains("numeric snapshot id"))
  }

  test("a crashed staged swap is journaled and finishes on table load — never an empty/partial table") {
    val wh = graft.sources.GraftSink.scratchDir + "/swapcrash_wh"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$wh/db"))
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftswp")
    spark.sql("CREATE TABLE graftswp.db.t AS SELECT id AS k FROM range(100)")
    spark.sql("REFRESH TABLE graftswp.db.t")
    val root = new org.apache.hadoop.fs.Path(s"$wh/db/t.parquet")
    val olds = GraftV2.dataFilesRelative(fs, root)
    assert(olds.nonEmpty)
    // a COW rewrite staged its replacement and journaled the full swap
    // intent, then crashed MID-RETIRE (some live files already gone)
    val stage = new org.apache.hadoop.fs.Path(root, "_staging/alter_crash")
    spark.range(100).selectExpr("id + 1000 AS k").coalesce(1)
      .write.parquet(stage.toString)
    val staged = GraftV2.dataFilesRelative(fs, stage)
    val body = (olds.map("retire\t" + _) ++ staged.map("movein\t" + _))
      .mkString("\n")
    val out = fs.create(new org.apache.hadoop.fs.Path(stage,
      GraftV2.SwapJournal), true)
    out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    olds.take(math.max(olds.size / 2, 1)).foreach(rel =>
      fs.delete(new org.apache.hadoop.fs.Path(root, rel), false))
    // a FRESH journal is presumed in flight (another session's live
    // swap): recovery must neither race the owner NOR serve the torn
    // state — the table refuses LOUDLY, by name (REFRESH itself
    // reloads, so the refusal fires right there)
    val eFresh = intercept[Exception](
      spark.sql("REFRESH TABLE graftswp.db.t"))
    assert(chainMsg(eFresh).contains("staged swap"), chainMsg(eFresh))
    assert(fs.exists(new org.apache.hadoop.fs.Path(stage,
      GraftV2.SwapJournal)), "a fresh journal must NOT be replayed")
    // past the grace window the journal is a crash: the next table
    // load REPLAYS it to completion instead of pinning (and serving)
    // the torn mid-retire state
    spark.conf.set("spark.graft.swap.recoveryGraceMs", "0")
    try {
      spark.sql("REFRESH TABLE graftswp.db.t")
      assert(spark.sql("SELECT count(*) AS n, min(k) AS m FROM graftswp.db.t")
        .head().toString === "[100,1000]",
        "recovery must serve the REWRITTEN state, whole")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_staging")),
        "the staging shell is cleaned after replay")
    } finally spark.conf.unset("spark.graft.swap.recoveryGraceMs")
  }

  test("publish instants live INSIDE manifests (mtime-proof TIMESTAMP AS OF); concurrent publishers interleave via create-if-absent retry") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_pubts").toString
    spark.range(5).toDF("k").write.parquet(s"$wh/t.parquet")
    val v1 = new graft.sources.GraftCatalog(spark, wh).publishSnapshot("t")
    Thread.sleep(50)
    val midMs = System.currentTimeMillis()
    Thread.sleep(50)
    spark.range(7).toDF("k").write.mode("append").parquet(s"$wh/t.parquet")
    val v2n = new graft.sources.GraftCatalog(spark, wh).publishSnapshot("t")
    // an fs-level copy / restore / distcp rewrites mtimes — simulate by
    // resetting every manifest's mtime to the epoch; resolution must
    // come from the RECORDED #publishedAt line, not fs state
    val snapDir = graft.sources.SnapshotManifest.dir(wh, "t")
    val fs = snapDir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(snapDir).foreach(st => fs.setTimes(st.getPath, 1000L, -1))
    val c3 = new graft.sources.GraftCatalog(spark, wh)
    assert(c3.snapshotIdAt("t", midMs) === v1,
      "mid-instant must resolve the FIRST epoch from its recorded " +
        "instant (mtime resolution would wrongly serve the newest)")
    assert(c3.snapshotIdAt("t", System.currentTimeMillis()) === v2n)
    // a rival publisher holds the next id (its create-if-absent won):
    // this publisher re-derives one higher instead of throwing
    val rivalId = v2n + 1
    fs.create(new org.apache.hadoop.fs.Path(snapDir, s"v$rivalId"), false)
      .close()
    val v3 = c3.publishSnapshot("t")
    assert(v3 === rivalId + 1, s"loser must re-derive past the rival: got $v3")
    assert(c3.snapshotIds("t") === Seq(v1, v2n, rivalId, v3),
      "the epoch log stays linear across contending publishers")
  }

  test("SQL catalog reads are snapshot-pinned (mid-session arrivals invisible)") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_sqlcat").toString
    spark.range(5).toDF("k").write.parquet(s"$wh/db1/t.parquet")
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftsnap")
    def n() = spark.sql("SELECT count(*) AS n FROM graftsnap.db1.t").head().getLong(0)
    assert(n() === 5)
    // a file landing AFTER the first read must be invisible to the
    // pinned namespace snapshot
    spark.range(7).toDF("k").write.mode("append").parquet(s"$wh/db1/t.parquet")
    assert(n() === 5, "SQL reads must see the pinned snapshot, not later arrivals")
  }

  test("v2 reads hive-partitioned layouts: values re-attached, files pruned by filter") {
    import spark.implicits._
    import graft.sources.v2.GraftScan
    import org.apache.spark.sql.types._
    val wh = java.nio.file.Files.createTempDirectory("graft_v2_part").toString
    Seq((1L, "x", "F"), (2L, "y", "F"), (3L, "z", "O"),
        (4L, "w", null.asInstanceOf[String]))
      .toDF("k", "v", "status")
      .write.partitionBy("status").parquet(s"$wh/db/t.parquet")
    // path API: partition column present, typed, values correct
    val df = spark.read.format("graft").load(s"$wh/db/t.parquet")
    assert(df.schema("status").dataType === StringType)
    val rows = df.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) null else r.getString(2))).toSet
    assert(rows === Set((1L, "F"), (2L, "F"), (3L, "O"), (4L, null)))
    // filter on the partition column prunes whole FILES at plan time
    val allFiles = GraftV2.dataFiles(s"$wh/db/t.parquet", spark.sessionState.newHadoopConf())
    val partSchema = GraftV2.partitionSchema(s"$wh/db/t.parquet", allFiles)
    val scan = GraftScan(s"$wh/db/t.parquet",
      StructType(Seq(StructField("k", LongType), StructField("status", StringType))),
      Array(org.apache.spark.sql.sources.EqualTo("status", "F")),
      pinnedFiles = allFiles, partSchema = partSchema)
    val survivors = scan.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.v2.GraftInputPartition].path)
    assert(survivors.nonEmpty && survivors.length < allFiles.length &&
      survivors.forall(_.contains("status=F")),
      s"only F-partition files may survive: ${survivors.toSeq}")
    assert(df.where(col("status") === "F").count() === 2)
    assert(df.where(col("status").isNull).select("k").head().getLong(0) === 4L)
    // SQL catalog over the same warehouse: partitioned table is whole
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftpart")
    val viaSql = spark.sql(
      "SELECT k, status FROM graftpart.db.t WHERE status = 'F' ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(viaSql === Seq((1L, "F"), (2L, "F")))
    // numeric partition values infer a numeric type
    spark.range(6).toDF("id").withColumn("day", col("id") % 3)
      .write.partitionBy("day").parquet(s"$wh/db/n.parquet")
    val n = spark.read.format("graft").load(s"$wh/db/n.parquet")
    assert(n.schema("day").dataType === LongType)
    assert(n.where(col("day") === 2L).count() === 2)
  }

  test("partition-only projections ride the row cursor (count(*) and SELECT part_col)") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_v2_partproj").toString
    Seq((1L, "F"), (2L, "F"), (3L, "O")).toDF("k", "status")
      .write.partitionBy("status").parquet(s"$wh/t.parquet")
    val df = spark.read.format("graft").load(s"$wh/t.parquet")
    // no file columns required at all: the reader still has to iterate
    // the row group's rows to emit the right multiplicity
    assert(df.count() === 3L)
    val perStatus = df.groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perStatus === Map("F" -> 2L, "O" -> 1L))
    assert(df.select("status").distinct().count() === 2L)
  }

  test("REFRESH TABLE re-pins a rewritten table (partitioned scan is re-runnable)") {
    // the query rewrites its scratch table then REFRESHes: a second
    // invocation in the same session must re-pin the new files instead
    // of reading the deleted ones
    val first = graft.operators.Relational.srcCatalogPartitionedScan(spark, sfDir)
      .collect().map(_.toString).toSeq
    val second = graft.operators.Relational.srcCatalogPartitionedScan(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(first.nonEmpty && first === second)
  }

  test("v2 reads LIST columns: embeddings array<float> equals the native reader") {
    val got = v2("embeddings")
    assert(got.schema("embedding").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val exp = spark.read.parquet(s"$sfDir/embeddings.parquet")
    assert(got.count() === exp.count())
    // element-exact: per-vector float sums match bit-for-bit
    def sums(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("vec_id",
        "aggregate(embedding, cast(0.0 as double), (a, x) -> a + x) AS s")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sums(got) === sums(exp))
    // and the SQL catalog can open it by name now
    graft.sources.v2.GraftTableCatalog.register(spark, "/root/testdata")
    val viaSql = spark.sql(
      "SELECT count(*) AS n, sum(size(embedding)) AS dims FROM graft.`sf0.001`.embeddings")
      .head()
    assert(viaSql.getLong(0) === exp.count())
    assert(viaSql.getLong(1) === exp.count() * 64)
  }

  test("v2 maps UTC-adjusted timestamps to TimestampType, wall-clock to NTZ") {
    import spark.implicits._
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val tmp = java.nio.file.Files.createTempDirectory("graft_v2_tsutc").toString
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS") // TimestampType → INT64 adjusted=true
    try {
      Seq((1L, "2024-03-01 10:30:00"), (2L, "2024-03-02 23:59:59"))
        .toDF("id", "t")
        .select(col("id"), col("t").cast("timestamp").as("t_utc"),
          col("t").cast("timestamp_ntz").as("t_wall"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val got = spark.read.format("graft").load(tmp)
      assert(got.schema("t_utc").dataType === TimestampType,
        "isAdjustedToUTC=true must land as session-TZ TimestampType")
      assert(got.schema("t_wall").dataType === TimestampNTZType,
        "isAdjustedToUTC=false must stay wall-clock NTZ")
      val exp = spark.read.parquet(tmp)
      assert(got.schema.map(f => f.name -> f.dataType) ===
        exp.schema.map(f => f.name -> f.dataType))
      assert(got.orderBy("id").collect().map(_.toString).toSeq ===
        exp.orderBy("id").collect().map(_.toString).toSeq)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("v2 timestamp columns round-trip (events, nanos)") {
    val got = v2("events").select("event_id", "ts").orderBy("event_id")
      .limit(5).collect().map(r => (r.getLong(0), r.get(1).toString))
    // native reader needs nanosAsLong (engine convention) — compare
    // against the converted eventsTable
    val exp = graft.streaming.Events.eventsTable(spark, sfDir)
      .select("event_id", "ts").orderBy("event_id")
      .limit(5).collect().map(r => (r.getLong(0), r.get(1).toString))
    // v2 yields TimestampNTZ (LocalDateTime), engine path yields
    // Timestamp in UTC — compare the wall-clock prefix
    got.zip(exp).foreach { case ((gi, gt), (ei, et)) =>
      assert(gi === ei)
      assert(gt.take(19).replace('T', ' ') === et.take(19))
    }
  }

  // ---- A29: aggregate pushdown from footer statistics ----------------

  private def aggTable(name: String)(write: String => Unit): String = {
    val path = graft.sources.GraftSink.scratchDir + s"/spec_$name"
    write(path)
    path
  }

  test("A29: grouped aggregate is answered from footers and matches the row scan") {
    val path = aggTable("v2agg_grouped") { p =>
      spark.read.parquet(s"$sfDir/orders.parquet")
        .write.mode("overwrite").partitionBy("o_orderpriority").parquet(p)
    }
    def q(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), count(col("o_custkey")).as("nc"),
        min(col("o_custkey")).as("mn"), max(col("o_custkey")).as("mx"),
        min(col("o_orderkey")).as("mnk"), max(col("o_orderkey")).as("mxk"))
      .orderBy("o_orderpriority")
    val pushed = q(spark.read.format("graft").load(path))
    val plan = pushed.queryExecution.executedPlan.toString
    assert(plan.contains("pushedAggregates=[COUNT(*), COUNT(o_custkey), " +
      "MIN(o_custkey), MAX(o_custkey), MIN(o_orderkey), MAX(o_orderkey)]"),
      plan.take(1200))
    assert(plan.contains("groupedBy=[o_orderpriority]"), plan.take(1200))
    assert(!plan.contains("row-group scan"), "no row data may be read: " + plan.take(1200))
    assert(pushed.collect().map(_.toString).toSeq ===
      q(spark.read.parquet(path)).collect().map(_.toString).toSeq)
  }

  test("A29: string and floating-point MIN/MAX decline to the row path (stats not value-exact)") {
    val path = aggTable("v2agg_untrusted") { p =>
      spark.read.parquet(s"$sfDir/orders.parquet").repartition(2)
        .write.mode("overwrite").parquet(p)
    }
    // parquet binary min/max may be writer-truncated and fp stats are
    // NaN-unreliable: a value answer from them could be silently wrong
    // on externally-written files, so these shapes must read rows
    def q(df: org.apache.spark.sql.DataFrame) = df
      .agg(min(col("o_orderstatus")).as("mns"), max(col("o_orderstatus")).as("mxs"),
        min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"))
    val declined = q(spark.read.format("graft").load(path))
    val plan = declined.queryExecution.executedPlan.toString
    assert(!plan.contains("pushedAggregates="), plan.take(800))
    // still exact through the rows
    assert(declined.collect().head.toString ===
      q(spark.read.parquet(path)).collect().head.toString)
  }

  test("A29: COUNT(col) subtracts nulls exactly; all-null min/max is NULL") {
    import spark.implicits._
    val path = aggTable("v2agg_nulls") { p =>
      Seq((1L, Some(10L)), (2L, None), (3L, Some(-5L)), (4L, None), (5L, None))
        .toDF("id", "v")
        .withColumn("dead", lit(null).cast("long"))
        .repartition(2)
        .write.mode("overwrite").parquet(p)
    }
    val df = spark.read.format("graft").load(path)
      .agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
        min(col("v")).as("mn"), max(col("v")).as("mx"),
        count(col("dead")).as("nd"), min(col("dead")).as("mnd"))
    assert(df.queryExecution.executedPlan.toString.contains("pushedAggregates="))
    val r = df.collect().head
    assert(r.getLong(0) === 5L && r.getLong(1) === 2L)
    assert(r.getLong(2) === -5L && r.getLong(3) === 10L)
    assert(r.getLong(4) === 0L && r.isNullAt(5))
  }

  test("A29: decimal min/max rescale footer stats exactly") {
    val path = aggTable("v2agg_dec") { p =>
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("d18"),
          col("l_discount").cast(org.apache.spark.sql.types.DecimalType(25, 6)).as("d25"))
        .repartition(3)
        .write.mode("overwrite").parquet(p)
    }
    def q(df: org.apache.spark.sql.DataFrame) =
      df.agg(min(col("d18")).as("a"), max(col("d18")).as("b"),
        min(col("d25")).as("c"), max(col("d25")).as("d"))
    val pushed = q(spark.read.format("graft").load(path))
    assert(pushed.queryExecution.executedPlan.toString.contains("pushedAggregates="))
    assert(pushed.collect().head.toString ===
      q(spark.read.parquet(path)).collect().head.toString)
  }

  test("A32: row-group sampling is deterministic and the complement completes it") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_rgsample").toString
    (0L until 40000L).map(i => (i, i % 97)).toDF("k", "v")
      .orderBy("k").coalesce(1)
      .write.option("parquet.block.size", "65536").mode("overwrite").parquet(tmp)
    def read(opts: (String, String)*) = {
      val r = spark.read.format("graft")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load(tmp)
    }
    val full = read().select("k").collect().map(_.getLong(0)).toSet
    val s1 = read("sampleRowGroups" -> "0.5", "sampleSeed" -> "7")
    val plan = s1.queryExecution.executedPlan.toString
    assert(plan.contains("sampleRowGroups=0.5"), plan.take(800))
    val k1 = s1.select("k").collect().map(_.getLong(0)).toSet
    // deterministic: a second identical read returns the same rows
    val k1b = read("sampleRowGroups" -> "0.5", "sampleSeed" -> "7")
      .select("k").collect().map(_.getLong(0)).toSet
    assert(k1 === k1b)
    // a real subset, roughly the requested fraction of row groups
    assert(k1.nonEmpty && k1.size < full.size && k1.subsetOf(full))
    // the complement is disjoint and the union is the whole table
    val kc = read("sampleRowGroups" -> "0.5", "sampleSeed" -> "7",
      "sampleComplement" -> "true").select("k").collect().map(_.getLong(0)).toSet
    assert(k1.intersect(kc).isEmpty)
    assert(k1.union(kc) === full)
    // a different seed re-draws
    val k2 = read("sampleRowGroups" -> "0.5", "sampleSeed" -> "8")
      .select("k").collect().map(_.getLong(0)).toSet
    assert(k2 !== k1)
    // aggregate pushdown declines under sampling (footers describe
    // whole groups, not samples)
    val agg = read("sampleRowGroups" -> "0.5", "sampleSeed" -> "7")
      .agg(count(lit(1)).as("n"), min(col("k")).as("mn"))
    assert(!agg.queryExecution.executedPlan.toString.contains("pushedAggregates="))
    assert(agg.collect().head.getLong(0) === k1.size)
  }

  test("A29: filtered / SUM / distinct shapes decline and fall back to the row path") {
    val path = aggTable("v2agg_fallback") { p =>
      spark.read.parquet(s"$sfDir/orders.parquet").repartition(2)
        .write.mode("overwrite").parquet(p)
    }
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    val base = spark.read.format("graft").load(path)
    // a surviving filter keeps the row path (stats can't apply it)
    val filtered = base.where(col("o_totalprice") > 100000.0)
      .agg(count(lit(1)).as("n"), min(col("o_totalprice")).as("mn"))
    assert(!planOf(filtered).contains("pushedAggregates="))
    assert(planOf(filtered).contains("row-group scan"))
    // SUM is not footer-provable
    val summed = base.agg(sum(col("o_totalprice")).as("s"))
    assert(!planOf(summed).contains("pushedAggregates="))
    // COUNT(DISTINCT) is not footer-provable
    val distinctC = base.agg(countDistinct(col("o_custkey")).as("nd"))
    assert(!planOf(distinctC).contains("pushedAggregates="))
    // grouping by a NON-partition column declines too
    val badGroup = base.groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    assert(!planOf(badGroup).contains("pushedAggregates="))
    // and the declined shapes still compute correctly through the rows
    assert(filtered.collect().head.getLong(0) ===
      spark.read.parquet(path).where(col("o_totalprice") > 100000.0).count())
  }

  test("A42 SQL: the v2 scan applies position masks split-locally and equals morRead exactly") {
    import graft.sources.GraftMor
    val path = graft.sources.GraftSink.scratchDir + "/v2_mor_dv"
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(path), true)
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .repartitionByRange(4, col("o_orderkey"))
      .write.parquet(path)
    GraftMor.morDelete(spark, path, col("o_orderkey") % 10 === 3)
    GraftMor.morUpsert(spark, path,
      spark.read.parquet(path).where(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(7.0)),
      Seq("o_orderkey"))
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(sig(spark.read.format("graft").load(path)) ===
      sig(GraftMor.morRead(spark, path)),
      "the v2 serving path and morRead must give ONE answer")
    // masked rows never reach the plan: a row-count through v2 agrees
    assert(spark.read.format("graft").load(path).count() ===
      GraftMor.morRead(spark, path).count())
  }

  test("A51 SQL DML: INSERT INTO stages, audits, publishes; a dirty batch quarantine-diverts by name and the served table is untouched") {
    import graft.sources.GraftCatalog.AuditRule
    import graft.sources.v2.GraftSqlWrite
    val wh = graft.sources.GraftSink.scratchDir + "/sqlins_wh"
    val tbl = s"$wh/db/t_ins.parquet"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    spark.range(10).select(col("id").as("k"), (col("id") * 2).as("v"))
      .write.parquet(tbl)
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftins")
    spark.sql("REFRESH TABLE graftins.db.t_ins")
    GraftSqlWrite.setAuditRules(tbl, Seq(AuditRule("neg_v", col("v") < 0L)))
    try {
      assert(spark.sql("SELECT count(*) AS n FROM graftins.db.t_ins")
        .head().getLong(0) === 10L)
      // clean insert: lands, stays invisible to the pinned read until
      // REFRESH (the WAP stage), then serves; an epoch was published
      spark.sql("INSERT INTO graftins.db.t_ins VALUES (100, 1), (101, 3)")
      assert(spark.sql("SELECT count(*) AS n FROM graftins.db.t_ins")
        .head().getLong(0) === 10L,
        "a staged insert must stay invisible to the pinned snapshot")
      spark.sql("REFRESH TABLE graftins.db.t_ins")
      assert(spark.sql("SELECT count(*) AS n FROM graftins.db.t_ins")
        .head().getLong(0) === 12L)
      val cat = new graft.sources.GraftCatalog(spark, s"$wh/db")
      assert(cat.snapshotIds("t_ins").nonEmpty,
        "the insert must publish an audited epoch")
      // dirty insert: refused BY NAME, batch diverted, table untouched
      val served = spark.sql(
        "SELECT * FROM graftins.db.t_ins ORDER BY k").collect().toSeq
      val e = intercept[Exception](spark.sql(
        "INSERT INTO graftins.db.t_ins VALUES (200, 5), (201, -7)"))
      def chain(t: Throwable): String =
        if (t == null) "" else t.getMessage + " || " + chain(t.getCause)
      assert(chain(e).contains("neg_v") && chain(e).contains("quarantine"),
        chain(e))
      spark.sql("REFRESH TABLE graftins.db.t_ins")
      assert(spark.sql("SELECT * FROM graftins.db.t_ins ORDER BY k")
        .collect().toSeq === served,
        "a refused insert must leave the served table byte-identical")
      // the diverted batch + reasons manifest are inspectable
      val qRoot = new org.apache.hadoop.fs.Path(s"$tbl/_quarantine")
      assert(fs.exists(qRoot), "quarantine divert dir missing")
      val qBatch = fs.listStatus(qRoot).head.getPath
      val reasons = spark.read.parquet(s"$qBatch/_reasons")
      assert(reasons.count() === 1L)
      assert(reasons.head().getAs[String]("reasons") === "neg_v")
      // a later CLEAN insert is not blocked by the diverted batch
      spark.sql("INSERT INTO graftins.db.t_ins VALUES (300, 9)")
      spark.sql("REFRESH TABLE graftins.db.t_ins")
      assert(spark.sql("SELECT count(*) AS n FROM graftins.db.t_ins")
        .head().getLong(0) === 13L)
      // INSERT OVERWRITE refuses by name (append-only DML)
      val e2 = intercept[Exception](spark.sql(
        "INSERT OVERWRITE graftins.db.t_ins VALUES (1, 1)"))
      assert(chain(e2).toLowerCase.contains("overwrite"), chain(e2))
    } finally GraftSqlWrite.clearAuditRules(tbl)
  }

  test("A44/A45 SQL: equality masks compose split-locally under the sequence rule — full-ladder SQL == morRead, and pruned projections still mask") {
    import graft.sources.GraftMor
    val wh = graft.sources.GraftSink.scratchDir + "/v2_mor_eq_wh"
    val path = s"$wh/db/t_eq.parquet"
    new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(wh), true)
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    orders.repartitionByRange(4, col("o_orderkey")).write.parquet(path)
    // the full mutation ladder: dv upsert + dv delete + seq-numbered
    // eq-upsert (supersedes the dv-appended versions) + erase
    GraftMor.morUpsert(spark, path,
      orders.where(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
      Seq("o_orderkey"))
    GraftMor.morDelete(spark, path, col("o_orderkey") % 10 === 3)
    GraftMor.morUpsertEq(spark, path,
      orders.where(col("o_orderkey") % 200 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1001.0)),
      Seq("o_orderkey"))
    GraftMor.morErase(spark, path,
      orders.where(col("o_orderkey") % 1000 === 500).select("o_orderkey"),
      Seq("o_orderkey"))
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "grafteq")
    spark.sql("REFRESH TABLE grafteq.db.t_eq")
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderkey", "o_totalprice").collect().map(_.toSeq).toSeq
    assert(sig(spark.sql("SELECT * FROM grafteq.db.t_eq")) ===
      sig(GraftMor.morRead(spark, path)),
      "SQL and morRead must give ONE answer on the full mutation ladder")
    // projection pruning: the key column is NOT selected — the reader
    // must still read it file-side to evaluate the mask
    assert(spark.sql("SELECT o_orderstatus FROM grafteq.db.t_eq").count() ===
      GraftMor.morRead(spark, path).count(),
      "a pruned projection must still apply the equality mask")
    // and the served values agree with an oracle computed relationally
    orders.createOrReplaceTempView("v2eq_orders")
    val oracle = spark.sql("""
      WITH merged AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 200 = 0 THEN o_totalprice + 1001.0
                    WHEN o_orderkey % 100 = 0 THEN o_totalprice + 1000.0
                    ELSE o_totalprice END AS o_totalprice
        FROM v2eq_orders WHERE o_orderkey % 1000 <> 500)
      SELECT count(*) AS n,
             sum(CAST(o_totalprice AS DECIMAL(28,6))) AS total
      FROM merged WHERE o_orderkey % 10 <> 3""").head()
    val served = spark.sql("""
      SELECT count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(28,6))) AS total
      FROM grafteq.db.t_eq""").head()
    assert(served.getLong(0) === oracle.getLong(0))
    assert(served.getDecimal(1) === oracle.getDecimal(1))
  }

  test("A52 x A44/A45: INSERT INTO a table with live equality sidecars — fresh keys serve, erased keys stay masked, the insert outranks older upsert tombstones") {
    import spark.implicits._
    import graft.sources.GraftMor
    val wh = graft.sources.GraftSink.scratchDir + "/sqlins_eq_wh"
    val tbl = s"$wh/db/t_eqins.parquet"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    Seq((1L, 10L), (2L, 20L), (4L, 40L)).toDF("k", "v").write.parquet(tbl)
    GraftMor.morUpsertEq(spark, tbl, Seq((1L, 100L)).toDF("k", "v"), Seq("k"))
    GraftMor.morErase(spark, tbl, Seq(2L).toDF("k"), Seq("k"))
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "grafteqins")
    spark.sql("REFRESH TABLE grafteqins.db.t_eqins")
    spark.sql("INSERT INTO grafteqins.db.t_eqins VALUES (1, 7), (2, 9), (3, 5)")
    spark.sql("REFRESH TABLE grafteqins.db.t_eqins")
    val served = spark.sql("SELECT k, v FROM grafteqins.db.t_eqins")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served === Set((1L, 100L), (1L, 7L), (3L, 5L), (4L, 40L)),
      s"got $served: the insert must outrank the upsert tombstone (both " +
        "k=1 versions serve), the erase must outrank the insert (no k=2), " +
        "fresh and untouched keys serve")
    // and the single-entry contract holds: SQL == morRead
    assert(served === GraftMor.morRead(spark, tbl)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("A42 SQL: a fully-tombstoned row group plans NO split; the driver mask refuses past the cap by name") {
    import graft.sources.GraftMor
    import graft.sources.v2.{GraftMorMask, GraftV2}
    val path = graft.sources.GraftSink.scratchDir + "/v2_mor_cap"
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(path), true)
    spark.range(1000).select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(4, col("k")).write.parquet(path)
    // kill one whole quarter of the key space: its file's row groups
    // are fully masked and must not even plan a task
    GraftMor.morDelete(spark, path, col("k") < 250L)
    val scan = spark.read.format("graft").load(path)
    assert(scan.count() === 750L)
    val conf = spark.sessionState.newHadoopConf()
    val sidecar = GraftV2.sidecarParquet(path, GraftMor.DvDir, conf)
    val mask = GraftMorMask.load(sidecar, conf)
    assert(mask.values.map(_.length).sum === 250)
    val nFilesFullyMasked = GraftV2.dataFiles(path, conf).count { f =>
      import scala.jdk.CollectionConverters._
      val rows: Long = GraftV2.withReader(f, conf)(
        _.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
      mask.get(GraftMorMask.norm(new org.apache.hadoop.fs.Path(f).toUri.getPath))
        .exists(_.length.toLong == rows)
    }
    assert(nFilesFullyMasked >= 1, "the setup must fully tombstone a file")
    // the cap refusal names the remedy
    val e = intercept[IllegalStateException](
      GraftMorMask.load(sidecar, conf, cap = 10L))
    assert(e.getMessage.contains("morCompact"), e.getMessage)
  }

  private def chainMsg(t: Throwable): String =
    if (t == null) "" else t.getMessage + " || " + chainMsg(t.getCause)

  test("A52: a PARTITIONED dirty insert quarantine-diverts whole — sibling-partition part files with identical basenames cannot collide") {
    import graft.sources.GraftCatalog.AuditRule
    import graft.sources.v2.GraftSqlWrite
    val wh = graft.sources.GraftSink.scratchDir + "/sqlins_part_wh"
    val tbl = s"$wh/db/t_pins.parquet"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    spark.range(10).select(col("id").as("k"), (col("id") * 2).as("v"),
        (col("id") % 2).as("p"))
      .write.partitionBy("p").parquet(tbl)
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftpins")
    spark.sql("REFRESH TABLE graftpins.db.t_pins")
    GraftSqlWrite.setAuditRules(tbl, Seq(AuditRule("neg_v", col("v") < 0L)))
    try {
      val served = spark.sql(
        "SELECT * FROM graftpins.db.t_pins ORDER BY k").collect().toSeq
      // ONE dirty batch spanning BOTH partitions: the divert must move
      // every staged file (the old basename-flattening rename collided
      // on identically-named part files in p=0/ and p=1/ and aborted
      // half-diverted)
      val e = intercept[Exception](spark.sql(
        "INSERT INTO graftpins.db.t_pins VALUES (100, -1, 0), (101, -2, 1)"))
      assert(chainMsg(e).contains("neg_v") && chainMsg(e).contains("quarantine"),
        chainMsg(e))
      spark.sql("REFRESH TABLE graftpins.db.t_pins")
      assert(spark.sql("SELECT * FROM graftpins.db.t_pins ORDER BY k")
        .collect().toSeq === served,
        "a refused partitioned insert must leave the served table byte-identical")
      // the diverted batch keeps its hive structure; nothing stayed staged
      val qRoot = new org.apache.hadoop.fs.Path(s"$tbl/_quarantine")
      assert(fs.exists(qRoot), "quarantine divert dir missing")
      val qBatch = fs.listStatus(qRoot).head.getPath
      assert(fs.exists(new org.apache.hadoop.fs.Path(qBatch, "p=0")) &&
        fs.exists(new org.apache.hadoop.fs.Path(qBatch, "p=1")),
        "the diverted batch must preserve its partition structure")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tbl/_staging")) ||
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$tbl/_staging")).isEmpty,
        "no staged residue may remain after a divert")
      // a later clean multi-partition insert lands and publishes
      spark.sql("INSERT INTO graftpins.db.t_pins VALUES (200, 5, 0), (201, 7, 1)")
      spark.sql("REFRESH TABLE graftpins.db.t_pins")
      assert(spark.sql("SELECT count(*) AS n FROM graftpins.db.t_pins")
        .head().getLong(0) === 12L)
    } finally GraftSqlWrite.clearAuditRules(tbl)
  }

  test("A56 INSERT OVERWRITE: dynamic-partition form replaces only the batch's partitions; siblings stay byte-identical; dirty overwrite diverts with the table untouched") {
    import graft.sources.GraftCatalog.AuditRule
    import graft.sources.v2.GraftSqlWrite
    val wh = graft.sources.GraftSink.scratchDir + "/sqlow_wh"
    val tbl = s"$wh/db/t_ow.parquet"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    spark.range(30).select(col("id").as("k"), (col("id") * 2).as("v"),
        (col("id") % 3).as("p"))
      .write.partitionBy("p").parquet(tbl)
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftow")
    spark.sql("REFRESH TABLE graftow.db.t_ow")
    GraftSqlWrite.setAuditRules(tbl, Seq(AuditRule("neg_v", col("v") < 0L)))
    try {
      def files(sub: String): Set[(String, Long)] = {
        val out = Set.newBuilder[(String, Long)]
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$tbl/$sub"), true)
        while (it.hasNext) {
          val f = it.next()
          if (!f.getPath.getName.startsWith("_") &&
              !f.getPath.getName.startsWith("."))
            out += ((f.getPath.toString, f.getLen))
        }
        out.result()
      }
      val sib1 = files("p=1"); val sib2 = files("p=2")
      // replace partition p=0 only (the batch carries only p=0 rows)
      spark.sql("INSERT OVERWRITE graftow.db.t_ow VALUES (500, 7, 0), (501, 9, 0)")
      spark.sql("REFRESH TABLE graftow.db.t_ow")
      assert(spark.sql(
        "SELECT k, v FROM graftow.db.t_ow WHERE p = 0 ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
        Seq((500L, 7L), (501L, 9L)),
        "the overwritten partition must hold exactly the batch")
      assert(spark.sql("SELECT count(*) AS n FROM graftow.db.t_ow WHERE p <> 0")
        .head().getLong(0) === 20L)
      assert(files("p=1") === sib1 && files("p=2") === sib2,
        "sibling partitions must stay byte-identical")
      // an epoch covering the new state was published
      val cat = new graft.sources.GraftCatalog(spark, s"$wh/db")
      assert(cat.snapshotIds("t_ow").nonEmpty)
      // dirty overwrite: refused BY NAME, every partition untouched —
      // the audit runs BEFORE any existing file is destroyed
      val served = spark.sql(
        "SELECT * FROM graftow.db.t_ow ORDER BY k").collect().toSeq
      val e = intercept[Exception](spark.sql(
        "INSERT OVERWRITE graftow.db.t_ow VALUES (600, -5, 0)"))
      assert(chainMsg(e).contains("neg_v") && chainMsg(e).contains("quarantine"),
        chainMsg(e))
      spark.sql("REFRESH TABLE graftow.db.t_ow")
      assert(spark.sql("SELECT * FROM graftow.db.t_ow ORDER BY k")
        .collect().toSeq === served,
        "a refused overwrite must leave every partition byte-identical")
      // a held lease refuses the replace (the A24 gate, as on COW paths)
      val lease = graft.sources.GraftLease.acquire(spark, tbl, 60000L)
      try {
        val e2 = intercept[Exception](spark.sql(
          "INSERT OVERWRITE graftow.db.t_ow VALUES (700, 1, 0)"))
        assert(chainMsg(e2).toLowerCase.contains("lease"), chainMsg(e2))
      } finally graft.sources.GraftLease.release(spark, tbl, lease)
      // live MOR sidecars refuse the replace (resurrection guard)
      graft.sources.GraftMor.morDelete(spark, tbl, col("k") === 500L)
      val e3 = intercept[Exception](spark.sql(
        "INSERT OVERWRITE graftow.db.t_ow VALUES (800, 1, 0)"))
      assert(chainMsg(e3).contains("morCompact"), chainMsg(e3))
    } finally GraftSqlWrite.clearAuditRules(tbl)
  }

  test("v2 path provider pins files WITH sidecars: a mutation landing after load() neither tears nor duplicates") {
    import graft.sources.GraftMor
    val path = graft.sources.GraftSink.scratchDir + "/v2_pin_tear"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    spark.range(100).select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartition(2).write.parquet(path)
    val pinned = spark.read.format("graft").load(path)
    assert(pinned.count() === 100L)
    // a position upsert lands AFTER the load: new version files appended
    // + a _dv epoch tombstoning the old versions
    import spark.implicits._
    GraftMor.morUpsert(spark, path,
      Seq((1L, 99991L), (2L, 99992L), (3L, 99993L)).toDF("k", "v"), Seq("k"))
    // the pinned frame serves the PRE-mutation snapshot consistently:
    // un-pinned files would serve the appended versions WITHOUT the new
    // tombstones — duplicate keys (the torn read)
    assert(pinned.count() === 100L, "pinned scan must not see post-load files")
    assert(pinned.groupBy("k").count().where(col("count") > 1L).count() === 0L,
      "a torn read would duplicate the upserted keys")
    assert(pinned.where(col("k") === 1L).head().getLong(1) === 10L,
      "the pinned snapshot serves the pre-mutation values")
    // a FRESH load pins files + sidecars together: post-mutation state
    val fresh = spark.read.format("graft").load(path)
    assert(fresh.count() === 100L)
    assert(fresh.where(col("k") === 1L).head().getLong(1) === 99991L)
    assert(fresh.orderBy("k").collect().map(_.toString).toSeq ===
      GraftMor.morRead(spark, path).orderBy("k").collect().map(_.toString).toSeq)
  }

  test("A36xMOR x A51: an equality mask keyed on an EVOLVED column never masks pre-evolution files (null key matches no tombstone)") {
    import graft.sources.GraftMor
    val wh = graft.sources.GraftSink.scratchDir + "/v2_evokey_wh"
    val path = s"$wh/db/t_evo.parquet"
    new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(wh), true)
    // base files have (k, v) only; v deliberately takes the VALUES the
    // new key column will tombstone — a reader that mis-indexes the key
    // getter onto the last projected column would read v as the key and
    // mask these rows
    spark.range(20).select(col("id").as("k"), col("id").as("v"))
      .write.parquet(path)
    import spark.implicits._
    // evolve: a position upsert (keyed on k) ADDS column k2 — recorded
    // in the _schema marker, pre-evolution files null-fill it
    GraftMor.morUpsert(spark, path,
      Seq((0L, 1000L, 100L)).toDF("k", "v", "k2"), Seq("k"))
    // then an equality upsert keyed on the EVOLVED column
    GraftMor.morUpsertEq(spark, path,
      Seq((1000L, -1L, 3L), (1001L, -2L, 5L), (1002L, -3L, 7L))
        .toDF("k", "v", "k2"),
      Seq("k2"))
    val morServed = GraftMor.morRead(spark, path)
      .orderBy("k").collect().map(_.toString).toSeq
    assert(morServed.length === 23,
      "every pre-evolution row must serve (null k2 matches no tombstone)")
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftevo")
    spark.sql("REFRESH TABLE graftevo.db.t_evo")
    assert(spark.sql("SELECT k, v, k2 FROM graftevo.db.t_evo ORDER BY k")
      .collect().map(_.toString).toSeq === morServed)
    // a PRUNED projection that drops the key column still serves every
    // base row (the key is read file-side where present, null elsewhere)
    assert(spark.sql("SELECT count(*) AS n FROM graftevo.db.t_evo")
      .head().getLong(0) === 23L)
  }

  test("A54 SQL: VERSION AS OF serves the epoch's RECORDED masks; post-publish mutations stay invisible; a post-publish erase refuses by name") {
    import graft.sources.GraftMor
    import spark.implicits._
    val wh = graft.sources.GraftSink.scratchDir + "/sqltt_mor_wh"
    val path = s"$wh/db/t_sqltt.parquet"
    new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(wh), true)
    spark.range(100).select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartition(2).write.parquet(path)
    GraftMor.morDelete(spark, path, col("k") % 10 === 3)
    val v1 = new graft.sources.GraftCatalog(spark, s"$wh/db")
      .publishSnapshot("t_sqltt")
    // generation 2, AFTER the publish: must not leak into the AS-OF read
    GraftMor.morDelete(spark, path, col("k") % 10 === 4)
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftsqltt")
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graftsqltt.db.t_sqltt VERSION AS OF $v1")
      .head().getLong(0) === 90L,
      "the epoch's recorded position masks must compose in the v2 scan")
    assert(spark.sql(s"SELECT count(*) AS n FROM graftsqltt.db.t_sqltt " +
      s"VERSION AS OF $v1 WHERE k % 10 = 3").head().getLong(0) === 0L)
    assert(spark.sql(s"SELECT count(*) AS n FROM graftsqltt.db.t_sqltt " +
      s"VERSION AS OF $v1 WHERE k % 10 = 4").head().getLong(0) === 10L,
      "a delete landing AFTER the publish must stay invisible to the epoch")
    // the Scala surface agrees row-for-row
    assert(spark.sql(
      s"SELECT k, v FROM graftsqltt.db.t_sqltt VERSION AS OF $v1 ORDER BY k")
      .collect().map(_.toString).toSeq ===
      new graft.sources.GraftCatalog(spark, s"$wh/db")
        .tableAsOf("t_sqltt", v1).orderBy("k")
        .collect().map(_.toString).toSeq)
    // an erase landing after the publish refuses the AS-OF scan by
    // name (erasure outranks addressed history; the eq listing drifted
    // from the manifest's)
    GraftMor.morErase(spark, path, Seq(7L).toDF("k"), Seq("k"))
    val e = intercept[Exception](spark.sql(
      s"SELECT count(*) FROM graftsqltt.db.t_sqltt VERSION AS OF $v1")
      .collect())
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " || " + chain(t.getCause)
    assert(chain(e).contains("equality"), chain(e))
  }

  test("a compaction that folds an epoch's recorded sidecars refuses that epoch by name: tableAsOf and VERSION AS OF alike") {
    import graft.sources.GraftMor
    val wh = graft.sources.GraftSink.scratchDir + "/folded_tt_wh"
    val path = s"$wh/db/t_fold.parquet"
    new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(wh), true)
    spark.range(100).select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartition(2).write.parquet(path)
    GraftMor.morDelete(spark, path, col("k") % 10 === 3)
    val cat = new graft.sources.GraftCatalog(spark, s"$wh/db")
    val v1 = cat.publishSnapshot("t_fold")
    assert(cat.tableAsOf("t_fold", v1).count() === 90L)
    GraftMor.morCompact(spark, path)
    val refusal = "the masked historical state is no longer reconstructible"
    val eScala = intercept[IllegalStateException](cat.tableAsOf("t_fold", v1))
    assert(eScala.getMessage.contains(s"Snapshot v$v1 of [t_fold] refused"),
      eScala.getMessage)
    assert(eScala.getMessage.contains(refusal), eScala.getMessage)
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftfold")
    val eSql = intercept[Exception](spark.sql(
      s"SELECT count(*) FROM graftfold.db.t_fold VERSION AS OF $v1").collect())
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " || " + chain(t.getCause)
    assert(chain(eSql).contains(s"VERSION/TIMESTAMP AS OF $v1"), chain(eSql))
    assert(chain(eSql).contains(refusal), chain(eSql))
  }

  test("A44 key types: TIMESTAMP- and DECIMAL-keyed erases serve through the SQL surface (canonical key values across physical encodings)") {
    import graft.sources.GraftMor
    val wh = graft.sources.GraftSink.scratchDir + "/eqkeys_wh"
    new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(wh), true)
    // timestamp key (the GDPR-erase-by-event-time shape)
    val tsPath = s"$wh/db/t_ts.parquet"
    val base = spark.range(50).select(col("id").as("k"),
      timestamp_seconds(col("id") * 3600L + 1600000000L)
        .cast("timestamp_ntz").as("ts"),
      (col("id") * 2L).as("v"))
    base.repartition(2).write.parquet(tsPath)
    GraftMor.morErase(spark, tsPath,
      base.where(col("k").isin(3L, 5L)).select("ts"), Seq("ts"))
    val morTs = GraftMor.morRead(spark, tsPath)
      .orderBy("k").collect().map(_.toString).toSeq
    assert(morTs.length === 48)
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "grafteqk")
    spark.sql("REFRESH TABLE grafteqk.db.t_ts")
    assert(spark.sql("SELECT k, ts, v FROM grafteqk.db.t_ts ORDER BY k")
      .collect().map(_.toString).toSeq === morTs,
      "a timestamp-keyed erase must serve identically through SQL")
    // the key column pruned from the projection still masks
    assert(spark.sql("SELECT count(*) AS n FROM grafteqk.db.t_ts")
      .head().getLong(0) === 48L)
    // decimal key (UUID-as-decimal / money-keyed erasure)
    val decPath = s"$wh/db/t_dec.parquet"
    val based = spark.range(40).select(col("id").as("k"),
      (col("id") * 100L).cast("decimal(12,2)").as("d"),
      col("id").as("v"))
    based.repartition(2).write.parquet(decPath)
    GraftMor.morErase(spark, decPath,
      based.where(col("k").isin(7L, 9L)).select("d"), Seq("d"))
    val morDec = GraftMor.morRead(spark, decPath)
      .orderBy("k").collect().map(_.toString).toSeq
    assert(morDec.length === 38)
    spark.sql("REFRESH TABLE grafteqk.db.t_dec")
    assert(spark.sql("SELECT k, d, v FROM grafteqk.db.t_dec ORDER BY k")
      .collect().map(_.toString).toSeq === morDec,
      "a decimal-keyed erase must serve identically through SQL")
  }

  test("mask loads are content-addressed and cached: a repeated scan of the same pin opens ZERO sidecar files; a new epoch re-loads") {
    import graft.sources.GraftMor
    import graft.sources.v2.GraftMorMask
    val wh = graft.sources.GraftSink.scratchDir + "/maskcache_wh"
    val path = s"$wh/db/t_mc.parquet"
    new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(wh), true)
    import spark.implicits._
    spark.range(100).select(col("id").as("k"), (col("id") * 2L).as("v"))
      .repartition(2).write.parquet(path)
    GraftMor.morDelete(spark, path, col("k") % 10 === 3)
    GraftMor.morErase(spark, path, Seq(4L).toDF("k"), Seq("k"))
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftmc")
    spark.sql("REFRESH TABLE graftmc.db.t_mc")
    assert(spark.sql("SELECT count(*) AS n FROM graftmc.db.t_mc")
      .head().getLong(0) === 89L)
    val o1 = GraftMorMask.sidecarOpens
    // same pin, two more actions: the dv + eq loads must be cache hits
    assert(spark.sql("SELECT count(*) AS n FROM graftmc.db.t_mc WHERE k < 50")
      .head().getLong(0) === 44L)
    assert(spark.sql("SELECT sum(v) AS s FROM graftmc.db.t_mc")
      .head().getLong(0) > 0L)
    assert(GraftMorMask.sidecarOpens === o1,
      "a repeated scan of the same sidecar pin must open zero sidecar files")
    // a fresh mutation epoch is a NEW content address: the next pinned
    // read loads it (opens advance), and serves the new mask
    GraftMor.morDelete(spark, path, col("k") === 0L)
    spark.sql("REFRESH TABLE graftmc.db.t_mc")
    assert(spark.sql("SELECT count(*) AS n FROM graftmc.db.t_mc")
      .head().getLong(0) === 88L)
    assert(GraftMorMask.sidecarOpens > o1,
      "a new epoch must be loaded, not served stale from the cache")
  }

  test("A55 SQL row-level DML: DELETE (metadata-only and row-level), UPDATE and MERGE INTO serve merge-on-read — tombstone epochs + appended versions, zero files rewritten, state == morRead") {
    import graft.sources.GraftMor
    val wh = graft.sources.GraftSink.scratchDir + "/sqldml_wh"
    val path = s"$wh/db/t_dml.parquet"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    spark.range(100).select(col("id").as("k"), (col("id") * 10L).as("v"))
      .repartition(2).write.parquet(path)
    def dataSig(): Set[(String, Long)] = {
      val out = Set.newBuilder[(String, Long)]
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), true)
      while (it.hasNext) {
        val f = it.next()
        val rel = f.getPath.toUri.getPath
          .stripPrefix(new org.apache.hadoop.fs.Path(path).toUri.getPath)
          .stripPrefix("/")
        if (!rel.split('/').exists(s => s.startsWith("_") || s.startsWith(".")))
          out += ((f.getPath.toString, f.getLen))
      }
      out.result()
    }
    val baseFiles = dataSig()
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftdml")
    spark.sql("REFRESH TABLE graftdml.db.t_dml")
    def served() = {
      spark.sql("REFRESH TABLE graftdml.db.t_dml")
      spark.sql("SELECT k, v FROM graftdml.db.t_dml ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    // 1. translatable DELETE → the metadata-only path (morDelete):
    // one tombstone epoch, no data file touched
    spark.sql("DELETE FROM graftdml.db.t_dml WHERE k >= 90")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_dv")),
      "a metadata DELETE must write a tombstone epoch")
    assert(dataSig() === baseFiles, "DELETE must rewrite no data file")
    assert(served().size === 90)
    // 2. non-translatable predicate → the row-level delta path
    spark.sql("DELETE FROM graftdml.db.t_dml WHERE k % 10 = 3")
    assert(served().size === 81)
    assert(served().count(_._1 % 10 == 3) === 0)
    assert(dataSig() === baseFiles, "a delta DELETE must rewrite no data file")
    // 3. UPDATE = delete + append of the new versions
    spark.sql("UPDATE graftdml.db.t_dml SET v = v + 1000 WHERE k IN (1, 2)")
    val s3 = served()
    assert(s3.size === 81, "UPDATE must not change the row count")
    assert(s3.toMap.apply(1L) === 1010L && s3.toMap.apply(2L) === 1020L)
    assert(s3.map(_._1).distinct.size === 81, "no duplicate keys after UPDATE")
    assert(baseFiles.subsetOf(dataSig()),
      "UPDATE appends new versions; the original files stay byte-identical")
    // 4. MERGE INTO: matched update + not-matched insert
    spark.sql("""
      MERGE INTO graftdml.db.t_dml t
      USING (SELECT 5 AS k, 5555 AS v UNION ALL SELECT 200, 2000) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    val s4 = served()
    assert(s4.size === 82)
    assert(s4.toMap.apply(5L) === 5555L && s4.toMap.apply(200L) === 2000L)
    // the whole SQL-mutated state equals the Scala-surface read
    assert(s4 === GraftMor.morRead(spark, path).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // 5. TRUNCATE refuses by name (an all-row tombstone is the wrong
    // tool; the remedy is a file-level rewrite)
    val eT = intercept[Exception](spark.sql("TRUNCATE TABLE graftdml.db.t_dml"))
    assert(chainMsg(eT).contains("TRUNCATE"), chainMsg(eT))
    // 6. staging residue is gone; compaction folds everything
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_staging")),
      "delta DML must leave no staging residue")
    GraftMor.morCompact(spark, path)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_dv")))
    assert(served() === s4, "compaction must not change the served state")
  }

  test("A55 on a HIVE-PARTITIONED table: UPDATE routes new versions into their partition dirs, a partition-value UPDATE is a partition move, layout stays whole") {
    import graft.sources.GraftMor
    val wh = graft.sources.GraftSink.scratchDir + "/sqldml_part_wh"
    val path = s"$wh/db/t_pdml.parquet"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    spark.range(60).select(col("id").as("k"), (col("id") * 10L).as("v"),
        (col("id") % 3).as("p"))
      .write.partitionBy("p").parquet(path)
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftpdml")
    def served() = {
      spark.sql("REFRESH TABLE graftpdml.db.t_pdml")
      spark.sql("SELECT k, v, p FROM graftpdml.db.t_pdml ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    assert(served().size === 60)
    // plain UPDATE: the new version lands under ITS partition dir
    spark.sql("UPDATE graftpdml.db.t_pdml SET v = 7777 WHERE k = 9")
    val s1 = served()
    assert(s1.size === 60 && s1.find(_._1 == 9L).get._2 === 7777L)
    // partition-value UPDATE = a partition MOVE
    spark.sql("UPDATE graftpdml.db.t_pdml SET p = 2 WHERE k = 10")
    val s2 = served()
    assert(s2.size === 60 && s2.find(_._1 == 10L).get._3 === 2L)
    assert(s2.count(_._1 == 10L) === 1, "a moved row must not duplicate")
    // MERGE not-matched insert routes to its partition dir too
    spark.sql("""
      MERGE INTO graftpdml.db.t_pdml t
      USING (SELECT 500 AS k, 1 AS v, 1 AS p) s ON t.k = s.k
      WHEN NOT MATCHED THEN INSERT (k, v, p) VALUES (s.k, s.v, s.p)""")
    val s3 = served()
    assert(s3.size === 61 && s3.find(_._1 == 500L).get._3 === 1L)
    // the hive layout stays whole: every data file lives under a p=N
    // dir (a root-level file would poison partition discovery)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), true)
    while (it.hasNext) {
      val f = it.next()
      val rel = f.getPath.toUri.getPath
        .stripPrefix(new org.apache.hadoop.fs.Path(path).toUri.getPath)
        .stripPrefix("/")
      if (!rel.split('/').exists(s => s.startsWith("_") || s.startsWith(".")))
        assert(rel.startsWith("p="),
          s"data file outside a partition dir: $rel")
    }
    // and the Scala surface agrees (hive discovery types small
    // partition values as INT — read via Number)
    assert(s3 === GraftMor.morRead(spark, path)
      .select("k", "v", "p").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number]("p").longValue())).toSeq)
  }

  test("A58 SQL DDL: CREATE NAMESPACE / CREATE TABLE / CTAS / DROP TABLE round-trip through the catalog; declared types win; writes ride the A38 gate") {
    val wh = graft.sources.GraftSink.scratchDir + "/sqlddl_wh"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(wh))
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftddl")
    spark.sql("CREATE NAMESPACE graftddl.db2")
    assert(spark.sql("SHOW NAMESPACES IN graftddl")
      .collect().map(_.getString(0)).contains("db2"))
    // CREATE TABLE: born empty, declared types, partitioned layout
    spark.sql("CREATE TABLE graftddl.db2.t_new (k BIGINT, v STRING, p BIGINT) " +
      "PARTITIONED BY (p)")
    assert(spark.sql("SHOW TABLES IN graftddl.db2")
      .collect().map(_.getString(1)).contains("t_new"))
    assert(spark.sql("SELECT count(*) AS n FROM graftddl.db2.t_new")
      .head().getLong(0) === 0L)
    assert(spark.table("graftddl.db2.t_new").schema("v").dataType ===
      org.apache.spark.sql.types.StringType)
    // INSERT through the gate; declared schema keeps winning
    spark.sql("INSERT INTO graftddl.db2.t_new VALUES (1, 'a', 0), (2, 'b', 1)")
    spark.sql("REFRESH TABLE graftddl.db2.t_new")
    assert(spark.sql("SELECT k, v, p FROM graftddl.db2.t_new ORDER BY k")
      .collect().map(_.toString).toSeq === Seq("[1,a,0]", "[2,b,1]"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$wh/db2/t_new.parquet/p=0")),
      "the declared partitioning must shape the layout")
    assert(new graft.sources.GraftCatalog(spark, s"$wh/db2")
      .snapshotIds("t_new").nonEmpty, "the INSERT must publish a gated epoch")
    // row-level DML works on a created table
    spark.sql("UPDATE graftddl.db2.t_new SET v = 'z' WHERE k = 1")
    spark.sql("REFRESH TABLE graftddl.db2.t_new")
    assert(spark.sql("SELECT v FROM graftddl.db2.t_new WHERE k = 1")
      .head().getString(0) === "z")
    // ALTER TABLE ADD COLUMN: one marker write, pre-evolution rows
    // serve null-filled, the next insert can carry it
    spark.sql("ALTER TABLE graftddl.db2.t_new ADD COLUMN w BIGINT")
    spark.sql("REFRESH TABLE graftddl.db2.t_new")
    assert(spark.sql("SELECT w FROM graftddl.db2.t_new WHERE k = 2")
      .head().isNullAt(0), "pre-evolution rows must serve the added column null")
    // added columns slot BEFORE the partition columns: (k, v, w, p)
    spark.sql("INSERT INTO graftddl.db2.t_new VALUES (3, 'c', 77, 0)")
    spark.sql("REFRESH TABLE graftddl.db2.t_new")
    assert(spark.sql("SELECT w FROM graftddl.db2.t_new WHERE k = 3")
      .head().getLong(0) === 77L)
    assert(spark.sql("SELECT count(*) AS n FROM graftddl.db2.t_new")
      .head().getLong(0) === 3L)
    // A61 routes DROP/RENAME through the declared rewrite — on THIS
    // table (live _dv from the ladder above) it refuses by name until
    // the sidecars fold; retype stays a re-create
    val eAlter = intercept[Exception](spark.sql(
      "ALTER TABLE graftddl.db2.t_new DROP COLUMN v"))
    assert(eAlter.getMessage.contains("morCompact"), eAlter.getMessage)
    // CTAS: create + gated write in one statement
    spark.sql("CREATE TABLE graftddl.db2.t_ctas AS " +
      "SELECT id AS k, id * 2 AS v FROM range(10)")
    spark.sql("REFRESH TABLE graftddl.db2.t_ctas")
    assert(spark.sql("SELECT count(*) AS n FROM graftddl.db2.t_ctas")
      .head().getLong(0) === 10L)
    // duplicate create and bad partition types refuse clearly
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " || " + chain(t.getCause)
    val e1 = intercept[Exception](spark.sql(
      "CREATE TABLE graftddl.db2.t_new (x BIGINT)"))
    assert(chain(e1).toLowerCase.contains("already exists"), chain(e1))
    val e2 = intercept[Exception](spark.sql(
      "CREATE TABLE graftddl.db2.t_bad (k INT, p INT) PARTITIONED BY (p)"))
    assert(chain(e2).contains("BIGINT/DOUBLE/STRING"), chain(e2))
    // DROP TABLE: listing, dir and manifests go; a held lease refuses
    val lease = graft.sources.GraftLease.acquire(
      spark, s"$wh/db2/t_ctas.parquet", 60000L)
    val e3 = intercept[Exception](spark.sql("DROP TABLE graftddl.db2.t_ctas"))
    assert(chain(e3).toLowerCase.contains("lease"), chain(e3))
    graft.sources.GraftLease.release(spark, s"$wh/db2/t_ctas.parquet", lease)
    spark.sql("DROP TABLE graftddl.db2.t_new")
    assert(!spark.sql("SHOW TABLES IN graftddl.db2")
      .collect().map(_.getString(1)).contains("t_new"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$wh/db2/t_new.parquet")))
  }

  test("A61 ALTER TABLE DROP/RENAME COLUMN: a declared rewrite — dropped bytes physically leave, renames preserve values, partition columns and live sidecars refuse by name") {
    val wh = graft.sources.GraftSink.scratchDir + "/a61_wh"
    val path = s"$wh/db/t_alt.parquet"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(wh))
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftalt")
    spark.sql("CREATE NAMESPACE graftalt.db")
    spark.sql("CREATE TABLE graftalt.db.t_alt " +
      "(k BIGINT, junk STRING, v BIGINT, p BIGINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO graftalt.db.t_alt VALUES " +
      "(1, 'secret1', 10, 0), (2, 'secret2', 20, 1), (3, 'secret3', 30, 0)")
    spark.sql("REFRESH TABLE graftalt.db.t_alt")
    // DROP: gone from the served schema AND from the bytes (A47
    // discipline — a raw footer-merged read must not know the column)
    spark.sql("ALTER TABLE graftalt.db.t_alt DROP COLUMN junk")
    spark.sql("REFRESH TABLE graftalt.db.t_alt")
    assert(!spark.table("graftalt.db.t_alt").columns.contains("junk"))
    assert(!spark.read.parquet(path).columns.contains("junk"),
      "DROP COLUMN must physically purge the column from the files")
    assert(spark.sql("SELECT k, v, p FROM graftalt.db.t_alt ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      === Seq((1L, 10L, 0L), (2L, 20L, 1L), (3L, 30L, 0L)),
      "DROP COLUMN must preserve every other value")
    // RENAME: values ride under the new name on every surface
    spark.sql("ALTER TABLE graftalt.db.t_alt RENAME COLUMN v TO val")
    spark.sql("REFRESH TABLE graftalt.db.t_alt")
    assert(spark.sql("SELECT sum(val) AS s FROM graftalt.db.t_alt")
      .head().getLong(0) === 60L)
    assert(spark.read.parquet(path).columns.contains("val") &&
      !spark.read.parquet(path).columns.contains("v"),
      "RENAME COLUMN must rewrite the files, not alias them")
    // hive layout stays whole; partition pruning still works
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftalt.db.t_alt WHERE p = 0")
      .head().getLong(0) === 2L)
    // refusals: partition columns are the layout
    val eP = intercept[Exception](spark.sql(
      "ALTER TABLE graftalt.db.t_alt DROP COLUMN p"))
    assert(chainMsg(eP).contains("PARTITION"), chainMsg(eP))
    val eR = intercept[Exception](spark.sql(
      "ALTER TABLE graftalt.db.t_alt RENAME COLUMN p TO q"))
    assert(chainMsg(eR).contains("PARTITION"), chainMsg(eR))
    // retype still refuses by name
    val eT = intercept[Exception](spark.sql(
      "ALTER TABLE graftalt.db.t_alt ALTER COLUMN k TYPE STRING"))
    assert(chainMsg(eT).toLowerCase.contains("re-create"), chainMsg(eT))
    // live mutation sidecars refuse (the rewrite would dangle them)
    spark.sql("DELETE FROM graftalt.db.t_alt WHERE k = 99")
    val eS = intercept[Exception](spark.sql(
      "ALTER TABLE graftalt.db.t_alt DROP COLUMN val"))
    assert(chainMsg(eS).contains("morCompact"), chainMsg(eS))
    graft.sources.GraftMor.morCompact(spark, path)
    spark.sql("REFRESH TABLE graftalt.db.t_alt")
    // ...and folds clear the refusal
    spark.sql("ALTER TABLE graftalt.db.t_alt DROP COLUMN val")
    spark.sql("REFRESH TABLE graftalt.db.t_alt")
    assert(spark.table("graftalt.db.t_alt").columns.toSeq === Seq("k", "p"))
  }

  test("A58/r14: a DECLARED STRING partition column stays STRING after a numeric-looking first insert — the marker DDL is the truth on every surface") {
    val wh = graft.sources.GraftSink.scratchDir + "/a58pt_wh"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(wh))
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftpt")
    spark.sql("CREATE NAMESPACE graftpt.db")
    spark.sql("CREATE TABLE graftpt.db.t_pt (k BIGINT, region STRING) " +
      "PARTITIONED BY (region)")
    def regionType(): org.apache.spark.sql.types.DataType = {
      spark.sql("REFRESH TABLE graftpt.db.t_pt")
      spark.table("graftpt.db.t_pt").schema("region").dataType
    }
    assert(regionType() === org.apache.spark.sql.types.StringType,
      "the empty table serves the declared DDL")
    // the poison case: every first-batch value parses numeric — path
    // inference would flip the column to BIGINT, contradicting the DDL
    spark.sql("INSERT INTO graftpt.db.t_pt VALUES (1, '7'), (2, '8')")
    assert(regionType() === org.apache.spark.sql.types.StringType,
      "a numeric-looking batch must not flip a DECLARED STRING partition " +
        "column to BIGINT")
    // and a later non-numeric insert (which inference would have broken)
    spark.sql("INSERT INTO graftpt.db.t_pt VALUES (3, 'west')")
    spark.sql("REFRESH TABLE graftpt.db.t_pt")
    val got = spark.sql(
      "SELECT k, region FROM graftpt.db.t_pt ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "7"), (2L, "8"), (3L, "west")))
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftpt.db.t_pt WHERE region = '7'")
      .head().getLong(0) === 1L)
  }

  test("A56/r14: INSERT OVERWRITE with an empty source refuses by name — never a silent no-op over a truncate intent") {
    val wh = graft.sources.GraftSink.scratchDir + "/a56empty_wh"
    val path = s"$wh/db/t_eow.parquet"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    spark.range(10).select(col("id").as("k"), (col("id") % 2).as("p"))
      .write.partitionBy("p").parquet(path)
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "grafteow")
    spark.sql("REFRESH TABLE grafteow.db.t_eow")
    val e = intercept[Exception](spark.sql(
      "INSERT OVERWRITE grafteow.db.t_eow " +
        "SELECT CAST(99 AS BIGINT) AS k, CAST(0 AS BIGINT) AS p WHERE 1 = 0"))
    assert(chainMsg(e).contains("produced no rows"), chainMsg(e))
    spark.sql("REFRESH TABLE grafteow.db.t_eow")
    assert(spark.sql("SELECT count(*) AS n FROM grafteow.db.t_eow")
      .head().getLong(0) === 10L, "a refused empty overwrite changes nothing")
  }

  test("A57/r14: the mask-load cache locks per key — concurrent same-key loads compute once, and a refused load is retried, never cached") {
    import graft.sources.{GraftMor, GraftSink}
    import graft.sources.v2.{GraftMorMask, GraftV2}
    val path = GraftSink.scratchDir + "/a57_lock"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    spark.range(200).select(col("id").as("k")).repartition(1)
      .write.parquet(path)
    GraftMor.morDelete(spark, path, col("k") % 7 === 0)
    val conf = spark.sessionState.newHadoopConf()
    val sidecar = GraftV2.sidecarParquet(path, GraftMor.DvDir, conf)
    assert(sidecar.nonEmpty)
    val before = GraftMorMask.sidecarOpens
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map(_ => pool.submit(
        new java.util.concurrent.Callable[Int] {
          override def call(): Int = GraftMorMask.load(sidecar, conf).size
        }))
      val sizes = futures.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(sizes.distinct.size === 1)
    } finally pool.shutdownNow()
    assert(GraftMorMask.sidecarOpens - before === sidecar.size.toLong,
      "8 concurrent same-key loads must open each sidecar file exactly once")
    // a refused load (cap) must throw EVERY time — not leave a poisoned
    // or half-built entry behind — and the good key stays served
    val e1 = intercept[IllegalStateException](
      GraftMorMask.load(sidecar, conf, cap = 3L))
    assert(e1.getMessage.contains("morCompact"))
    val e2 = intercept[IllegalStateException](
      GraftMorMask.load(sidecar, conf, cap = 3L))
    assert(e2.getMessage.contains("morCompact"))
    val opensAfterGood = GraftMorMask.sidecarOpens
    assert(GraftMorMask.load(sidecar, conf).nonEmpty)
    assert(GraftMorMask.sidecarOpens === opensAfterGood,
      "the successful load must still be cached after refused attempts")
  }

  test("A55 MERGE breadth: WHEN MATCHED [AND cond] THEN DELETE and multi-clause merges route through the delta write — zero files rewritten, state == morRead") {
    import graft.sources.GraftMor
    val wh = graft.sources.GraftSink.scratchDir + "/a55mrg_wh"
    val path = s"$wh/db/t_mrg.parquet"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    spark.range(100).select(col("id").as("k"), (col("id") * 10L).as("v"))
      .repartition(2).write.parquet(path)
    def baseSig(): Set[(String, Long)] = {
      val out = Set.newBuilder[(String, Long)]
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), true)
      while (it.hasNext) {
        val f = it.next()
        val rel = f.getPath.toUri.getPath
          .stripPrefix(new org.apache.hadoop.fs.Path(path).toUri.getPath)
          .stripPrefix("/")
        if (!rel.split('/').exists(s => s.startsWith("_") || s.startsWith(".")))
          out += ((f.getPath.toString, f.getLen))
      }
      out.result()
    }
    val base = baseSig()
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftmrg")
    spark.sql("REFRESH TABLE graftmrg.db.t_mrg")
    // multi-clause: conditional matched-DELETE + matched-UPDATE +
    // not-matched INSERT in ONE statement
    spark.sql("""
      MERGE INTO graftmrg.db.t_mrg t
      USING (SELECT id + 10 AS k, 7777 AS v FROM range(10)
             UNION ALL SELECT 200, 2000) s
      ON t.k = s.k
      WHEN MATCHED AND t.k % 2 = 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    spark.sql("REFRESH TABLE graftmrg.db.t_mrg")
    val got = spark.sql("SELECT k, v FROM graftmrg.db.t_mrg ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // even keys 10..18 deleted, odd keys 11..19 updated, 200 inserted
    assert(got.size === 100 - 5 + 1)
    Seq(10L, 12L, 14L, 16L, 18L).foreach(k =>
      assert(!got.exists(_._1 == k), s"matched-DELETE missed k=$k"))
    Seq(11L, 13L, 15L, 17L, 19L).foreach(k =>
      assert(got.toMap.apply(k) === 7777L, s"matched-UPDATE missed k=$k"))
    assert(got.toMap.apply(200L) === 2000L, "not-matched INSERT missed")
    assert(base.subsetOf(baseSig()), "MERGE must rewrite no base file")
    // pure matched-DELETE merge (single clause)
    spark.sql("""
      MERGE INTO graftmrg.db.t_mrg t
      USING (SELECT id AS k FROM range(5)) s
      ON t.k = s.k
      WHEN MATCHED THEN DELETE""")
    spark.sql("REFRESH TABLE graftmrg.db.t_mrg")
    val got2 = spark.sql("SELECT k, v FROM graftmrg.db.t_mrg ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2.size === got.size - 5)
    assert(!got2.exists(_._1 < 5L))
    // the SQL-merged state equals the Scala surface
    assert(got2 === GraftMor.morRead(spark, path).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("A59 writer coordination: epoch/sequence allocation is atomic — a commit interleaved between another writer's allocate and rename can never share its epoch; in-flight reservations cannot mask a concurrent insert") {
    import graft.sources.GraftMor
    val wh = graft.sources.GraftSink.scratchDir + "/a59_wh"
    val path = s"$wh/db/t_a59.parquet"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    spark.range(100).select(col("id").as("k"), (col("id") * 10L).as("v"))
      .repartition(2).write.parquet(path)
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "grafta59")
    spark.sql("REFRESH TABLE grafta59.db.t_a59")
    // ── position flavor: writer A allocates its dv epoch, then writer
    // B (a full SQL DELETE commit) runs IN THE WINDOW between A's
    // allocate and A's rename — the r13 race. B must land in a
    // DIFFERENT epoch.
    val dirA = GraftMor.allocateDvEpochDir(spark, path) // A reserves
    val epochA = new org.apache.hadoop.fs.Path(dirA).getName
    spark.sql("DELETE FROM grafta59.db.t_a59 WHERE k % 10 = 3") // B commits
    val dvEpochs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/_dv"))
      .map(_.getPath.getName).toSet
    assert(!dvEpochs.contains(epochA),
      s"writer B landed in A's reserved epoch $epochA (epochs: $dvEpochs)")
    // A now completes into its reserved dir; both masks must compose
    val one = spark.read.parquet(path)
      .select(org.apache.spark.sql.functions
        .regexp_replace(col("_metadata.file_path"), "^[a-zA-Z0-9.+-]+:/+", "/")
        .as("dv_file"),
        col("_metadata.row_index").as("dv_pos"), col("k"))
      .where(col("k") === 7L).drop("k").limit(1)
    one.write.parquet(dirA)
    val served = GraftMor.morRead(spark, path)
    assert(served.where(col("k") % 10 === 3).count() === 0, "B's delete serves")
    assert(served.where(col("k") === 7L).count() === 0, "A's delete serves")
    assert(served.count() === 89)
    // a third allocation is strictly above both
    val epochC = new org.apache.hadoop.fs.Path(
      GraftMor.allocateDvEpochDir(spark, path)).getName.stripPrefix("epoch=").toInt
    assert(epochC > epochA.stripPrefix("epoch=").toInt &&
      !dvEpochs.contains(s"epoch=$epochC"))
    // ── equality flavor: an IN-FLIGHT upsert (reserved, tombstones not
    // yet written) cannot mask a concurrent insert — the insert's
    // sequence respects the reservation.
    val path2 = s"$wh/db/t_a59eq.parquet"
    spark.range(20).select(col("id").as("k"), (col("id") * 10L).as("v"))
      .repartition(1).write.parquet(path2)
    spark.sql("REFRESH TABLE grafta59.db.t_a59eq")
    // establish the eq sidecar (epoch 0, seq 1)
    import spark.implicits._
    GraftMor.morUpsertEq(spark, path2,
      Seq((5L, 555L)).toDF("k", "v"), Seq("k"))
    // writer U reserves its epoch (will tombstone k=5 at seq rsv+1) ...
    val rsv = GraftMor.allocateEqEpoch(spark, path2)
    // ... and IN ITS WINDOW a concurrent INSERT lands the same key: its
    // _seqm sequence must sit AT OR ABOVE the in-flight tombstone's
    spark.sql("INSERT INTO grafta59.db.t_a59eq VALUES (5, 999)")
    val seqm = spark.read.parquet(s"$path2/_seqm")
    assert(seqm.agg(max(col("file_seq"))).head().getLong(0) >= rsv + 1L,
      "the concurrent insert must sequence at/above the reservation's seq")
    // writer U completes: tombstone for k=5 at its reserved epoch
    Seq((5L, rsv + 1L)).toDF("k", "seq").write
      .parquet(s"$path2/_eq/epoch=$rsv")
    val vs = GraftMor.morRead(spark, path2).where(col("k") === 5L)
      .select("v").collect().map(_.getLong(0)).toSet
    assert(vs.contains(999L),
      s"the in-flight upsert's tombstone masked the concurrent insert (got $vs)")
    assert(!vs.contains(10 * 5L) && !vs.contains(555L),
      s"older versions must stay masked (got $vs)")
    // two sequential eq-upserts (now via atomic allocation) never share
    // an epoch or sequence
    GraftMor.morUpsertEq(spark, path2, Seq((6L, 666L)).toDF("k", "v"), Seq("k"))
    GraftMor.morUpsertEq(spark, path2, Seq((6L, 777L)).toDF("k", "v"), Seq("k"))
    val eqEpochs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path2/_eq"))
      .map(_.getPath.getName).filter(_.startsWith("epoch=")).toSeq
    assert(eqEpochs.distinct.size === eqEpochs.size)
    assert(GraftMor.morRead(spark, path2).where(col("k") === 6L)
      .select("v").collect().map(_.getLong(0)).toSeq === Seq(777L),
      "the later upsert's version must win")
  }

  test("A55 crash contract: a failure between insert-land and delete-publish serves transient duplicates — never row loss — and a targeted repair converges") {
    import graft.sources.v2.GraftRowLevel
    val wh = graft.sources.GraftSink.scratchDir + "/a55crash_wh"
    val path = s"$wh/db/t_crash.parquet"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    spark.range(100).select(col("id").as("k"), (col("id") * 10L).as("v"))
      .repartition(2).write.parquet(path)
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftcrash")
    def served() = {
      spark.sql("REFRESH TABLE graftcrash.db.t_crash")
      spark.sql("SELECT k, v FROM graftcrash.db.t_crash ORDER BY k, v")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    served()
    GraftRowLevel.crashBeforeDeletePublish = true
    try {
      val e = intercept[Exception](spark.sql(
        "UPDATE graftcrash.db.t_crash SET v = v + 1000 WHERE k IN (1, 2)"))
      assert(chainMsg(e).contains("injected crash"), chainMsg(e))
    } finally GraftRowLevel.crashBeforeDeletePublish = false
    val s1 = served()
    // NO ROW LOSS: every key still present; the new versions landed as
    // duplicates beside the old (the delete epoch never published)
    assert(s1.map(_._1).distinct.size === 100, "a key vanished = row loss")
    assert(s1.size === 102, s"expected old+new duplicates, got ${s1.size} rows")
    assert(s1.filter(_._1 == 1L).map(_._2).toSet === Set(10L, 1010L))
    assert(s1.filter(_._1 == 2L).map(_._2).toSet === Set(20L, 1020L))
    // repair: delete exactly the superseded old versions — converges to
    // the state the UPDATE intended
    spark.sql("DELETE FROM graftcrash.db.t_crash " +
      "WHERE k IN (1, 2) AND v < 1000")
    val s2 = served()
    assert(s2.size === 100 && s2.toMap.apply(1L) === 1010L &&
      s2.toMap.apply(2L) === 1020L)
  }

  test("A55: unconditional DELETE FROM refuses by name — an O(table) tombstone epoch is a truncate wearing DELETE's clothes") {
    val wh = graft.sources.GraftSink.scratchDir + "/a55all_wh"
    val path = s"$wh/db/t_all.parquet"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    spark.range(50).select(col("id").as("k")).write.parquet(path)
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "grafta55all")
    spark.sql("REFRESH TABLE grafta55all.db.t_all")
    val e1 = intercept[Exception](
      spark.sql("DELETE FROM grafta55all.db.t_all"))
    assert(chainMsg(e1).contains("tombstone every row"), chainMsg(e1))
    val e2 = intercept[Exception](
      spark.sql("DELETE FROM grafta55all.db.t_all WHERE true"))
    assert(chainMsg(e2).contains("tombstone every row"), chainMsg(e2))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_dv")),
      "a refused unconditional DELETE must write nothing")
    spark.sql("REFRESH TABLE grafta55all.db.t_all")
    assert(spark.sql("SELECT count(*) AS n FROM grafta55all.db.t_all")
      .head().getLong(0) === 50L)
  }

  test("A62 declared layout: every SQL insert arrives z-clustered — row groups prune on BOTH keys; bad declarations refuse by name; RENAME follows, DROP refuses") {
    import graft.sources.v2.{GraftLayout, GraftScan}
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    import org.apache.spark.sql.types._
    val wh = graft.sources.GraftSink.scratchDir + "/layout_wh"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$wh/db"))
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftlay")
    // bad declarations refuse BEFORE the table materializes
    def chain(t: Throwable): String = chainMsg(t)
    val eCol = intercept[Exception](spark.sql(
      "CREATE TABLE graftlay.db.t_bad1 (a BIGINT, b BIGINT) " +
        "TBLPROPERTIES ('layout'='zorder(a,nope)')"))
    assert(chain(eCol).contains("not in the table schema"), chain(eCol))
    val eTyp = intercept[Exception](spark.sql(
      "CREATE TABLE graftlay.db.t_bad2 (a BIGINT, s DOUBLE) " +
        "TBLPROPERTIES ('layout'='zorder(a,s)')"))
    assert(chain(eTyp).contains("must be BIGINT"), chain(eTyp))
    val ePart = intercept[Exception](spark.sql(
      "CREATE TABLE graftlay.db.t_bad3 (a BIGINT, p BIGINT) " +
        "PARTITIONED BY (p) TBLPROPERTIES ('layout'='sort(p)')"))
    assert(chain(ePart).contains("partition column"), chain(ePart))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$wh/db/t_bad1.parquet")),
      "a refused CREATE must leave nothing behind")
    // the real table: orders keys at sf0.01 through the gated insert.
    // KB-scale data needs the two standard knobs to SEE the layout:
    // AQE coalesce folds tiny range partitions into one file, and the
    // default 128 MB block makes one row group — at real scale both
    // sizes are organic
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    hc.set("parquet.block.size", "65536")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
    spark.sql("CREATE TABLE graftlay.db.t_z (o_orderkey BIGINT, " +
      "o_custkey BIGINT, o_totalprice DOUBLE) " +
      "TBLPROPERTIES ('layout'='zorder(o_custkey,o_orderkey)')")
    spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("lay_src")
    spark.sql("INSERT INTO graftlay.db.t_z SELECT * FROM lay_src")
    spark.sql("REFRESH TABLE graftlay.db.t_z")
    // lossless: the clustered table holds exactly the source rows
    assert(spark.sql(
      "SELECT count(*) AS n, sum(o_orderkey) AS s FROM graftlay.db.t_z")
      .head().toString ===
      spark.sql("SELECT count(*) AS n, sum(o_orderkey) AS s FROM lay_src")
        .head().toString)
    // the payoff: footer-stats pruning on BOTH interleaved dimensions
    val tPath = s"$wh/db/t_z.parquet"
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType)))
    def parts(filters: Array[org.apache.spark.sql.sources.Filter]): Int =
      GraftScan(tPath, schema, filters).planInputPartitions().length
    val total = parts(Array.empty)
    assume(total > 3, s"need multiple files/row groups, got $total")
    val byCust = parts(Array(
      GreaterThanOrEqual("o_custkey", 100L), LessThanOrEqual("o_custkey", 120L)))
    val byOrder = parts(Array(
      GreaterThanOrEqual("o_orderkey", 100L), LessThanOrEqual("o_orderkey", 200L)))
    assert(byCust < total, s"custkey band must prune: $byCust of $total")
    assert(byOrder < total, s"orderkey band must prune: $byOrder of $total")
    // the layout is a contract: DROP of a layout column refuses by
    // name, RENAME carries the declaration (and later inserts shape
    // against the new name)
    val eDrop = intercept[Exception](spark.sql(
      "ALTER TABLE graftlay.db.t_z DROP COLUMN o_custkey"))
    assert(chain(eDrop).contains("layout"), chain(eDrop))
    spark.sql("ALTER TABLE graftlay.db.t_z RENAME COLUMN o_custkey TO cust")
    assert(GraftLayout.readMarker(fs, tPath).get.cols === Seq("cust", "o_orderkey"))
    spark.sql("REFRESH TABLE graftlay.db.t_z")
    spark.sql("INSERT INTO graftlay.db.t_z VALUES (900000001, 42, 1.5)")
    spark.sql("REFRESH TABLE graftlay.db.t_z")
    assert(spark.sql(
      "SELECT cust FROM graftlay.db.t_z WHERE o_orderkey = 900000001")
      .head().getLong(0) === 42L)
    // a sort layout shapes too: one narrow file band per range slice
    spark.sql("CREATE TABLE graftlay.db.t_s (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('layout'='sort(k)')")
    spark.range(20000).selectExpr(
      "cast(hash(id) as bigint) % 100000 AS k", "rand(7) AS v")
      .createOrReplaceTempView("lay_sort_src")
    spark.sql("INSERT INTO graftlay.db.t_s SELECT * FROM lay_sort_src")
    spark.sql("REFRESH TABLE graftlay.db.t_s")
    val sPath = s"$wh/db/t_s.parquet"
    val sSchema = StructType(Seq(StructField("k", LongType)))
    def sParts(filters: Array[org.apache.spark.sql.sources.Filter]): Int =
      GraftScan(sPath, sSchema, filters).planInputPartitions().length
    val sTotal = sParts(Array.empty)
    assume(sTotal > 3, s"need multiple files, got $sTotal")
    assert(sParts(Array(GreaterThanOrEqual("k", 0L),
      LessThanOrEqual("k", 1000L))) < sTotal,
      "a band on the sort key must prune files/row groups")
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    }
  }

  test("A65 bucket layout: a storage-partitioned join of two bucketed tables plans ZERO shuffle; values equal the shuffled baseline; a stray append degrades honestly") {
    val wh = graft.sources.GraftSink.scratchDir + "/bucket_wh"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$wh/db"))
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftbkt")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("CREATE TABLE graftbkt.db.t_orders (o_orderkey BIGINT, " +
        "o_custkey BIGINT, o_totalprice DOUBLE) " +
        "TBLPROPERTIES ('layout'='bucket(o_custkey,8)')")
      spark.sql("CREATE TABLE graftbkt.db.t_cust (c_custkey BIGINT, " +
        "c_name STRING) TBLPROPERTIES ('layout'='bucket(c_custkey,8)')")
      spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("bkt_orders_src")
      spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
        .select("c_custkey", "c_name")
        .createOrReplaceTempView("bkt_cust_src")
      spark.sql("INSERT INTO graftbkt.db.t_orders SELECT * FROM bkt_orders_src")
      spark.sql("INSERT INTO graftbkt.db.t_cust SELECT * FROM bkt_cust_src")
      spark.sql("REFRESH TABLE graftbkt.db.t_orders")
      spark.sql("REFRESH TABLE graftbkt.db.t_cust")
      // the insert shaped the layout: every data file sits in bucket=N
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$wh/db/t_orders.parquet/bucket=0")), "bucket dirs must exist")
      // the bucket dir column is LAYOUT, not schema
      assert(!spark.table("graftbkt.db.t_orders").schema.fieldNames
        .contains("bucket"), "bucket is not a table column")
      // the declared contract is discoverable
      assert(spark.sql("SHOW TBLPROPERTIES graftbkt.db.t_orders")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        .get("layout").contains("bucket(o_custkey,8)"),
        "SHOW TBLPROPERTIES must serve the declared layout")
      val joined = spark.sql("""
        SELECT o.o_custkey, count(*) AS n, sum(o.o_totalprice) AS total
        FROM graftbkt.db.t_orders o JOIN graftbkt.db.t_cust c
          ON o.o_custkey = c.c_custkey
        GROUP BY o.o_custkey""")
      val shuffles = allPlanNodes(joined.queryExecution.executedPlan).count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
      // the join itself is exchange-free: the only shuffle in the plan
      // is the final GROUP BY's (bucketed on o_custkey it is also
      // avoidable, but join co-location is what A65 pins). Baseline
      // without SPJ plans 2 join-input exchanges + the agg's.
      val baseline = spark.sql("""
        SELECT o.o_custkey, count(*) AS n, sum(o.o_totalprice) AS total
        FROM bkt_orders_src o JOIN bkt_cust_src c
          ON o.o_custkey = c.c_custkey
        GROUP BY o.o_custkey""")
      val baseShuffles = allPlanNodes(baseline.queryExecution.executedPlan).count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
      assert(shuffles < baseShuffles,
        s"SPJ must eliminate join exchanges: got $shuffles vs baseline $baseShuffles\n" +
          joined.queryExecution.executedPlan.toString.take(1500))
      // and the values are EXACTLY the shuffled join's
      assert(joined.orderBy("o_custkey").collect().map(_.toString).toSeq ===
        baseline.orderBy("o_custkey").collect().map(_.toString).toSeq)
      // the co-location serves AGGREGATION too: groupBy on the bucket
      // key plans ZERO exchange (KeyGroupedPartitioning satisfies the
      // clustered distribution) — at 100 TB, per-key rollups of a
      // bucketed fact table never shuffle
      val agg = spark.sql(
        "SELECT o_custkey, count(*) AS n FROM graftbkt.db.t_orders " +
          "GROUP BY o_custkey")
      assert(allPlanNodes(agg.queryExecution.executedPlan).count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]) === 0,
        "groupBy on the bucket key must plan no exchange:\n" +
          agg.queryExecution.executedPlan.toString.take(1200))
      assert(agg.count() === spark.sql(
        "SELECT count(DISTINCT o_custkey) FROM bkt_orders_src").head().getLong(0))
      // a row-level UPDATE lands delta-insert files OUTSIDE bucket
      // dirs: the scan degrades to UnknownPartitioning (joins shuffle
      // again) but values stay exact — honest, never silently wrong
      spark.sql("UPDATE graftbkt.db.t_orders SET o_totalprice = 0.0 " +
        "WHERE o_orderkey % 1000 = 7")
      spark.sql("REFRESH TABLE graftbkt.db.t_orders")
      val degraded = spark.sql("""
        SELECT o.o_custkey, count(*) AS n
        FROM graftbkt.db.t_orders o JOIN graftbkt.db.t_cust c
          ON o.o_custkey = c.c_custkey
        GROUP BY o.o_custkey""")
      assert(allPlanNodes(degraded.queryExecution.executedPlan).count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]) >= 2,
        "a stray (unbucketed) append must degrade the scan to shuffled joins")
      assert(degraded.count() ===
        spark.sql("SELECT count(DISTINCT o_custkey) FROM bkt_orders_src " +
          "WHERE o_custkey IN (SELECT c_custkey FROM bkt_cust_src)")
          .head().getLong(0))
      // the REMEDY: fold the masks, re-bucket, and the zero-exchange
      // join comes back — with the UPDATE's values served
      val eRb = intercept[Exception](graft.sources.v2.GraftLayout
        .rebucket(spark, s"$wh/db/t_orders.parquet"))
      assert(eRb.getMessage.contains("rebucket"), eRb.getMessage)
      graft.sources.GraftMor.morCompact(spark, s"$wh/db/t_orders.parquet")
      graft.sources.v2.GraftLayout.rebucket(spark, s"$wh/db/t_orders.parquet")
      spark.sql("REFRESH TABLE graftbkt.db.t_orders")
      val restored = spark.sql("""
        SELECT o.o_custkey, count(*) AS n, sum(o.o_totalprice) AS total
        FROM graftbkt.db.t_orders o JOIN graftbkt.db.t_cust c
          ON o.o_custkey = c.c_custkey
        GROUP BY o.o_custkey""")
      assert(allPlanNodes(restored.queryExecution.executedPlan).count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
        < baseShuffles,
        "rebucket must restore the co-located plan")
      assert(restored.where(col("total") === 0.0).count() > 0 ||
        spark.sql("SELECT count(*) FROM graftbkt.db.t_orders " +
          "WHERE o_totalprice = 0.0").head().getLong(0) > 0,
        "the UPDATE's values must survive the rebucket")
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("A63 namespaces nest: CREATE/SHOW/USE multi-level namespaces, tables resolve at every depth, a missing parent refuses") {
    val wh = graft.sources.GraftSink.scratchDir + "/nested_wh"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(wh))
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftns")
    spark.sql("CREATE NAMESPACE graftns.a")
    spark.sql("CREATE NAMESPACE graftns.a.b")
    // a missing parent refuses loudly — no silently materialized chain
    val eChain = intercept[Exception](
      spark.sql("CREATE NAMESPACE graftns.nope.deep"))
    assert(chainMsg(eChain).toLowerCase.contains("nope"), chainMsg(eChain))
    assert(spark.sql("SHOW NAMESPACES IN graftns.a")
      .collect().map(_.getString(0)).toSeq === Seq("a.b"))
    // tables live at every depth, told apart from child namespaces
    spark.sql("CREATE TABLE graftns.a.t1 AS SELECT id AS k FROM range(5)")
    spark.sql("CREATE TABLE graftns.a.b.t2 AS SELECT id * 10 AS k FROM range(3)")
    spark.sql("REFRESH TABLE graftns.a.t1")
    spark.sql("REFRESH TABLE graftns.a.b.t2")
    assert(spark.sql("SELECT sum(k) AS s FROM graftns.a.t1").head().getLong(0) === 10L)
    assert(spark.sql("SELECT sum(k) AS s FROM graftns.a.b.t2").head().getLong(0) === 30L)
    assert(spark.sql("SHOW TABLES IN graftns.a")
      .collect().map(_.getString(1)).toSeq === Seq("t1"))
    assert(spark.sql("SHOW TABLES IN graftns.a.b")
      .collect().map(_.getString(1)).toSeq === Seq("t2"))
    // the namespace listing never confuses tables (.parquet) or
    // bookkeeping (_snapshots) with children
    assert(spark.sql("SHOW NAMESPACES IN graftns.a.b").count() === 0L)
    // DML works at depth: the whole SQL surface is namespace-agnostic
    spark.sql("DELETE FROM graftns.a.b.t2 WHERE k = 10")
    spark.sql("REFRESH TABLE graftns.a.b.t2")
    assert(spark.sql("SELECT sum(k) AS s FROM graftns.a.b.t2").head().getLong(0) === 20L)
  }

  test("A66 layout lifecycle + DROP NAMESPACE: SET TBLPROPERTIES declares a layout on a live table (advisor flags, rebucket materializes), UNSET withdraws it; empty namespaces drop, CASCADE refuses") {
    import graft.sources.v2.GraftLayout
    val wh = graft.sources.GraftSink.scratchDir + "/a66_wh"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(wh))
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "grafta66")
    spark.sql("CREATE NAMESPACE grafta66.db")
    spark.sql("CREATE TABLE grafta66.db.t AS " +
      "SELECT id AS k, id * 2 AS v FROM range(1000)")
    spark.sql("REFRESH TABLE grafta66.db.t")
    val tbl = s"$wh/db/t.parquet"
    // declare a layout AFTER the fact: one marker write, data unshaped
    spark.sql("ALTER TABLE grafta66.db.t SET TBLPROPERTIES " +
      "('layout'='bucket(k,4)')")
    assert(GraftLayout.readMarker(fs, tbl).get ===
      GraftLayout.Layout("bucket", Seq("k"), 4))
    assert(spark.sql("SHOW TBLPROPERTIES grafta66.db.t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      .get("layout").contains("bucket(k,4)"))
    // the existing (unshaped) files flag the advisor; rebucket clears
    assert(graft.sources.GraftAdvisor.advise(spark, s"$wh/db")
      .exists(a => a.table == "t" && a.rule == "rebucket"))
    GraftLayout.rebucket(spark, tbl)
    spark.sql("REFRESH TABLE grafta66.db.t")
    assert(!graft.sources.GraftAdvisor.advise(spark, s"$wh/db")
      .exists(a => a.table == "t" && a.rule == "rebucket"))
    // new inserts honor the declared contract
    spark.sql("INSERT INTO grafta66.db.t VALUES (5000, 1)")
    spark.sql("REFRESH TABLE grafta66.db.t")
    assert(!graft.sources.GraftAdvisor.advise(spark, s"$wh/db")
      .exists(a => a.table == "t" && a.rule == "rebucket"),
      "a shaped insert must not strand stray files")
    assert(spark.sql("SELECT count(*) FROM grafta66.db.t")
      .head().getLong(0) === 1001L)
    // an ALTER rewrite of a NON-layout column re-shapes to the
    // declared layout — it must not silently flatten the bucket dirs
    spark.sql("ALTER TABLE grafta66.db.t RENAME COLUMN v TO val")
    spark.sql("REFRESH TABLE grafta66.db.t")
    assert(!graft.sources.GraftAdvisor.advise(spark, s"$wh/db")
      .exists(a => a.table == "t" && a.rule == "rebucket"),
      "an ALTER rewrite must preserve the declared bucket layout")
    assert(spark.sql("SELECT sum(val) FROM grafta66.db.t")
      .head().getLong(0) === (0L until 1000L).map(_ * 2).sum + 1L)
    // UNSET withdraws the declaration
    spark.sql("ALTER TABLE grafta66.db.t UNSET TBLPROPERTIES ('layout')")
    assert(GraftLayout.readMarker(fs, tbl).isEmpty)
    // a bad late declaration refuses without touching the marker
    intercept[Exception](spark.sql(
      "ALTER TABLE grafta66.db.t SET TBLPROPERTIES ('layout'='zorder(k,nope)')"))
    assert(GraftLayout.readMarker(fs, tbl).isEmpty)
    // DROP NAMESPACE: cascade refuses, non-empty refuses, empty drops
    spark.sql("CREATE NAMESPACE grafta66.scratch")
    val eCascade = intercept[Exception](spark.sql(
      "DROP NAMESPACE grafta66.db CASCADE"))
    assert(chainMsg(eCascade).contains("CASCADE"), chainMsg(eCascade))
    val eFull = intercept[Exception](spark.sql("DROP NAMESPACE grafta66.db"))
    assert(chainMsg(eFull).contains("not empty") ||
      chainMsg(eFull).toLowerCase.contains("non-empty"), chainMsg(eFull))
    spark.sql("DROP NAMESPACE grafta66.scratch")
    assert(!spark.sql("SHOW NAMESPACES IN grafta66")
      .collect().map(_.getString(0)).contains("scratch"))
  }

  test("A64 RENAME TABLE: one metadata move carries data, history and masks' absence — epochs serve under the new name; sidecars, tags and leases refuse by name") {
    val wh = graft.sources.GraftSink.scratchDir + "/rename_wh"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$wh/db"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$wh/db2"))
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftrn")
    spark.sql("CREATE TABLE graftrn.db.t_old AS SELECT id AS k, id * 2 AS v FROM range(100)")
    spark.sql("REFRESH TABLE graftrn.db.t_old")
    // publish an epoch, then mutate, so history and tip differ
    val cat = new graft.sources.GraftCatalog(spark, s"$wh/db")
    val v1 = cat.publishSnapshot("t_old")
    spark.sql("DELETE FROM graftrn.db.t_old WHERE k < 50")
    spark.sql("REFRESH TABLE graftrn.db.t_old")
    // live dv sidecar: rename refuses BY NAME (path-anchored coordinates)
    val eMor = intercept[Exception](spark.sql(
      "ALTER TABLE graftrn.db.t_old RENAME TO db.t_new"))
    assert(chainMsg(eMor).contains("RENAME TABLE"), chainMsg(eMor))
    graft.sources.GraftMor.morCompact(spark, s"$wh/db/t_old.parquet")
    spark.sql("REFRESH TABLE graftrn.db.t_old")
    // republish post-compaction state (the pre-compaction epoch's
    // recorded masks are gone — that epoch will refuse, honestly)
    val v2 = new graft.sources.GraftCatalog(spark, s"$wh/db")
      .publishSnapshot("t_old")
    // a covering tag refuses
    new graft.sources.GraftCatalog(spark, s"$wh/db")
      .publishTag("rel1", Seq("t_old"))
    val eTag = intercept[Exception](spark.sql(
      "ALTER TABLE graftrn.db.t_old RENAME TO db.t_new"))
    assert(chainMsg(eTag).contains("tag"), chainMsg(eTag))
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$wh/db/${graft.sources.GraftCatalog.SnapshotDir}/_tags/rel1"), false)
    // a held lease refuses
    val lease = graft.sources.GraftLease.acquire(
      spark, s"$wh/db/t_old.parquet", 60000L)
    val eLease = intercept[Exception](spark.sql(
      "ALTER TABLE graftrn.db.t_old RENAME TO db.t_new"))
    assert(chainMsg(eLease).toLowerCase.contains("lease"), chainMsg(eLease))
    graft.sources.GraftLease.release(spark, s"$wh/db/t_old.parquet", lease)
    // the rename: cross-namespace, one move
    spark.sql("ALTER TABLE graftrn.db.t_old RENAME TO db2.t_new")
    assert(spark.sql("SELECT count(*) AS n FROM graftrn.db2.t_new")
      .head().getLong(0) === 50L)
    assert(intercept[Exception](
      spark.sql("SELECT * FROM graftrn.db.t_old").collect())
      .getMessage.toLowerCase.contains("table"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$wh/db/t_old.parquet")))
    // history follows: the post-compaction epoch serves under the new
    // name (manifest paths rewritten), the masked-state epoch refuses
    // honestly exactly as it did before the rename
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graftrn.db2.t_new VERSION AS OF $v2")
      .head().getLong(0) === 50L)
    val eV1 = intercept[Exception](spark.sql(
      s"SELECT count(*) AS n FROM graftrn.db2.t_new VERSION AS OF $v1").collect())
    assert(chainMsg(eV1).length > 0)
    // rename onto an existing table refuses
    spark.sql("CREATE TABLE graftrn.db2.t_block AS SELECT id FROM range(1)")
    val eDup = intercept[Exception](spark.sql(
      "ALTER TABLE graftrn.db2.t_new RENAME TO db2.t_block"))
    assert(chainMsg(eDup).toLowerCase.contains("already exists"), chainMsg(eDup))
  }

  test("v2 columnar reads: scans serve ColumnarBatches through whole-stage codegen; partition re-attach, NTZ, projections, dv AND eq masks stay value-exact") {
    // the A9 fix: a clean (unmasked) scan decodes via Spark's
    // vectorized parquet engine — the plan shows the columnar→row
    // boundary instead of a row-producing BatchScan
    val df = v2("orders").where(col("o_totalprice") > 100000.0)
      .select("o_orderkey", "o_totalprice")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), "clean scan must be columnar:\n" +
      plan.take(800))
    // values: filtered projection equals the native reader exactly
    assert(df.orderBy("o_orderkey").collect().map(_.toString).toSeq ===
      spark.read.parquet(s"$sfDir/orders.parquet")
        .where(col("o_totalprice") > 100000.0)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey").collect().map(_.toString).toSeq)
    // NTZ timestamps decode identically through the vectorized path
    val ev = v2("events").select("event_id", "ts", "user_id")
    assert(ev.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(ev.orderBy("event_id").limit(500).collect().map(_.toString).toSeq ===
      spark.read.parquet(s"$sfDir/events.parquet")
        .select("event_id", "ts", "user_id")
        .orderBy("event_id").limit(500).collect().map(_.toString).toSeq)
    // hive-partitioned: partition values re-attach via the batch's
    // appended constant columns, in the PROJECTION's declared order
    val pdir = graft.sources.GraftSink.scratchDir + "/columnar_part"
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"),
        (col("o_orderkey") % 3).as("pk"))
      .write.mode("overwrite").partitionBy("pk").parquet(pdir)
    val part = spark.read.format("graft").load(pdir)
      .select("pk", "o_orderkey", "o_totalprice") // partition col FIRST
    assert(part.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "partitioned clean scan must be columnar")
    assert(part.orderBy("o_orderkey").collect().map(_.toString).toSeq ===
      spark.read.parquet(pdir).select("pk", "o_orderkey", "o_totalprice")
        .orderBy("o_orderkey").collect().map(_.toString).toSeq)
    // A42 POSITION masks ride the columnar path (per-batch row-id
    // mapping vectors — never a row-path downgrade, never a copy):
    // the v2 serve stays columnar AND masked
    val mdir = graft.sources.GraftSink.scratchDir + "/columnar_mor"
    val fs2 = new org.apache.hadoop.fs.Path(mdir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs2.delete(new org.apache.hadoop.fs.Path(mdir), true)
    spark.range(100).selectExpr("id AS k", "id * 2 AS v")
      .repartition(4).write.parquet(mdir)
    graft.sources.GraftMor.morDelete(spark, mdir, col("k") % 3 === 0)
    val v2m = spark.read.format("graft").load(mdir)
    assert(v2m.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "dv-masked scan must STAY columnar")
    assert(v2m.count() === 66L)
    assert(v2m.where(col("k") % 3 === 0).count() === 0L,
      "masked rows must not serve")
    assert(v2m.agg(sum("v")).head().getLong(0) ===
      (0L until 100L).filter(_ % 3 != 0).map(_ * 2).sum)
    // reported statistics subtract the masked rows PER SURVIVING row
    // group (a table-wide subtraction would under-report filtered
    // scans of masked tables)
    assert(v2ScanStats(v2m).rowCount.contains(BigInt(66)),
      s"masked stats: ${v2ScanStats(v2m).rowCount}")
    // A44/A45 EQUALITY masks ride the columnar path too: a vectorized
    // per-batch canonical-key probe against the driver-loaded
    // tombstone map — never a row-path downgrade for canonical key
    // types
    val edir = graft.sources.GraftSink.scratchDir + "/columnar_mor_eq"
    fs2.delete(new org.apache.hadoop.fs.Path(edir), true)
    spark.range(50).selectExpr("id AS k", "id * 2 AS v")
      .write.parquet(edir)
    graft.sources.GraftMor.morErase(spark, edir,
      spark.range(1, 3).selectExpr("id AS k"), Seq("k"))
    val v2e = spark.read.format("graft").load(edir)
    assert(v2e.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "eq-masked scan must STAY columnar")
    assert(v2e.count() === 48L)
    assert(v2e.agg(sum("k")).head().getLong(0) === (0L until 50L).sum - 3L)
    // the PRUNED-key projection re-reads the key column (the Iceberg
    // equality-delete read shape): a projection of only `v` must
    // still drop the erased keys' rows
    val vOnly = spark.read.format("graft").load(edir).select("v")
    assert(vOnly.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(vOnly.agg(sum("v")).head().getLong(0) ===
      (0L until 50L).filterNot(k => k == 1L || k == 2L).map(_ * 2).sum)
    // columnar ≡ row path ≡ morRead, value-exact (the A/B lever)
    val viaRow = try {
      spark.conf.set("spark.graft.columnar.enabled", "false")
      val d = spark.read.format("graft").load(edir)
      assert(!d.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      d.orderBy("k").collect().map(_.toString).toSeq
    } finally spark.conf.unset("spark.graft.columnar.enabled")
    assert(v2e.orderBy("k").collect().map(_.toString).toSeq === viaRow)
    assert(v2e.orderBy("k").collect().map(_.toString).toSeq ===
      graft.sources.GraftMor.morRead(spark, edir)
        .orderBy("k").collect().map(_.toString).toSeq)
    // dv + eq masks COMPOSE on one columnar scan; upsert sequences
    // (seqm) outrank per the Iceberg-v2 rule — newly upserted rows
    // carrying an erased key still serve (their file outranks the
    // tombstone), and STRING keys probe canonically
    val cdir = graft.sources.GraftSink.scratchDir + "/columnar_mor_eq_dv"
    fs2.delete(new org.apache.hadoop.fs.Path(cdir), true)
    spark.range(40).selectExpr("id AS k", "concat('u', id) AS who", "id * 3 AS v")
      .write.parquet(cdir)
    graft.sources.GraftMor.morDelete(spark, cdir, col("k") === 5L)
    graft.sources.GraftMor.morErase(spark, cdir,
      spark.createDataFrame(Seq(Tuple1("u7"), Tuple1("u8"))).toDF("who"),
      Seq("who"))
    val both = spark.read.format("graft").load(cdir)
    assert(both.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "dv+eq masked scan must STAY columnar")
    assert(both.count() === 37L) // 40 - dv(5) - eq(u7, u8)
    assert(both.where(col("who").isin("u7", "u8")).count() === 0L)
    assert(both.orderBy("k").collect().map(_.toString).toSeq ===
      graft.sources.GraftMor.morRead(spark, cdir)
        .orderBy("k").collect().map(_.toString).toSeq)
    // seqm outranking: an eq-UPSERT appends a new version whose file
    // sequence outranks its own tombstone — the columnar probe serves
    // the NEW row and masks the old one. An upsert of an ERASED key
    // stays masked (erases stamp Long.MaxValue: that key never serves
    // again), which is the GDPR forever-rule, not a probe miss.
    graft.sources.GraftMor.morUpsertEq(spark, cdir,
      spark.createDataFrame(Seq((9L, "u9", 9999L), (7L, "u7", 777L)))
        .toDF("k", "who", "v"),
      Seq("who"))
    val after = spark.read.format("graft").load(cdir)
    assert(after.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "seqm-sequenced scan must STAY columnar")
    assert(after.count() === 37L) // u9 replaced in place, u7 still erased
    val u9 = after.where(col("who") === "u9").collect()
    assert(u9.length === 1 && u9.head.getLong(2) === 9999L,
      s"upserted version must outrank its own tombstone: ${u9.mkString(",")}")
    assert(after.where(col("who") === "u7").count() === 0L,
      "an erased key stays masked through later upserts (MaxValue rule)")
    assert(after.orderBy("k", "v").collect().map(_.toString).toSeq ===
      graft.sources.GraftMor.morRead(spark, cdir)
        .orderBy("k", "v").collect().map(_.toString).toSeq)
  }

  test("widened layouts: zorder on (BIGINT, TIMESTAMP) prunes both dims; 3-dim interleave; two-column bucket SPJ joins exchange-free") {
    import graft.sources.v2.GraftScan
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    import org.apache.spark.sql.types._
    val wh = graft.sources.GraftSink.scratchDir + "/layout_wide_wh"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$wh/db"))
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftwide")
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    hc.set("parquet.block.size", "65536")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // ── (BIGINT, TIMESTAMP_NTZ) zorder over the events table ──
      spark.sql("CREATE TABLE graftwide.db.ev_z (event_id BIGINT, " +
        "ts TIMESTAMP_NTZ, user_id BIGINT, value DOUBLE) " +
        "TBLPROPERTIES ('layout'='zorder(user_id,ts)')")
      spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        .select("event_id", "ts", "user_id", "value")
        .createOrReplaceTempView("wide_ev_src")
      spark.sql("INSERT INTO graftwide.db.ev_z SELECT * FROM wide_ev_src")
      spark.sql("REFRESH TABLE graftwide.db.ev_z")
      assert(spark.sql(
        "SELECT count(*) AS n, sum(event_id) AS s FROM graftwide.db.ev_z")
        .head().toString ===
        spark.sql("SELECT count(*) AS n, sum(event_id) AS s FROM wide_ev_src")
          .head().toString)
      val evPath = s"$wh/db/ev_z.parquet"
      val evSchema = StructType(Seq(
        StructField("user_id", LongType), StructField("ts", TimestampNTZType)))
      def evParts(filters: Array[org.apache.spark.sql.sources.Filter]): Int =
        GraftScan(evPath, evSchema, filters).planInputPartitions().length
      val evTotal = evParts(Array.empty)
      assume(evTotal > 3, s"need multiple row groups, got $evTotal")
      val byUser = evParts(Array(
        GreaterThanOrEqual("user_id", 100L), LessThanOrEqual("user_id", 150L)))
      assert(byUser < evTotal, s"user band must prune: $byUser of $evTotal")
      // the TIME dimension prunes too: a one-day band expressed in the
      // footer's physical INT64-micros coordinate space
      val tsBounds = spark.sql(
        "SELECT min(ts), max(ts) FROM wide_ev_src").head()
      val lo = tsBounds.getAs[java.time.LocalDateTime](0)
      def micros(t: java.time.LocalDateTime): Long =
        t.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L +
          t.getNano / 1000L
      val dayLo = micros(lo)
      val byTs = evParts(Array(
        GreaterThanOrEqual("ts", dayLo), LessThanOrEqual("ts", dayLo + 86400000000L)))
      assert(byTs < evTotal, s"ts band must prune: $byTs of $evTotal")
      // ── 3-dim interleave accepts and stays lossless ──
      spark.sql("CREATE TABLE graftwide.db.li_z3 (l_orderkey BIGINT, " +
        "l_partkey BIGINT, l_suppkey BIGINT, l_quantity DOUBLE) " +
        "TBLPROPERTIES ('layout'='zorder(l_orderkey,l_partkey,l_suppkey)')")
      spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
        .createOrReplaceTempView("wide_li_src")
      spark.sql("INSERT INTO graftwide.db.li_z3 SELECT * FROM wide_li_src")
      spark.sql("REFRESH TABLE graftwide.db.li_z3")
      assert(spark.sql("SELECT count(*) AS n, sum(l_partkey) AS s " +
        "FROM graftwide.db.li_z3").head().toString ===
        spark.sql("SELECT count(*) AS n, sum(l_partkey) AS s " +
          "FROM wide_li_src").head().toString)
      val z3Path = s"$wh/db/li_z3.parquet"
      val z3Schema = StructType(Seq(StructField("l_partkey", LongType)))
      def z3Parts(filters: Array[org.apache.spark.sql.sources.Filter]): Int =
        GraftScan(z3Path, z3Schema, filters).planInputPartitions().length
      val z3Total = z3Parts(Array.empty)
      assume(z3Total > 3, s"need multiple row groups, got $z3Total")
      assert(z3Parts(Array(GreaterThanOrEqual("l_partkey", 0L),
        LessThanOrEqual("l_partkey", 50L))) < z3Total,
        "the MIDDLE interleave dim must prune")
      // ── (STRING, BIGINT) zorder: the string dim maps through its
      // 7-byte UTF-8 prefix and prunes via the clustered binary
      // footer stats ──
      spark.sql("CREATE TABLE graftwide.db.ord_zs (o_orderpriority STRING, " +
        "o_orderkey BIGINT, o_totalprice DOUBLE) " +
        "TBLPROPERTIES ('layout'='zorder(o_orderpriority,o_orderkey)')")
      spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
        .createOrReplaceTempView("wide_ord_src")
      spark.sql("INSERT INTO graftwide.db.ord_zs SELECT * FROM wide_ord_src")
      spark.sql("REFRESH TABLE graftwide.db.ord_zs")
      assert(spark.sql("SELECT count(*) AS n, sum(o_orderkey) AS s " +
        "FROM graftwide.db.ord_zs").head().toString ===
        spark.sql("SELECT count(*) AS n, sum(o_orderkey) AS s " +
          "FROM wide_ord_src").head().toString)
      val zsPath = s"$wh/db/ord_zs.parquet"
      val zsSchema = StructType(Seq(StructField("o_orderpriority", StringType)))
      def zsParts(filters: Array[org.apache.spark.sql.sources.Filter]): Int =
        GraftScan(zsPath, zsSchema, filters).planInputPartitions().length
      val zsTotal = zsParts(Array.empty)
      assume(zsTotal > 3, s"need multiple row groups, got $zsTotal")
      assert(zsParts(Array(
        org.apache.spark.sql.sources.EqualTo("o_orderpriority", "3-MEDIUM")))
        < zsTotal,
        "the STRING dim must prune on its clustered binary stats")
      // zorder arity/type refusals stay loud
      val eAr = intercept[Exception](spark.sql(
        "CREATE TABLE graftwide.db.bad5 (a BIGINT, b BIGINT, c BIGINT, " +
          "d BIGINT, e BIGINT) TBLPROPERTIES ('layout'='zorder(a,b,c,d,e)')"))
      assert(chainMsg(eAr).contains("2 to 4"), chainMsg(eAr))
      // ── two-column bucket SPJ ──
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        spark.sql("CREATE TABLE graftwide.db.li_a (l_orderkey BIGINT, " +
          "l_linenumber BIGINT, l_quantity DOUBLE) " +
          "TBLPROPERTIES ('layout'='bucket(l_orderkey,l_linenumber,8)')")
        spark.sql("CREATE TABLE graftwide.db.li_b (l_orderkey BIGINT, " +
          "l_linenumber BIGINT, l_extendedprice DOUBLE) " +
          "TBLPROPERTIES ('layout'='bucket(l_orderkey,l_linenumber,8)')")
        spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
          .createOrReplaceTempView("wide_li2_src")
        spark.sql("INSERT INTO graftwide.db.li_a SELECT l_orderkey, " +
          "CAST(l_linenumber AS BIGINT), l_quantity FROM wide_li2_src")
        spark.sql("INSERT INTO graftwide.db.li_b SELECT l_orderkey, " +
          "CAST(l_linenumber AS BIGINT), l_extendedprice FROM wide_li2_src")
        spark.sql("REFRESH TABLE graftwide.db.li_a")
        spark.sql("REFRESH TABLE graftwide.db.li_b")
        assert(fs.exists(new org.apache.hadoop.fs.Path(
          s"$wh/db/li_a.parquet/bucket=0")), "bucket dirs must exist")
        val joined = spark.sql("""
          SELECT q.l_orderkey, q.l_linenumber, q.l_quantity, p.l_extendedprice
          FROM graftwide.db.li_a q JOIN graftwide.db.li_b p
            ON q.l_orderkey = p.l_orderkey AND q.l_linenumber = p.l_linenumber""")
        val shuffles = allPlanNodes(joined.queryExecution.executedPlan).count(
          _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
        assert(shuffles === 0,
          "two-column bucket SPJ must plan zero join exchanges:\n" +
            joined.queryExecution.executedPlan.toString.take(1500))
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic
        // lineitem — compare against the plain shuffled join, which
        // carries the same per-key cross products
        val expected = spark.sql("""
          SELECT q.l_orderkey, CAST(q.l_linenumber AS BIGINT) AS l_linenumber,
                 q.l_quantity, p.l_extendedprice
          FROM wide_li2_src q JOIN wide_li2_src p
            ON q.l_orderkey = p.l_orderkey AND q.l_linenumber = p.l_linenumber""")
        assert(joined.collect().map(_.toString).sorted.toSeq ===
          expected.collect().map(_.toString).sorted.toSeq)
      } finally {
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    }
  }

  private def v2ScanStats(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.stats
    }.get

  test("v2 reported statistics: dim auto-broadcasts with NO hint; pruning shrinks sizes; column stats feed CBO") {
    val wh = graft.sources.GraftSink.scratchDir + "/stats_bc"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(wh))
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftstat")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftstat.db")
    spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey", "c_nationkey", "c_acctbal")
      .createOrReplaceTempView("stats_cust_src")
    spark.read.parquet(s"$sfDir/nation.parquet")
      .select("n_nationkey", "n_name")
      .createOrReplaceTempView("stats_nat_src")
    spark.sql("CREATE TABLE graftstat.db.customer_s (c_custkey BIGINT, " +
      "c_nationkey BIGINT, c_acctbal DOUBLE)")
    spark.sql("CREATE TABLE graftstat.db.nation_s (n_nationkey BIGINT, " +
      "n_name STRING)")
    spark.sql("INSERT INTO graftstat.db.customer_s SELECT * FROM stats_cust_src")
    spark.sql("INSERT INTO graftstat.db.nation_s SELECT * FROM stats_nat_src")
    spark.sql("REFRESH TABLE graftstat.db.customer_s")
    spark.sql("REFRESH TABLE graftstat.db.nation_s")
    // stats are REPORTED: finite sizeInBytes (not defaultSizeInBytes),
    // row count matching the table
    val nat = spark.table("graftstat.db.nation_s")
    val natStats = v2ScanStats(nat)
    assert(natStats.sizeInBytes > 0 &&
      natStats.sizeInBytes < BigInt(10L * 1024 * 1024),
      s"nation must report a real size, got ${natStats.sizeInBytes}")
    assert(natStats.rowCount.contains(BigInt(nat.count())),
      s"row count must come from footers, got ${natStats.rowCount}")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      // the planner lever: a dim × fact SQL join with NO hint plans a
      // BroadcastHashJoin purely from the reported sizes — without
      // stats a DSv2 relation sits at defaultSizeInBytes and the 1 MB
      // dim never broadcasts (a fact-wide sort-merge shuffle at scale)
      val joined = spark.sql("""
        SELECT n.n_name, count(*) AS n
        FROM graftstat.db.customer_s c
        JOIN graftstat.db.nation_s n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name""")
      assert(allPlanNodes(joined.queryExecution.executedPlan).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
        "dim join must auto-broadcast from reported stats:\n" +
          joined.queryExecution.executedPlan.toString.take(1500))
      val expected = spark.sql("""
        SELECT n.n_name, count(*) AS n
        FROM stats_cust_src c JOIN stats_nat_src n
          ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name""")
      assert(joined.orderBy("n_name").collect().map(_.toString).toSeq ===
        expected.orderBy("n_name").collect().map(_.toString).toSeq)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    // row-group pruning shrinks the reported size: a predicate the
    // footer min/max provably excludes drops every block
    val fact = spark.table("graftstat.db.customer_s")
    val full = v2ScanStats(fact).sizeInBytes
    val pruned = v2ScanStats(
      fact.where(col("c_acctbal") > 1.0e18)).sizeInBytes
    assert(pruned < full,
      s"stats must shrink under row-group pruning: $pruned vs $full")
    // partition pruning shrinks the reported size too (hive-layout
    // dirs excluded before any footer is opened)
    val pdir = s"$wh/stats_part_raw"
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"),
        (col("o_orderkey") % 4).as("pk"))
      .write.mode("overwrite").partitionBy("pk").parquet(pdir)
    val part = spark.read.format("graft").load(pdir)
    val allParts = v2ScanStats(part).sizeInBytes
    val onePart = v2ScanStats(part.where(col("pk") === 1)).sizeInBytes
    assert(onePart < allParts,
      s"stats must shrink under partition pruning: $onePart vs $allParts")
    // A67 column statistics: footer min/max/nullCount/ndv-bound flow
    // to catalyst attribute stats — integral/date/decimal columns only
    // (the A29 exactness discipline: string/fp/timestamp footer stats
    // are not trustworthy across writers), GATED on the CBO switch
    // (the only consumer; the default-off path must not pay the
    // per-chunk accumulation)
    val colTruth = spark.sql(
      "SELECT min(c_custkey), max(c_custkey) FROM stats_cust_src").head()
    assert(v2ScanStats(fact).attributeStats.isEmpty,
      "column stats must not be computed with CBO off")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val attrStats = v2ScanStats(
        spark.table("graftstat.db.customer_s")).attributeStats
      val ckStat = attrStats.find(_._1.name == "c_custkey").map(_._2)
      assert(ckStat.isDefined,
        s"c_custkey must carry column stats, got keys " +
          attrStats.keysIterator.map(_.name).mkString(","))
      assert(ckStat.get.min.contains(colTruth.getLong(0)) &&
        ckStat.get.max.contains(colTruth.getLong(1)),
        s"footer bounds must match the data: ${ckStat.get}")
      assert(ckStat.get.nullCount.contains(BigInt(0)), s"${ckStat.get}")
      assert(!attrStats.exists(_._1.name == "c_acctbal"),
        "fp columns must claim nothing (unreliable footer stats)")
      // CBO consumes them: a half-range filter's estimated row count
      // lands strictly between zero and the full count
      val mid = (colTruth.getLong(0) + colTruth.getLong(1)) / 2
      val est = spark.table("graftstat.db.customer_s")
        .where(col("c_custkey") <= mid)
        .queryExecution.optimizedPlan.stats.rowCount
      val total = BigInt(spark.table("graftstat.db.customer_s").count())
      assert(est.isDefined && est.get > 0 && est.get < total,
        s"CBO must estimate selectivity from footer bounds: $est of $total")
      // a dv-masked table keeps min/max but SKIPS count-type claims
      // (chunk counts cannot subtract masked rows — a nullCount above
      // rowCount would drive selectivities negative)
      val mdir2 = graft.sources.GraftSink.scratchDir + "/stats_cols_mor"
      fs.delete(new org.apache.hadoop.fs.Path(mdir2), true)
      spark.range(200).selectExpr("id AS k", "id * 2 AS v")
        .coalesce(1).write.parquet(mdir2)
      graft.sources.GraftMor.morDelete(spark, mdir2, col("k") < 100L)
      val mAttr = v2ScanStats(
        spark.read.format("graft").load(mdir2)).attributeStats
      val mk = mAttr.find(_._1.name == "k").map(_._2)
      assert(mk.isDefined && mk.get.min.contains(0L) &&
        mk.get.max.contains(199L), s"masked table keeps bounds: $mk")
      assert(mk.get.nullCount.isEmpty && mk.get.distinctCount.isEmpty,
        s"masked table must skip count-type claims: $mk")
    } finally spark.conf.unset("spark.sql.cbo.enabled")
  }

  test("string row-group pruning compares in UTF-8 byte order: supplementary characters never wrongly prune") {
    import graft.sources.v2.GraftScan
    import org.apache.spark.sql.sources.EqualTo
    import org.apache.spark.sql.types._
    // U+E000 (private use, 3-byte UTF-8 0xEE...) vs U+1F600 (emoji,
    // 4-byte 0xF0...): Java String.compareTo (UTF-16 code units) says
    // "" > emoji because 0xE000 > 0xD83D (the surrogate), but
    // parquet binary stats order by UNSIGNED UTF-8 bytes where
    // 0xEE < 0xF0 — a code-unit comparator would prune the group that
    // CONTAINS the emoji row
    val dir = graft.sources.GraftSink.scratchDir + "/utf8_prune"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val privateUse = "\uE000"
    val emoji = new String(Character.toChars(0x1F600))
    spark.createDataFrame(Seq(Tuple1(privateUse), Tuple1(emoji))).toDF("s")
      .coalesce(1).write.parquet(dir)
    val schema = StructType(Seq(StructField("s", StringType)))
    def parts(f: Array[org.apache.spark.sql.sources.Filter]): Int =
      GraftScan(dir, schema, f).planInputPartitions().length
    assert(parts(Array.empty) >= 1)
    assert(parts(Array(EqualTo("s", emoji))) === parts(Array.empty),
      "the group containing the emoji row must NOT be pruned")
    // and the read itself serves the row
    assert(spark.read.format("graft").load(dir)
      .where(col("s") === emoji).count() === 1L)
    // pruning still WORKS in byte order: U+10FFFF (UTF-8 0xF4...) is
    // above both rows' bytes, so its equality provably matches nothing
    val aboveAll = new String(Character.toChars(0x10FFFF))
    assert(parts(Array(EqualTo("s", aboveAll))) === 0,
      "byte-order pruning must still fire for provably-absent values")
    // the same rule guards PARTITION pruning (one comparator, cmpStat):
    // an emoji partition value must survive a > U+E000 band — UTF-16
    // code units would wrongly exclude the file holding matching rows
    import org.apache.spark.sql.sources.GreaterThan
    assert(!graft.sources.v2.GraftV2.excludedByPartition(
      Map("tag" -> emoji), Array(GreaterThan("tag", privateUse))),
      "emoji partition must survive a > U+E000 filter")
    assert(graft.sources.v2.GraftV2.excludedByPartition(
      Map("tag" -> privateUse), Array(GreaterThan("tag", emoji))),
      "U+E000 partition is provably excluded by a > emoji filter")
  }

  test("CHAR/VARCHAR write semantics: over-length refuses with the table untouched, CHAR right-pads, VARCHAR trims trailing-space overflow") {
    val wh = graft.sources.GraftSink.scratchDir + "/charvc_wh"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$wh/db"))
    graft.sources.v2.GraftTableCatalog.register(spark, wh, "graftcv")
    spark.sql("CREATE TABLE graftcv.db.t_cv " +
      "(k BIGINT, c CHAR(4), v VARCHAR(6))")
    spark.sql("INSERT INTO graftcv.db.t_cv VALUES " +
      "(1, 'ab', 'abc'), (2, 'wxyz', 'sixsix'), (3, NULL, NULL), " +
      "(4, 'ab  ', 'abcd   ')") // trailing-space overflow trims, not errors
    spark.sql("REFRESH TABLE graftcv.db.t_cv")
    val served = spark.sql(
      "SELECT k, c, v FROM graftcv.db.t_cv ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(served === Seq(
      (1L, "ab  ", "abc"),      // CHAR right-pads to 4
      (2L, "wxyz", "sixsix"),   // exactly-n passes unchanged
      (3L, null, null),         // nulls pass through
      (4L, "ab  ", "abcd  ")),  // overflow past n is all spaces: trim to n
      served.toString)
    // a genuinely over-length value refuses BY NAME, table untouched
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " || " + chain(t.getCause)
    // Spark's own resolver enforces when the served schema carries the
    // raw type (the marker DDL round-trips CHAR/VARCHAR); the engine's
    // marker-based enforcement is the backstop for writes that bypass
    // the resolver — either refusal is the declared semantics
    def lengthError(m: String): Boolean =
      m.contains("exceeds the declared length") ||
        m.contains("EXCEED_LIMIT_LENGTH")
    val e1 = intercept[Exception](spark.sql(
      "INSERT INTO graftcv.db.t_cv VALUES (9, 'toolong', 'ok')"))
    assert(lengthError(chain(e1)), chain(e1))
    val e2 = intercept[Exception](spark.sql(
      "INSERT INTO graftcv.db.t_cv VALUES (9, 'ok', 'seven77')"))
    assert(lengthError(chain(e2)), chain(e2))
    spark.sql("REFRESH TABLE graftcv.db.t_cv")
    assert(spark.sql("SELECT count(*) FROM graftcv.db.t_cv").head().getLong(0)
      === 4L, "failed inserts must leave the table untouched")
  }

  test("torn manifests never serve: incomplete bodies refuse/skip; re-publish reuses prior recorded stats") {
    import graft.sources.SnapshotManifest
    import graft.sources.v2.GraftPlanStats
    val wh = graft.sources.GraftSink.scratchDir + "/torn_wh"
    val dir = s"$wh/t.parquet"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    spark.read.parquet(s"$sfDir/nation.parquet").repartition(2).write.parquet(dir)
    val cat = new graft.sources.GraftCatalog(spark, wh)
    val v1 = cat.publishSnapshot("t")
    val conf = spark.sessionState.newHadoopConf()
    // (1) a RE-publish after one append re-reads ONLY the new file's
    // footer — prior files' stats re-emit from the v1 manifest
    spark.read.parquet(s"$sfDir/nation.parquet").limit(5)
      .coalesce(1).write.mode("append").parquet(dir)
    cat.invalidate("t")
    val before = GraftV2.footerOpens.get()
    val v2 = cat.publishSnapshot("t")
    val publishOpens = GraftV2.footerOpens.get() - before
    assert(publishOpens === 1L,
      s"re-publish must only open the appended file's footer, got $publishOpens")
    // the reused lines still plan zero-footer and value-exact
    val snapDir = SnapshotManifest.dirFor(dir)
    val raw = GraftPlanStats.rawForTable(dir, conf)
    assert(raw.size === 3, s"v$v2 must record all 3 files: ${raw.keys}")
    assert(spark.read.format("graft").load(dir).count() ===
      spark.read.parquet(dir).count())
    // (2) a manifest WITH stats lines but WITHOUT the terminator is
    // torn: rawForTable ignores it (no cache), tableAsOf refuses,
    // the tail never addresses it
    val full = SnapshotManifest.read(fs, snapDir, v2).get
    assert(full.complete)
    val tornId = v2 + 1
    val out = fs.create(SnapshotManifest.file(snapDir, tornId), false)
    try out.write(SnapshotManifest.render(full.copy(complete = false))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    assert(GraftPlanStats.rawForTable(dir, conf).size === 3,
      "a torn newest manifest must fall back to the newest COMPLETE " +
        "epoch's stats, never serve the torn prefix")
    val e = intercept[Exception](cat.tableAsOf("t", tornId).count())
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " || " + chain(t.getCause)
    assert(chain(e).contains("in-flight or torn"), chain(e))
    // the torn epoch is not offset-addressable by the tail
    val stream = new graft.sources.v2.GraftTableTailStream(dir,
      spark.read.parquet(dir).schema, new org.apache.spark.sql.types.StructType(),
      spark.read.parquet(dir).schema, graft.sources.v2.GraftV2.sessionConf())
    assert(stream.latestOffset().asInstanceOf[graft.sources.v2.GraftEpochOffset]
      .epoch === v2, "the tail must stop at the newest COMPLETE epoch")
    // (2b) a body cut INSIDE its first data line (the length written,
    // no tab yet) is torn too: planning falls back, the tail stays at
    // v2, tableAsOf refuses — none of them fails to parse the prefix
    fs.delete(SnapshotManifest.file(snapDir, tornId), false)
    val whole = SnapshotManifest.render(full)
    val cutAt = whole.indexOf(s"\n${full.files.head._2}\t") + 2
    val cut = fs.create(SnapshotManifest.file(snapDir, tornId), false)
    try cut.write(whole.take(cutAt).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally cut.close()
    assert(GraftPlanStats.rawForTable(dir, conf).size === 3,
      "a body cut inside a data line must fall back to v2's stats")
    assert(stream.latestOffset().asInstanceOf[graft.sources.v2.GraftEpochOffset]
      .epoch === v2, "the tail must not address a body cut inside a line")
    val eCut = intercept[Exception](cat.tableAsOf("t", tornId).count())
    assert(chain(eCut).contains("in-flight or torn"), chain(eCut))
    // (3) a LEGACY body — written before stats lines and the terminator
    // existed, so it carries neither — is whole and still reads
    fs.delete(SnapshotManifest.file(snapDir, tornId), false)
    val legacyId = tornId + 1
    val legacy = fs.create(SnapshotManifest.file(snapDir, legacyId), false)
    try legacy.write(SnapshotManifest.render(full.copy(publishedAt = None,
        statsLines = Nil, complete = false))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally legacy.close()
    assert(cat.tableAsOf("t", legacyId).count() === cat.tableAsOf("t", v2).count())
    // cleanup: drop the legacy manifest so later reads of this scratch
    // table (none today) see a clean log
    fs.delete(SnapshotManifest.file(snapDir, legacyId), false)
    assert(v1 >= 1L)
  }

  test("decimal equality keys canonicalize scale-insensitively; null partition values never match an eq key") {
    import spark.implicits._
    import graft.sources.GraftMor
    val wh = graft.sources.GraftSink.scratchDir + "/eq_edge_wh"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    // (1) decimal key written at scale 2; the erase batch arrives at
    // scale 3 (an upstream cast drift) — BigDecimal.equals is
    // scale-sensitive, so without stripTrailingZeros the mask would
    // silently MISS (a GDPR erase that doesn't erase). Both read
    // paths must mask, and agree.
    val dtbl = s"$wh/db/t_dec.parquet"
    Seq(("1.10", 10L), ("2.20", 20L), ("3.30", 30L)).toDF("ks", "v")
      .select(col("ks").cast("decimal(12,2)").as("k"), col("v"))
      .coalesce(1).write.parquet(dtbl)
    GraftMor.morErase(spark, dtbl,
      Seq("1.10").toDF("ks").select(col("ks").cast("decimal(12,3)").as("k")),
      Seq("k"))
    def decServed(columnar: Boolean): Set[Long] = {
      spark.conf.set("spark.graft.columnar.enabled", columnar.toString)
      try spark.read.format("graft").load(dtbl)
        .select("v").collect().map(_.getLong(0)).toSet
      finally spark.conf.unset("spark.graft.columnar.enabled")
    }
    assert(decServed(columnar = true) === Set(20L, 30L),
      "columnar path: the scale-drifted erase must still mask k=1.10")
    assert(decServed(columnar = false) === Set(20L, 30L),
      "row path: the scale-drifted erase must still mask k=1.10")
    // (2) an eq key riding a PARTITION column, with one null-partition
    // directory: the null value is a never-matching key (sidecar keys
    // are non-null by contract) — the query must SERVE, not fail
    val ptbl = s"$wh/db/t_part.parquet"
    Seq((java.lang.Long.valueOf(1L), 10L), (java.lang.Long.valueOf(2L), 20L),
        (null.asInstanceOf[java.lang.Long], 30L))
      .toDF("pk", "v").write.partitionBy("pk").parquet(ptbl)
    GraftMor.morErase(spark, ptbl, Seq(1L).toDF("pk"), Seq("pk"))
    def partServed(columnar: Boolean): Set[Long] = {
      spark.conf.set("spark.graft.columnar.enabled", columnar.toString)
      try spark.read.format("graft").load(ptbl)
        .select("v").collect().map(_.getLong(0)).toSet
      finally spark.conf.unset("spark.graft.columnar.enabled")
    }
    assert(partServed(columnar = true) === Set(20L, 30L),
      "columnar: erased partition key masked, null partition SERVES")
    assert(partServed(columnar = false) === Set(20L, 30L),
      "row path: erased partition key masked, null partition SERVES")
  }

  test("published tables plan with ZERO footer opens; manifest stats match the footer path exactly") {
    import graft.sources.v2.GraftScan
    import org.apache.spark.sql.sources.{Filter, GreaterThan}
    import org.apache.spark.sql.types._
    val wh = graft.sources.GraftSink.scratchDir + "/planstats_wh"
    val dir = s"$wh/t.parquet"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    // several files × several row groups, sorted so bounds prune
    spark.read.parquet(s"$sfDir/orders.parquet")
      .orderBy("o_orderkey").repartitionByRange(3, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.option("parquet.block.size", "65536").parquet(dir)
    val conf = spark.sessionState.newHadoopConf()
    val files = GraftV2.dataFiles(dir, conf)
    val schema = spark.read.parquet(dir).schema
    def splits(scan: GraftScan) = scan.planInputPartitions().map {
      case p: graft.sources.v2.GraftInputPartition =>
        (p.path, p.rowGroup, p.rowGroupStart, p.rgOffset, p.rgLength)
    }.toSeq.sorted
    def stat(scan: GraftScan) = {
      val s = scan.estimateStatistics()
      (s.sizeInBytes.getAsLong, s.numRows.getAsLong)
    }
    val filters: Array[Filter] = Array(
      GreaterThan("o_totalprice", 150000.0),
      GreaterThan("o_orderkey", 900L),
      LessThan("o_orderpriority", "3-MEDIUM"))
    def mk(fl: Array[Filter]) = GraftScan(dir, schema, fl,
      pinnedFiles = files, tableSchema = schema)
    // the footer path: the same files, planned before any publish
    val footerAll = splits(mk(Array.empty))
    val footerPruned = splits(mk(filters))
    val footerStat = stat(mk(filters))
    val epoch = new graft.sources.GraftCatalog(spark, wh).publishSnapshot("t")
    assert(epoch >= 1L)
    // THE contract: planning + stats of a published table opens no
    // footer — splits come from the manifest's recorded #rg lines
    val before = GraftV2.footerOpens.get()
    val recordedAll = splits(mk(Array.empty))
    val recordedPruned = splits(mk(filters))
    val recordedStat = stat(mk(filters))
    assert(GraftV2.footerOpens.get() === before,
      "planning a published table must open ZERO parquet footers")
    assert(recordedPruned.nonEmpty && recordedPruned.size < recordedAll.size,
      s"filters must prune recorded row groups: ${recordedPruned.size} of ${recordedAll.size}")
    // parity: the footer path plans IDENTICAL splits and identical
    // statistics — one pruning rule, two stats sources
    assert(footerAll === recordedAll)
    assert(footerPruned === recordedPruned)
    assert(footerStat === recordedStat)
    // values through the full read path stay exact
    val got = spark.read.format("graft").load(dir)
      .where(col("o_totalprice") > 150000.0)
      .agg(count(lit(1)), sum("o_orderkey")).head()
    val exp = spark.read.parquet(dir)
      .where(col("o_totalprice") > 150000.0)
      .agg(count(lit(1)), sum("o_orderkey")).head()
    assert(got === exp)
    // a file appended AFTER the publish falls back to the bounded
    // parallel footer pool — its footer (and only its) is opened
    spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("o_orderkey"),
        col("c_custkey").cast("long").as("o_custkey"),
        lit("O").as("o_orderstatus"),
        col("c_acctbal").as("o_totalprice"),
        lit(java.sql.Date.valueOf("2026-01-01")).as("o_orderdate"),
        lit("1-URGENT").as("o_orderpriority"),
        lit("x").as("o_clerk"), lit(0).as("o_shippriority"),
        lit("y").as("o_comment"))
      .coalesce(1).write.mode("append").parquet(dir)
    val files2 = GraftV2.dataFiles(dir, conf)
    assert(files2.size === files.size + 1)
    val before2 = GraftV2.footerOpens.get()
    val mixed = splits(GraftScan(dir, schema, Array.empty,
      pinnedFiles = files2, tableSchema = schema))
    val opened = GraftV2.footerOpens.get() - before2
    assert(opened === 1L,
      s"only the appended (unpublished) file's footer may open, got $opened")
    assert(mixed.size > recordedAll.size, "the appended file must plan splits")
  }
}
